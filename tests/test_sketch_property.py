"""Hypothesis property sweeps for the round-5 additions: Misra-Gries
containment bounds and two-phase CC equivalence hold for ARBITRARY
inputs and partition layouts, not just the hand-built cases."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st


def _exact_counts(items):
    out: dict = {}
    for it in items:
        out[it] = out.get(it, 0) + 1
    return out


@settings(max_examples=12, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=25), min_size=1, max_size=300),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=5),
)
def test_mg_bounds_contain_exact_for_any_input(spark, items, m, n_parts):
    """For EVERY capacity, layout, and item multiset: stored <= true <=
    stored + mg_err for present items, true <= mg_err for absent ones,
    and n_rows is exact."""
    from yelp_business_data_pipeline_spark.operators.sketches import (
        frequent_items_from_sketch,
        grouped_frequent_sketches,
    )

    exact = _exact_counts(items)
    df = spark.createDataFrame([(i,) for i in items], "item long").repartition(n_parts)
    sk = grouped_frequent_sketches(df, [], "item", m=m)
    row = sk.collect()[0]
    assert row.n_rows == len(items)
    got = {r.item: r for r in frequent_items_from_sketch(sk).collect()}
    for it, r in got.items():
        assert r.count_lower <= exact[it] <= r.count_upper, (it, m, n_parts)
    for it, true in exact.items():
        if it not in got:
            assert true <= row.mg_err, (it, true, row.mg_err, m, n_parts)


# distributed_rounds only sets a module constant, so sharing one instance
# across the generated examples is intended
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=60
    ),
    st.integers(min_value=1, max_value=4),
)
@pytest.mark.usefixtures("distributed_rounds")
def test_precontract_cc_equals_union_find_for_any_graph(spark, edges, n_parts):
    from yelp_business_data_pipeline_spark.operators.components import (
        connected_components,
    )

    from .test_components import _union_find_oracle

    oracle = _union_find_oracle(edges)
    df = spark.createDataFrame(edges, "doc_a long, doc_b long").repartition(n_parts)
    got = {
        r.id: r.comp
        for r in connected_components(df, algorithm="star", max_iter=60).collect()
    }
    assert got == oracle
