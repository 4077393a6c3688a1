"""Market-basket co-occurrence (operators/basket.py): python-model
equality, dedup/NULL semantics, the max_basket loud-degradation guard,
and the no-self-join plan shape."""

from __future__ import annotations

import itertools
from collections import Counter

import pytest
from pyspark.sql import functions as F

from yelp_business_data_pipeline_spark.operators.basket import item_cooccurrence


def _model(rows, min_pairs=1):
    """Independent python recomputation of item_cooccurrence."""
    baskets = {}
    for b, i in rows:
        if b is None or i is None:
            continue
        baskets.setdefault(b, set()).add(i)
    n_baskets = len(baskets)
    item_n = Counter(i for items in baskets.values() for i in items)
    pair_n = Counter()
    for items in baskets.values():
        for a, b in itertools.combinations(sorted(items), 2):
            pair_n[(a, b)] += 1
    out = {}
    for (a, b), n in pair_n.items():
        if n < min_pairs:
            continue
        out[(a, b)] = (
            n,
            round(n / n_baskets, 6),
            round(n * n_baskets / (item_n[a] * item_n[b]), 6),
        )
    return out


def _rows(df):
    return {
        (r.item_a, r.item_b): (r.n_pairs, r.support, r.lift) for r in df.collect()
    }


def test_matches_python_model(spark):
    rows = [
        (1, 10), (1, 20), (1, 30),
        (2, 10), (2, 20),
        (3, 10), (3, 20), (3, 20),  # dup (basket, item) counts once
        (4, 40),                     # singleton basket: no pairs, counts in denom
        (None, 10), (5, None),       # NULLs dropped entirely
    ]
    df = spark.createDataFrame(rows, "basket long, item long")
    got = _rows(item_cooccurrence(df, "basket", "item"))
    # basket 5 vanishes (its only row has a NULL item) -> n_baskets = 4
    want = _model(rows)
    assert got == want
    assert got[(10, 20)][0] == 3
    assert got[(10, 20)][1] == round(3 / 4, 6)


def test_min_pairs_prunes(spark):
    rows = [(1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (3, 3)]
    df = spark.createDataFrame(rows, "basket long, item long")
    got = _rows(item_cooccurrence(df, "basket", "item", min_pairs=2))
    assert set(got) == {(1, 2)}
    assert got == _model(rows, min_pairs=2)


def test_random_baskets_model_equality(spark):
    import random

    rng = random.Random(42)
    rows = [
        (rng.randrange(30), rng.randrange(12))
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "basket long, item long")
    assert _rows(item_cooccurrence(df, "basket", "item")) == _model(rows)


def test_string_items(spark):
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (2, "c")]
    df = spark.createDataFrame(rows, "basket long, item string")
    got = _rows(item_cooccurrence(df, "basket", "item"))
    assert got[("a", "b")][0] == 2
    assert got == _model(rows)


def test_max_basket_guard_raises(spark):
    rows = [(1, i) for i in range(40)] + [(2, 1), (2, 2)]
    df = spark.createDataFrame(rows, "basket long, item long")
    with pytest.raises(Exception, match="max_bucket"):
        item_cooccurrence(df, "basket", "item", max_basket=8).collect()
    # under the cap it works
    assert item_cooccurrence(df, "basket", "item", max_basket=64).count() > 0


@pytest.mark.usefixtures("lazy_plans")
def test_plan_has_no_self_join_and_only_scalar_crossjoin(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # lineage cuts off: the pure-lazy composition, inspectable end to end.
    lazy = item_cooccurrence(li, "l_orderkey", "l_partkey", min_pairs=2, max_basket=64)
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    # pair expansion is HOF-local: no cartesian anywhere; the only
    # broadcast-nested-loop join is the 1-row n_baskets scalar.
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_checkpoint_path_scans_raw_table_once(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = item_cooccurrence(li, "l_orderkey", "l_partkey", min_pairs=2, max_basket=64)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # every statistic branch reads the ONE checkpointed basket collapse:
    # zero parquet re-scans survive in the executed plan.
    assert plan.count("FileScan parquet") == 0
    assert plan.count("ExistingRDD") >= 3
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_registered_query_consistent_with_operator(spark, sf_dir):
    from yelp_business_data_pipeline_spark.plans import QUERIES

    got = _rows(QUERIES["item_cooccurrence_pairs"].spark(spark, sf_dir))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rows = [(r.l_orderkey, r.l_partkey) for r in li.select("l_orderkey", "l_partkey").collect()]
    assert got == _model(rows, min_pairs=2)
