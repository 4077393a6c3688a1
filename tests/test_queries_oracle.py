"""Every registered query must match its DuckDB oracle at sf0.001 (the
driver's gate runs the same comparison at sf0.01)."""

from __future__ import annotations

import json

import pytest

from yelp_business_data_pipeline_spark.plans import QUERIES

from . import plan_digest
from .oracle_harness import compare_frame


@pytest.fixture(scope="module")
def digest_entries():
    return plan_digest.load()


@pytest.fixture(scope="module", autouse=True)
def _nothing_cached(spark):
    """Earlier modules leave frames cached (``test_pq`` caches the
    normalized query and corpus vectors), and the planner reads a cached
    subtree wherever a query contains it: ``pq_ann_topk`` then plans
    three InMemoryTableScans instead of three FileScans. The digest
    describes each query in a session with nothing cached."""
    spark.catalog.clearCache()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, digest_entries):
    """The rows match the oracle, and the plan matches its PLAN_DIGEST.json
    entry (tests/plan_digest.py): the digest is read off the same frame,
    before the collect, so no query is built twice.

    The digest pins joins by kind, shuffle and file-scan counts, Python
    evaluation and checkpoint or cache reads. It does not catch a dropped
    broadcast hint: every dimension table at sf0.001 is under the
    auto-broadcast threshold, so the join broadcasts with or without it."""
    sdf = QUERIES[name].spark(spark, sf_dir)
    got = plan_digest.digest(sdf)
    ok, msg = compare_frame(name, sdf, sf_dir)
    assert ok, f"{name}: {msg}"
    assert got == digest_entries.get(name), (
        f"{name}: plan digest changed; new PLAN_DIGEST.json entry "
        f"(or regenerate with python -m tests.plan_digest):\n"
        f"{json.dumps(name)}: {json.dumps(got)}"
    )


def test_plan_digest_covers_registry(digest_entries):
    """One PLAN_DIGEST.json entry per registered query, none stale."""
    assert sorted(digest_entries) == sorted(QUERIES)


from yelp_business_data_pipeline_spark.plans.registry import DEMOTED_ORACLES


@pytest.mark.parametrize(
    "name,const",
    [
        # tfidf_top_terms / sessionize_events left this list in r10,
        # setops_customer_cohorts / approx_aggregates in r11, and
        # weighted_sample_orders / sentiment_by_source /
        # item_cooccurrence_pairs in r12: freshness re-promotions put
        # them BACK in the gate (their twins are driver-executed again,
        # and test_query_matches_oracle covers them like every gated
        # row). The explicit list is now empty — every current demotion
        # went through swap_gate_slot and auto-pins below.
    ]
    # r10+ demotions happen at runtime via registry.swap_gate_slot, which
    # stashes the outgoing twin — every future demotion is pinned here
    # AUTOMATICALLY, no manual list edit to forget
    + [(n, None) for n in sorted(DEMOTED_ORACLES)],
)
def test_demoted_twins_still_match(name, const, spark, sf_dir):
    """The r8/r9/r10 gate rotations demoted these to rows-only trackers; their
    exact DuckDB twins survive (as module constants for the source-level
    demotions, in registry.DEMOTED_ORACLES for swap_gate_slot ones) and
    this pin is the pytest half of the rotation contract (COVERAGE.md
    'Oracle-gate rotation'): the exactness check never lapses while a
    query is out of the gate."""
    import yelp_business_data_pipeline_spark.plans.core as core_mod
    import yelp_business_data_pipeline_spark.plans.extensions as ext_mod

    from .oracle_harness import _norm_rows, duck_con

    if const is None:
        sql = DEMOTED_ORACLES[name]
    else:
        sql = getattr(ext_mod, const, None) or getattr(core_mod, const)
    spec = QUERIES[name]
    assert spec.oracle is None  # it IS demoted — else this pin is stale
    sdf = spec.spark(spark, sf_dir)
    s_cols = list(sdf.columns)
    s_rows = [tuple(r) for r in sdf.collect()]
    cur = duck_con(sf_dir).execute(sql)
    d_cols = [c[0] for c in cur.description]
    d_rows = cur.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows) and len(s_rows) > 0
    s_order = [s_cols.index(c) for c in sorted(s_cols)]
    d_order = [d_cols.index(c) for c in sorted(d_cols)]
    assert _norm_rows(s_rows, s_order) == _norm_rows(d_rows, d_order)


def test_approx_aggregates_accuracy(spark, sf_dir):
    """Tighter pins than the query's in-plan tolerance predicates:
    approx_count_distinct within 5% of exact; approx median within 2% —
    computed here directly so the raw sketch values stay covered even
    though the registered query emits tolerance booleans."""
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rows = {
        r.o_orderpriority: r
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
            F.percentile_approx("o_totalprice", 0.5, 10000).alias("approx_median"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.expr("percentile(o_totalprice, 0.5)").alias("median"),
        )
        .collect()
    }
    for a in rows.values():
        assert abs(a.approx_customers - a.n_customers) / a.n_customers <= 0.05
        assert abs(a.approx_median - a.median) / a.median <= 0.02
    # And the registered query's tolerance predicates must all hold.
    for r in QUERIES["approx_aggregates"].spark(spark, sf_dir).collect():
        assert r.hll_within_5pct and r.tdigest_in_p40_p60, r


def test_oracle_schema_types_align(spark, sf_dir):
    """Spark result dtypes must match DuckDB's exactly (the driver compares
    schema, and e.g. row_number is int32 in Spark but BIGINT in DuckDB —
    queries must cast one side)."""
    from .oracle_harness import duck_con

    spark_map = {"int": "i32", "bigint": "i64", "smallint": "i16", "double": "f64",
                 "float": "f32", "string": "str", "date": "date", "boolean": "bool"}
    duck_map = {"INTEGER": "i32", "BIGINT": "i64", "SMALLINT": "i16", "DOUBLE": "f64",
                "FLOAT": "f32", "VARCHAR": "str", "DATE": "date", "BOOLEAN": "bool"}
    con = duck_con(sf_dir)
    problems = {}
    for name in sorted(QUERIES):
        spec = QUERIES[name]
        if spec.oracle is None:
            continue
        stypes = {c: spark_map.get(t, t) for c, t in spec.spark(spark, sf_dir).dtypes}
        rel = con.sql(spec.oracle)
        dtypes = dict(zip(rel.columns, [duck_map.get(str(t), str(t)) for t in rel.types]))
        diffs = {c: (stypes.get(c), dtypes.get(c))
                 for c in set(stypes) | set(dtypes) if stypes.get(c) != dtypes.get(c)}
        if diffs:
            problems[name] = diffs
    assert not problems, problems


def test_documented_counts_match_registry():
    """COVERAGE.md's driver-contract summary must track the registry."""
    import re

    n_total = len(QUERIES)
    n_oracle = sum(1 for s in QUERIES.values() if s.oracle is not None)
    text = open("/root/repo/COVERAGE.md").read()
    m = re.search(r"(\d+) registered queries: (\d+) with exact DuckDB oracles", text)
    assert m, "COVERAGE.md summary line missing"
    assert (int(m.group(1)), int(m.group(2))) == (n_total, n_oracle), (
        f"COVERAGE.md says {m.groups()}, registry has ({n_total}, {n_oracle})"
    )


def test_null_profile_operator_equals_quality_profile_total_row(spark, sf_dir):
    """The docstring claim: the standalone null_profile operator must equal
    data_quality_profile's ROLLUP grand-total row, column for column."""
    from pyspark.sql import functions as F

    from yelp_business_data_pipeline_spark.operators.cleaning import null_profile

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority"]
    op = null_profile(o, cols).collect()[0]
    total = (
        QUERIES["data_quality_profile"].spark(spark, sf_dir)
        .filter(F.col("is_total") == 1)  # grouping(), NOT isNull: a genuine
        # NULL-status group would also have o_orderstatus NULL
        .collect()
    )
    assert len(total) == 1
    row = total[0]
    for c in cols:
        assert op[c] == row[f"null_{c.removeprefix('o_')}"], c


def test_oracle_slot_layout_invariant():
    """The driver's CORRECTNESS gate records the FIRST 50 registry
    entries; an oracle-backed query registered after slot 50 would
    silently lose its gate (no error — it just runs rows-only). Pin the
    layout: the first 50 entries are exactly the oracle-backed set and
    everything after is rows-only by design."""
    names = list(QUERIES)
    flags = [QUERIES[n].oracle is not None for n in names]
    assert all(flags[:50]), [n for n, f in zip(names[:50], flags[:50]) if not f]
    assert not any(flags[50:]), [n for n, f in zip(names[50:], flags[50:]) if f]
    assert sum(flags) == 50


def test_decimal_to_double_varchar_route_is_correctly_rounded():
    """The determinism rule behind every money-sum oracle (plans/__init__
    'Money/double sums'): DuckDB's DIRECT decimal->double cast divides
    the scaled integer by 10^scale in double arithmetic — two roundings,
    off by one ulp for some values (found by the round-5 sf1 parity
    sweep at ~6e10: 60524164923.212700 came back one ulp high). The
    VARCHAR hop is correctly rounded and matches Spark's (correctly
    rounded) decimal->double cast bit-for-bit. Pin the hop's exactness
    on the concrete value that exposed the bug."""
    from decimal import Decimal

    import duckdb

    for s in ("60524164923.212700", "60050209281.870900", "0.100000", "1e12"):
        want = float(Decimal(s))
        got = duckdb.sql(
            f"SELECT CAST(CAST(CAST('{s}' AS DECIMAL(28,6)) AS VARCHAR) AS DOUBLE)"
        ).fetchone()[0]
        assert got == want, (s, got.hex(), want.hex())
    # the direct cast's one-ulp miss (the reason the hop exists); if a
    # future DuckDB fixes it this assert starts failing — the hop then
    # becomes optional, not wrong
    direct = duckdb.sql(
        "SELECT CAST(CAST('60524164923.212700' AS DECIMAL(28,6)) AS DOUBLE)"
    ).fetchone()[0]
    assert direct != float(Decimal("60524164923.212700"))


def test_swap_gate_slot_loud_failures():
    """The rotation helper must refuse every misuse loudly — a silent
    no-op would quietly un-gate an oracle (the failure mode the layout
    invariant exists to catch). Run against a scratch copy of the
    registry state so the real layout is untouched."""
    import copy

    from yelp_business_data_pipeline_spark.plans import registry as reg

    saved_q = dict(reg.QUERIES)
    saved_d = dict(reg.DEMOTED_ORACLES)
    try:
        names = list(reg.QUERIES)
        gated, tracker = names[0], names[60]
        with pytest.raises(KeyError, match="unknown query"):
            reg.swap_gate_slot("nope", "SELECT 1", gated)
        with pytest.raises(ValueError, match="not in the gate prefix"):
            reg.swap_gate_slot(tracker, "SELECT 1", names[60])
        with pytest.raises(ValueError, match="already gated"):
            reg.swap_gate_slot(gated, "SELECT 1", names[1])
        with pytest.raises(ValueError, match="non-empty twin"):
            reg.swap_gate_slot(tracker, "", gated)
        # and a VALID swap preserves the layout invariant + stashes the twin
        old_oracle = reg.QUERIES[gated].oracle
        reg.swap_gate_slot(tracker, "SELECT 1 AS x", gated)
        names2 = list(reg.QUERIES)
        flags = [reg.QUERIES[n].oracle is not None for n in names2]
        assert all(flags[:50]) and not any(flags[50:])
        assert names2.index(tracker) < 50 and names2.index(gated) == len(names2) - 1
        assert reg.DEMOTED_ORACLES[gated] == old_oracle
        # (the "no oracle to demote" guard is defense-in-depth for a
        # corrupted layout — unreachable while the prefix invariant
        # holds, so not constructible here without breaking the state)
    finally:
        reg.QUERIES.clear()
        reg.QUERIES.update(saved_q)
        reg.DEMOTED_ORACLES.clear()
        reg.DEMOTED_ORACLES.update(saved_d)
