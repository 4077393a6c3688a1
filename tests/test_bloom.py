"""Distributed Bloom filter (operators/bloom.py): the no-false-negative
construction guarantee, EXACT merge closure (bit equality, the KMV
precedent), observed-vs-designed FPR, layout invariance, parameter
guards, the exact DuckDB twin (BLOOM_MEMBERSHIP_ORACLE — rotation
queue) and JVM-only plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yelp_business_data_pipeline_spark.operators.bloom import (
    bloom_may_contain,
    bloom_params,
    build_bloom,
    merge_blooms,
)


def _keys(spark, lo, hi, prefix="key:"):
    return spark.range(lo, hi).select(
        F.concat(F.lit(prefix), F.col("id")).alias("v")
    )


def test_bloom_params_formulas():
    m, k = bloom_params(1000, 0.01)
    # textbook optimum: ~9.59 bits/key, ~7 hashes at 1%
    assert 9000 <= m <= 10100 and k == 7
    m2, k2 = bloom_params(1000, 0.5)
    assert m2 < m and k2 == 1  # floor at 1 hash
    with pytest.raises(ValueError):
        bloom_params(0, 0.01)
    with pytest.raises(ValueError):
        bloom_params(100, 1.5)


@pytest.mark.parametrize("impl", ["md5", "xxhash64"])
def test_no_false_negatives(spark, impl):
    """THE Bloom guarantee: every inserted key probes true — exact, not
    statistical, for both hash implementations."""
    m, k = bloom_params(500, 0.01)
    a = _keys(spark, 0, 500)
    bl = build_bloom(a, "v", m, k, impl=impl)
    ann = bloom_may_contain(a, bl, "v", m, k, impl=impl)
    assert ann.filter(~F.col("may_contain")).count() == 0


def test_observed_fpr_near_design(spark):
    """Non-members flag at roughly the sized rate (1% design; allow 3x
    slack — the draw is deterministic, this is a one-shot sample)."""
    m, k = bloom_params(1000, 0.01)
    bl = build_bloom(_keys(spark, 0, 1000), "v", m, k)
    probes = _keys(spark, 1_000_000, 1_003_000)  # disjoint by construction
    fp = bloom_may_contain(probes, bl, "v", m, k).filter("may_contain").count()
    assert fp / 3000 < 0.03


@pytest.mark.parametrize("impl", ["md5", "xxhash64"])
def test_merge_closure_is_exact(spark, impl):
    """merge(build(A), build(B), build(C)) == build(A u B u C) as EXACT
    word-table equality — with overlapping parts, so the idempotence of
    bit_or is part of what's pinned."""
    m, k = bloom_params(600, 0.02)
    a = _keys(spark, 0, 300)
    b = _keys(spark, 200, 500)  # overlaps a
    c = _keys(spark, 450, 600)  # overlaps b
    merged = merge_blooms(
        [build_bloom(x, "v", m, k, impl=impl) for x in (a, b, c)], m, k
    )
    direct = build_bloom(
        a.unionByName(b).unionByName(c), "v", m, k, impl=impl
    )
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_layout_invariance(spark):
    """The word table is a pure function of the key SET — partitioning
    of the input must not change a bit."""
    m, k = bloom_params(400, 0.01)
    a = _keys(spark, 0, 400)
    t1 = build_bloom(a.repartition(7), "v", m, k)
    t2 = build_bloom(a.coalesce(1), "v", m, k)
    assert t1.exceptAll(t2).count() == 0
    assert t2.exceptAll(t1).count() == 0


def test_parameter_guards(spark):
    m, k = bloom_params(100, 0.01)
    a = _keys(spark, 0, 100)
    bl = build_bloom(a, "v", m, k)
    # merge with different params raises in-plan
    with pytest.raises(Exception, match="merge_blooms"):
        merge_blooms([bl], m, k + 1).collect()
    # probe with different params raises in-plan
    with pytest.raises(Exception, match="bloom_may_contain"):
        bloom_may_contain(a, bl, "v", m + 63, k).collect()
    # driver-side validation
    with pytest.raises(ValueError):
        build_bloom(a, "v", 0, k)
    with pytest.raises(ValueError):
        build_bloom(a, "v", m, 65)
    with pytest.raises(ValueError, match="already exists"):
        bloom_may_contain(a.withColumn("may_contain", F.lit(True)), bl, "v", m, k)


def test_null_keys_ignored_and_probe_false(spark):
    """NULLs have no identity: never inserted, and a NULL probe is
    definitely-novel (false), matching the frontier contract."""
    m, k = bloom_params(10, 0.01)
    a = spark.createDataFrame(
        [("x",), (None,), ("y",)], "v string"
    )
    bl = build_bloom(a, "v", m, k)
    bl_nonull = build_bloom(a.filter("v is not null"), "v", m, k)
    assert bl.exceptAll(bl_nonull).count() == 0
    assert bl_nonull.exceptAll(bl).count() == 0
    rows = {
        r["v"]: r["may_contain"]
        for r in bloom_may_contain(a, bl, "v", m, k).collect()
    }
    assert rows["x"] and rows["y"] and rows[None] is False


def test_probe_is_jvm_only_and_broadcast(spark):
    """No Python evaluation anywhere in build or probe, and the default
    probe joins the word table broadcast (the <= ceil(m/63)-row side)."""
    m, k = bloom_params(200, 0.01)
    a = _keys(spark, 0, 200)
    bl = build_bloom(a, "v", m, k)
    plan = (
        bloom_may_contain(a, bl, "v", m, k)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "BroadcastHashJoin" in plan


def test_panel_matches_duckdb_twin_exactly(spark, sf_dir):
    from tests.oracle_harness import duck_con
    from yelp_business_data_pipeline_spark.plans import QUERIES
    from yelp_business_data_pipeline_spark.plans.extensions import (
        BLOOM_MEMBERSHIP_ORACLE,
    )

    sdf = QUERIES["bloom_membership_panel"].spark(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    drows = [
        tuple(r)
        for r in duck_con(sf_dir).execute(BLOOM_MEMBERSHIP_ORACLE).fetchall()
    ]
    assert srows == drows
    # the no-false-negative guarantee shows up in the panel itself:
    # no (is_member=true, may_contain=false) confusion cell, ever
    assert not any(
        r[0] == "confusion" and r[1] is True and r[2] is False for r in srows
    )


def test_registry_gate_layout():
    """Promoted into the 50-slot gate in the r10 rotation: the panel must
    sit in the driver-executed prefix WITH its exact twin attached."""
    from yelp_business_data_pipeline_spark.plans import QUERIES
    from yelp_business_data_pipeline_spark.plans.extensions import (
        BLOOM_MEMBERSHIP_ORACLE,
    )

    names = list(QUERIES)
    assert names.index("bloom_membership_panel") < 50
    assert QUERIES["bloom_membership_panel"].oracle == BLOOM_MEMBERSHIP_ORACLE

