"""k-core decomposition (graph.k_core): python-model equality and the
peeling/termination edge cases."""

from __future__ import annotations

import pytest

from yelp_business_data_pipeline_spark.operators.graph import k_core


def _model(edges, k):
    und = {(max(s, d), min(s, d)) for s, d in edges if s != d}
    while True:
        deg = {}
        for a, b in und:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        drop = {v for v, d in deg.items() if d < k}
        if not drop:
            return deg  # (id -> degree within the core)
        und = {(a, b) for a, b in und if a not in drop and b not in drop}
        if not und:
            return {}


def _run(spark, edges, k, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.id: r.degree for r in k_core(df, k, **kw).collect()}


def test_triangle_with_tendril(spark):
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    assert _run(spark, edges, 2) == {1: 2, 2: 2, 3: 2}  # tendril peels off
    assert _run(spark, edges, 3) == {}


def test_chain_has_no_2core(spark):
    edges = [(i, i + 1) for i in range(6)]
    assert _run(spark, edges, 2) == {}
    # k=1: every non-isolated vertex survives with its degree
    assert _run(spark, edges, 1) == _model(edges, 1)


def test_clique_survives_any_k_below_size(spark):
    import itertools

    edges = list(itertools.combinations(range(5), 2))
    assert _run(spark, edges, 4) == {i: 4 for i in range(5)}
    assert _run(spark, edges, 5) == {}


def test_random_graphs_match_model(spark):
    import random

    rng = random.Random(3)
    edges = [(rng.randrange(20), rng.randrange(20)) for _ in range(60)]
    for k in (1, 2, 3, 4):
        assert _run(spark, edges, k) == _model(edges, k)


def test_local_finish_matches_distributed_peel(spark, monkeypatch):
    # the driver-side finish replaces the distributed tail with one
    # bounded collect — results must be IDENTICAL (the k-core is unique)
    # whether the finish kicks in at round 0 (default bound),
    # mid-cascade, or never (bound 0). stats pins which path ran.
    import random

    from yelp_business_data_pipeline_spark.operators import iterutil

    bound = iterutil._LOCAL_FINISH_EDGES
    rng = random.Random(7)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(70)]
    for k in (2, 3):
        s_local, s_mid, s_dist = {}, {}, {}
        monkeypatch.setattr(iterutil, "_LOCAL_FINISH_EDGES", bound)
        local = _run(spark, edges, k, stats=s_local)
        # 56 edges; the first round leaves 54 (k=2) or 50 (k=3), so a
        # bound of 55 finishes after exactly one distributed round
        monkeypatch.setattr(iterutil, "_LOCAL_FINISH_EDGES", 55)
        mid = _run(spark, edges, k, stats=s_mid)
        monkeypatch.setattr(iterutil, "_LOCAL_FINISH_EDGES", 0)
        dist = _run(spark, edges, k, stats=s_dist)
        assert local == mid == dist == _model(edges, k)
        assert s_local["local_finish"] and s_local["rounds"] == 0
        assert s_mid["local_finish"] and s_mid["rounds"] == 1
        assert not s_dist["local_finish"]
    # string ids survive the Arrow round-trip
    monkeypatch.setattr(iterutil, "_LOCAL_FINISH_EDGES", bound)
    sdf = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], "src string, dst string"
    )
    got = {r.id: r.degree for r in k_core(sdf, 2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


@pytest.mark.usefixtures("distributed_rounds")
def test_deep_peeling_and_max_iter(spark):
    # a path peels one layer per round from both ends under k=2: a short
    # max_iter must fail loudly, a sufficient one returns empty. The
    # max_iter contract governs DISTRIBUTED rounds, so the local finish
    # is disabled here.
    edges = [(i, i + 1) for i in range(12)]
    with pytest.raises(RuntimeError, match="stabilize"):
        _run(spark, edges, 2, max_iter=2)
    assert _run(spark, edges, 2, max_iter=12) == {}


def test_invalid_k(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="k must be >= 1"):
        k_core(df, 0)


def test_empty_core_preserves_input_id_type(spark):
    # Regression: the empty-core branch hard-coded 'id long'; it must
    # carry the INPUT id type so unions across k values never clash.
    df = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    empty = k_core(df, 2)
    assert empty.count() == 0
    assert dict(empty.dtypes) == {"id": "string", "degree": "bigint"}
    full = k_core(spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"), 2)
    assert empty.unionAll(full).count() == 3  # schema-compatible union


@pytest.mark.usefixtures("partitioned_regime")
def test_partition_edges_regime_matches_default(spark, monkeypatch):
    """The Pregel regime (symmetric frame, retained x-placement) is
    physical only — cores and in-core degrees must be identical to the
    default regime and the python model, across local-finish bounds."""
    import random

    from yelp_business_data_pipeline_spark.operators import iterutil

    rng = random.Random(11)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(70)]
    for k in (2, 3):
        # 63 edges: k=2 peels none, k=3 leaves 61 after its first round,
        # so a bound of 62 finishes mid-cascade for k=3 only
        for bound in (0, 62):
            monkeypatch.setattr(iterutil, "_LOCAL_FINISH_EDGES", bound)
            s = {}
            got = _run(spark, edges, k, stats=s)
            assert got == _model(edges, k), (k, bound)
            assert s["partitioned_edges"] is True
            assert s["local_finish"] is (bound > 0 and k == 3), (k, bound)
        # distributed-only path must really have peeled rounds
        monkeypatch.setattr(iterutil, "_LOCAL_FINISH_EDGES", 0)
        s = {}
        _run(spark, edges, 2, stats=s)
        assert s["rounds"] >= 1 and not s["local_finish"]
    # empty core + max_iter contract hold in the regime too
    chain = [(i, i + 1) for i in range(12)]
    assert _run(spark, chain, 2, max_iter=12) == {}
    with pytest.raises(RuntimeError, match="stabilize"):
        _run(spark, chain, 2, max_iter=2)
    # string ids: symmetrize + local finish round-trip (4 edges, above a
    # bound of 3 until the first round peels "d")
    monkeypatch.setattr(iterutil, "_LOCAL_FINISH_EDGES", 3)
    sdf = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], "src string, dst string"
    )
    s = {}
    got = {r.id: r.degree for r in k_core(sdf, 2, stats=s).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}
    assert s["partitioned_edges"] and s["local_finish"] and s["rounds"] == 1


@pytest.mark.usefixtures("partitioned_regime", "lazy_plans")
def test_partition_edges_requires_checkpoint(spark):
    # the Pregel layout is carried by the checkpoints: without them k_core
    # stays in the default regime even above the crossover
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    s = {}
    k_core(df, 1, stats=s).collect()
    assert s["partitioned_edges"] is False


def test_partitioned_regime_round_plan_has_no_edge_exchange(spark):
    """The Pregel regime's per-round claims, pinned at the plan level:
    over the placed symmetric frame, degree groupBy(x) and the keep-side
    semi-join add ZERO Exchange (the retained layout satisfies both), and
    the drop side enters as a broadcast — the only movement in a round is
    the per-round drop list."""
    from pyspark.sql import functions as F

    from yelp_business_data_pipeline_spark.operators.iterutil import (
        localcheckpoint_partitioned,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        e = spark.range(2000).select(
            (F.col("id") % 211).alias("a"), ((F.col("id") * 7) % 211).alias("b")
        ).filter(F.col("a") != F.col("b")).distinct()
        sym = localcheckpoint_partitioned(
            e.select(F.col("a").alias("x"), F.col("b").alias("y")).unionAll(
                e.select(F.col("b").alias("x"), F.col("a").alias("y"))
            ),
            "x",
        )
        # one operator round, exactly as _k_core_partitioned builds it
        deg = sym.groupBy("x").agg(F.count(F.lit(1)).alias("degree"))
        keep = deg.filter(F.col("degree") >= 3).select("x")
        dropped = deg.filter(F.col("degree") < 3).select(F.col("x").alias("y"))
        pruned = sym.join(keep, "x", "left_semi").join(
            F.broadcast(dropped), "y", "left_anti"
        )
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        # autoBroadcastJoinThreshold=-1 forces every NON-hinted join to
        # shuffle, so any Exchange here would be the edge frame moving —
        # the broadcast hint is the only allowed movement
        assert "Exchange hashpartitioning" not in plan, plan
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.mark.usefixtures("partitioned_regime", "distributed_rounds")
def test_bulk_peel_broadcast_gate_falls_back_and_stays_exact(spark, monkeypatch):
    """A bulk round whose dropped-vertex set exceeds the broadcast bound
    must fall back to AQE sizing (counted in stats) and still produce
    bit-identical cores — the gate is physical only. Bound forced to 0
    so EVERY peel round takes the unbroadcast branch."""
    import random

    from yelp_business_data_pipeline_spark.operators import graph as G

    monkeypatch.setattr(G, "_KCORE_BROADCAST_DROP_MAX", 0)
    rng = random.Random(23)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(90)]
    s = {}
    got = _run(spark, edges, 3, stats=s)
    assert got == _model(edges, 3)
    # every round that actually drops vertices takes the unbroadcast
    # branch (the final stabilizing round drops none, so 0 <= bound)
    assert s["rounds"] >= 1
    assert 1 <= s.get("unbroadcast_rounds", 0) <= s["rounds"]
    # with the real bound, small graphs never pay the drop-side count
    s2 = {}
    monkeypatch.setattr(G, "_KCORE_BROADCAST_DROP_MAX", 5_000_000)
    got2 = _run(spark, edges, 3, stats=s2)
    assert got2 == got and "unbroadcast_rounds" not in s2
