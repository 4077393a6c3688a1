"""Connected components + entity resolution: algorithmic properties of
the distributed rounds on known graphs (forced by the
``distributed_rounds`` fixture), the driver-side local finish against them, then the end-to-end
pipeline (blocking -> verify -> cluster -> canonical) on the customer
table against a Python union-find oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yelp_business_data_pipeline_spark.operators.components import (
    connected_components,
    resolve_entities,
)


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {r.id: r.comp for r in connected_components(df).collect()}


@pytest.mark.usefixtures("distributed_rounds")
def test_known_graph_shapes(spark):
    # chain 1-2-3-4 and separate triangle 10-11-12, plus pair 20-21
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    # star with high center id: min label must still win
    got = _cc(spark, [(100, 7), (100, 8), (100, 9)])
    assert got == {100: 7, 7: 7, 8: 7, 9: 7}


@pytest.mark.usefixtures("distributed_rounds")
def test_long_path_converges(spark):
    # path of length 12: needs ~diameter rounds, well under max_iter
    edges = [(i, i + 1) for i in range(12)]
    got = _cc(spark, edges)
    assert set(got.values()) == {0} and len(got) == 13


@pytest.mark.usefixtures("distributed_rounds")
def test_star_cc_matches_hashmin_and_union_find(spark):
    """Alternating large-star/small-star CC (algorithm='star') computes the
    identical (id, comp) map as hash-min and a Python union-find, across
    shapes (chains, stars, triangles, random) — including the high-center
    star where the min label must still win."""
    import random

    cases = [
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        [(100, 7), (100, 8), (100, 9)],
        [(i, i + 1) for i in range(12)],
        [(5, 5), (6, 7)],  # self-loop + pair
    ]
    rng = random.Random(7)
    for _ in range(2):
        es = [(rng.randrange(40), rng.randrange(40)) for _ in range(30)]
        cases.append([(a, b) for a, b in es if a != b])
    for edges in cases:
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        star = {r.id: r.comp for r in connected_components(df, algorithm="star").collect()}
        hm = {r.id: r.comp for r in connected_components(df, max_iter=60).collect()}
        assert star == hm, edges


def _scattered_chain(spark, n):
    """The chain 0-1-...-n as a frame whose two partitions hold the even
    and the odd edges: no partition holds two adjacent edges, so the
    per-partition contraction finds only single-edge components and
    leaves the chain's diameter whole."""
    edges = [(i, i + 1) for i in range(0, n, 2)] + [(i, i + 1) for i in range(1, n, 2)]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(edges, 2), "doc_a long, doc_b long"
    )
    placed = df.select("doc_a", "doc_b", F.spark_partition_id().alias("p")).collect()
    touched = [(r.p, v) for r in placed for v in (r.doc_a, r.doc_b)]
    assert len(placed) == n
    assert len(set(touched)) == len(touched), "adjacent edges share a partition"
    return df


@pytest.mark.usefixtures("distributed_rounds")
def test_star_cc_beats_hashmin_on_long_chains(spark):
    """A 200-node chain (diameter 199) is exactly where hash-min's
    O(diameter) rounds fail: it cannot converge inside 20 rounds, while
    star contraction finishes in O(log n) round-pairs well under the same
    budget — the property that makes it the 100 TB path. The chain is
    scattered over partitions so the contraction cannot shorten it."""
    df = _scattered_chain(spark, 200)
    got = {
        r.id: r.comp
        for r in connected_components(df, max_iter=20, algorithm="star").collect()
    }
    assert set(got.values()) == {0} and len(got) == 201
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=20).collect()


def _union_find_oracle(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_entity_resolution_end_to_end_on_customers(spark):
    """The full pipeline: deletion-neighborhood blocking -> levenshtein
    verify -> connected components -> canonical pick, vs a Python
    union-find over the same verified pairs."""
    from yelp_business_data_pipeline_spark.operators.dedup import (
        deletion_neighborhood_candidates,
    )

    c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").select(
        "c_custkey", "c_name"
    )
    cand = deletion_neighborhood_candidates(c, "c_custkey", "c_name")
    an = c.select(F.col("c_custkey").alias("doc_a"), F.col("c_name").alias("_na"))
    bn = c.select(F.col("c_custkey").alias("doc_b"), F.col("c_name").alias("_nb"))
    verified = (
        cand.join(an, "doc_a").join(bn, "doc_b")
        .filter(F.levenshtein("_na", "_nb") <= 1)
        .select("doc_a", "doc_b")
    )
    pair_list = [(r.doc_a, r.doc_b) for r in verified.collect()]
    assert pair_list, "expected verified pairs at sf0.001"

    resolved = resolve_entities(c, verified, "c_custkey")
    got = {r.c_custkey: r.entity_id for r in resolved.collect()}

    oracle = _union_find_oracle(pair_list)
    for k, v in got.items():
        assert v == oracle.get(k, k), (k, v, oracle.get(k, k))

    # exactly one canonical row per entity, and it is the min member
    canon = resolved.filter("is_canonical").groupBy("entity_id").count().collect()
    assert all(r["count"] == 1 for r in canon)
    assert all(
        r.entity_id == r.c_custkey for r in resolved.filter("is_canonical").collect()
    )


# ---------------------------------------------------------------------------
# PageRank (operators/ranking.py)
# ---------------------------------------------------------------------------


def _python_pagerank(edge_list, damping=0.85, iters=50):
    verts = sorted({v for e in edge_list for v in e})
    n = len(verts)
    out = {}
    for a, b in set(edge_list):
        out.setdefault(a, set()).add(b)
    rank = {v: 1.0 / n for v in verts}
    for _ in range(iters):
        dangling = sum(rank[v] for v in verts if v not in out)
        new = {}
        for v in verts:
            inflow = sum(
                rank[a] / len(out[a]) for a in verts if a in out and v in out[a]
            )
            new[v] = (1 - damping) / n + damping * (inflow + dangling / n)
        rank = new
    return rank


def test_pagerank_matches_python_recompute(spark):
    from yelp_business_data_pipeline_spark.operators.ranking import pagerank

    # small digraph with a dangling node (4), a hub (1), and a cycle
    edge_list = [(1, 2), (1, 3), (2, 1), (3, 1), (3, 4), (5, 1), (2, 4)]
    e = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(e, max_iter=60, tol=1e-12).collect()}
    want = _python_pagerank(edge_list)
    assert set(got) == set(want)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)  # probability mass
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-6), v
    # the hub outranks the leaf pointed to by nobody
    assert got[1] > got[5]


def test_pagerank_duplicate_edges_do_not_double_contributions(spark):
    from yelp_business_data_pipeline_spark.operators.ranking import pagerank

    e1 = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    e2 = spark.createDataFrame([(1, 2), (1, 2), (2, 1)], "src long, dst long")
    a = {r.id: r.rank for r in pagerank(e1).collect()}
    b = {r.id: r.rank for r in pagerank(e2).collect()}
    for v in a:
        assert a[v] == pytest.approx(b[v], abs=1e-12)


def test_pagerank_empty_edges(spark):
    from yelp_business_data_pipeline_spark.operators.ranking import pagerank

    e = spark.createDataFrame([], "src long, dst long")
    assert pagerank(e).count() == 0


def test_pagerank_batched_convergence_checks(spark, monkeypatch):
    """A check cadence of k cuts delta actions to <= max_iter // k while
    keeping the converged ranks within tolerance of the per-round-checked
    run (the extra <=k-1 post-convergence iterations are sub-tol
    contractions)."""
    from yelp_business_data_pipeline_spark.operators import iterutil
    from yelp_business_data_pipeline_spark.operators.ranking import pagerank

    assert iterutil._CHECK_EVERY == 4
    edge_list = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (2, 4)]
    e = spark.createDataFrame(edge_list, "src long, dst long")
    s_batched, s_eager = {}, {}
    batched = {
        r.id: r.rank
        for r in pagerank(e, max_iter=40, tol=1e-8, stats=s_batched).collect()
    }
    monkeypatch.setattr(iterutil, "_CHECK_EVERY", 1)
    eager = {
        r.id: r.rank
        for r in pagerank(e, max_iter=40, tol=1e-8, stats=s_eager).collect()
    }
    assert s_batched["delta_checks"] <= 40 // 4
    assert s_batched["delta_checks"] < s_eager["delta_checks"]
    assert s_batched["iterations"] <= s_eager["iterations"] + 4
    for v in eager:
        assert batched[v] == pytest.approx(eager[v], abs=1e-6)
    assert sum(batched.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_partitioned_regime_matches_aqe_regime(spark, monkeypatch):
    """The Pregel layout (edges placed once, retained-partitioning
    checkpoints) must give bit-comparable ranks to the small-graph AQE
    regime and to the size rule — the regime is physical only. Covers
    the plain AND personalized paths plus the stats probe."""
    from yelp_business_data_pipeline_spark.operators import ranking as module
    from yelp_business_data_pipeline_spark.operators.ranking import pagerank

    crossover = module._PARTITION_EDGES_MIN

    def run(min_edges, **kw):
        monkeypatch.setattr(module, "_PARTITION_EDGES_MIN", min_edges)
        return {r.id: r.rank for r in pagerank(e, **kw).collect()}

    edge_list = [(1, 2), (1, 3), (2, 1), (3, 1), (3, 4), (5, 1), (2, 4), (6, 6)]
    e = spark.createDataFrame(edge_list, "src long, dst long")
    s_true, s_false, s_auto = {}, {}, {}
    a = run(0, stats=s_true)
    b = run(2**62, stats=s_false)
    c = run(crossover, stats=s_auto)
    assert (s_true["partitioned_edges"], s_false["partitioned_edges"]) == (True, False)
    assert s_auto["partitioned_edges"] is False  # 8 edges is below any crossover
    assert set(a) == set(b) == set(c)
    for v in a:
        assert a[v] == pytest.approx(b[v], abs=1e-12), v
        assert a[v] == pytest.approx(c[v], abs=1e-12), v

    seeds = spark.createDataFrame([(1,)], "id long")
    pa = run(0, personalize=seeds)
    pb = run(2**62, personalize=seeds)
    for v in pa:
        assert pa[v] == pytest.approx(pb[v], abs=1e-12), v


def _python_ppr(edge_list, seeds, damping=0.85, iters=60):
    verts = sorted({v for e in edge_list for v in e})
    n = len(verts)
    t = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in verts}
    out = {}
    for a, b in set(edge_list):
        out.setdefault(a, set()).add(b)
    rank = dict(t)
    for _ in range(iters):
        dangling = sum(rank[v] for v in verts if v not in out)
        new = {}
        for v in verts:
            inflow = sum(rank[a] / len(out[a]) for a in verts if a in out and v in out[a])
            new[v] = (1 - damping) * t[v] + damping * (inflow + dangling * t[v])
        rank = new
    return rank


def test_personalized_pagerank_matches_python_and_localizes(spark):
    from yelp_business_data_pipeline_spark.operators.ranking import pagerank

    # two loosely-connected triangles; seed inside the first; vertex 7 is
    # DANGLING (no out-edges) so the dangling-mass-to-seeds path (_dm * t)
    # is actually exercised against the oracle
    edge_list = [
        (1, 2), (2, 3), (3, 1),
        (4, 5), (5, 6), (6, 4),
        (3, 4),  # bridge
        (6, 7),  # dangling sink
    ]
    e = spark.createDataFrame(edge_list, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "id long")
    got = {r.id: r.rank for r in pagerank(e, max_iter=60, tol=1e-12, personalize=seeds).collect()}
    want = _python_ppr(edge_list, {1})
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-6), v
    # proximity: every first-triangle node outranks its far-triangle peer
    assert got[1] > got[4] and got[2] > got[5] and got[3] > got[6]

    with pytest.raises(ValueError, match="no personalization seed"):
        pagerank(e, personalize=spark.createDataFrame([(99,)], "id long"))
    # empty graph + personalize raises too (not a silent empty result)
    empty = spark.createDataFrame([], "src long, dst long")
    with pytest.raises(ValueError, match="no personalization seed"):
        pagerank(empty, personalize=seeds)


@pytest.mark.usefixtures("distributed_rounds")
def test_star_algorithm_on_string_ids(spark):
    # Regression: the round-4 stats-triple convergence check summed the
    # endpoint columns directly — an ANSI cast crash on string doc ids
    # (this module's dedup use case). The digest must be type-agnostic.
    pairs = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d")], "doc_a string, doc_b string"
    )
    got = {
        r.id: r.comp
        for r in connected_components(pairs, algorithm="star").collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


@pytest.mark.usefixtures("distributed_rounds")
def test_hashmin_check_every_matches_eager(spark, monkeypatch):
    """Batched convergence (a check cadence of k) returns the identical
    label map as the eager per-round check, across window sizes that do
    and do not divide the true round count — including k >
    rounds-to-converge, where the final fixed-point probe must arbitrate
    instead of raising."""
    from yelp_business_data_pipeline_spark.operators import iterutil

    def run(df, k):
        monkeypatch.setattr(iterutil, "_CHECK_EVERY", k)
        return {r.id: r.comp for r in connected_components(df).collect()}

    cases = [
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        [(i, i + 1) for i in range(12)],
        [(100, 7), (100, 8), (100, 9)],
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        eager = run(df, 1)
        for k in (3, 4, 50):
            assert run(df, k) == eager, (edges, k)


@pytest.mark.usefixtures("distributed_rounds")
def test_precontract_matches_plain_and_union_find(spark):
    """Two-phase CC (per-partition union-find pre-contraction, then global
    rounds) computes the identical (id, comp) map as the Python oracle —
    across partition layouts (the contraction runs per partition, so the
    split must not matter), both algorithms, chains and self-loops."""
    import random

    rng = random.Random(11)
    cases = [
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        [(i, i + 1) for i in range(60)],  # chain: exactly what contraction collapses
        [(5, 5), (6, 7)],  # self-loop survivor
        [(rng.randrange(50), rng.randrange(50)) for _ in range(80)],
    ]
    for edges in cases:
        oracle = _union_find_oracle([(a, b) for a, b in edges])
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        for n_parts in (1, 7):
            d = df.repartition(n_parts)
            for algo in ("hashmin", "star"):
                got = {
                    r.id: r.comp
                    for r in connected_components(d, algorithm=algo, max_iter=60).collect()
                }
                assert got == oracle, (algo, n_parts, edges[:5])


@pytest.mark.usefixtures("distributed_rounds")
def test_precontract_string_ids(spark):
    pairs = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d"), ("f", "f")], "doc_a string, doc_b string"
    )
    got = {
        r.id: r.comp
        for r in connected_components(pairs, algorithm="star").collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f"}


@pytest.mark.usefixtures("distributed_rounds")
def test_precontract_single_partition_converges_in_one_round(spark):
    """With every edge in one partition, the contraction alone produces the
    final depth-1 star forest — the global phase should see an already-
    converged edge set (this is the property that cuts rounds at scale)."""
    edges = [(i, i + 1) for i in range(200)]  # diameter-199 chain
    df = spark.createDataFrame(edges, "doc_a long, doc_b long").coalesce(1)
    # hashmin with a tiny round budget: only possible because contraction
    # already flattened the chain (plain hashmin provably needs ~199 rounds)
    got = {
        r.id: r.comp
        for r in connected_components(df, max_iter=3).collect()
    }
    assert set(got.values()) == {0} and len(got) == 201


def test_precontract_preserves_null_endpoint_vertices(spark, monkeypatch):
    """Finding from the round-5 review: null-endpoint edges must flow
    through the contraction UNCHANGED (they are passed through, not
    dropped), so it stays a pure optimization — a vertex paired only
    with NULL gets the same (v, v) output as from the uncontracted
    union-find of the local finish."""
    from yelp_business_data_pipeline_spark.operators import iterutil

    edges = [(1, None), (None, 2), (3, 4)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    plain = {(r.id, r.comp) for r in connected_components(pairs).collect()}
    assert plain == set(_null_aware_oracle(edges).items())
    monkeypatch.setattr(iterutil, "_LOCAL_FINISH_EDGES", 0)
    for algo in ("hashmin", "star"):
        pre = {
            (r.id, r.comp)
            for r in connected_components(pairs, algorithm=algo).collect()
        }
        assert pre == plain, (algo, plain, pre)


# ---------------------------------------------------------------------------
# Local finish: graphs within the bound are solved on the driver
# ---------------------------------------------------------------------------

_STRING_IDS = [f"d{i:02d}" for i in range(20)] + ["Z", "z", "é", "ß", "日本"]


def _spy_local_finish(monkeypatch) -> list:
    """One entry per connected_components call that tried the local
    finish: True when the finish returned the result."""
    from yelp_business_data_pipeline_spark.operators import components

    taken = []
    real = components._local_finish

    def spy(*args):
        out = real(*args)
        taken.append(out is not None)
        return out

    monkeypatch.setattr(components, "_local_finish", spy)
    return taken


def _null_aware_oracle(edges):
    """Every endpoint is a vertex; NULL is one vertex labeled NULL and an
    edge with a NULL endpoint connects nothing."""
    want = _union_find_oracle(
        [(a, b) for a, b in edges if a is not None and b is not None]
    )
    for edge in edges:
        for v in edge:
            want.setdefault(v, v)
    return want


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_local_finish_equals_rounds_and_union_find(spark, monkeypatch):
    """The driver-side finish returns exactly the rows and schema of the
    distributed rounds (hashmin and star, after the contraction) and of a
    Python union-find, on random graphs with bigint and string
    ids, NULL endpoints, self-loops and duplicate edges."""
    import random

    from yelp_business_data_pipeline_spark.operators import iterutil

    rng = random.Random(5)
    graphs = [("long", [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)])]
    for typ, ids in (("long", list(range(25))), ("string", _STRING_IDS)):
        edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(25)]
        edges += [(v, v) for v in rng.sample(ids, 2)]
        edges += rng.sample(edges, 3)
        edges += [(rng.choice(ids), None), (None, rng.choice(ids)), (None, None)]
        graphs.append((typ, edges))
    bound = iterutil._LOCAL_FINISH_EDGES
    taken = _spy_local_finish(monkeypatch)
    for typ, edges in graphs:
        df = spark.createDataFrame(edges, f"doc_a {typ}, doc_b {typ}").repartition(3)
        monkeypatch.setattr(iterutil, "_LOCAL_FINISH_EDGES", bound)
        local = connected_components(df)
        rows = _rows(local)
        assert taken[-1] is True
        assert rows == sorted(_null_aware_oracle(edges).items(), key=repr), edges
        monkeypatch.setattr(iterutil, "_LOCAL_FINISH_EDGES", 0)
        for algo in ("hashmin", "star"):
            dist = connected_components(df, algorithm=algo, max_iter=60)
            assert taken[-1] is False
            assert _rows(dist) == rows, (algo, edges)
            assert dist.schema == local.schema, (algo, dist.schema, local.schema)


def test_local_finish_bound_is_inclusive(spark, monkeypatch, request):
    """With the bound at N, an N-edge input takes the local finish and an
    (N+1)-edge input the distributed rounds, with the same rows; and
    plan inspection (``lazy_plans``) never collects."""
    from yelp_business_data_pipeline_spark.operators import iterutil

    monkeypatch.setattr(iterutil, "_LOCAL_FINISH_EDGES", 4)
    taken = _spy_local_finish(monkeypatch)
    edges = [(1, 2), (2, 3), (7, 8), (8, 8), (3, 4)]
    for n in (4, 5):
        df = spark.createDataFrame(edges[:n], "doc_a long, doc_b long")
        got = _rows(connected_components(df))
        assert got == sorted(_union_find_oracle(edges[:n]).items()), n
    assert taken == [True, False]
    request.getfixturevalue("lazy_plans")
    connected_components(df)
    assert taken == [True, False]
