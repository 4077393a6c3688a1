"""Graph-as-DataFrames layer vs the reference's neo4j_test.cypher checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yelp_business_data_pipeline_spark.operators import user_friend_edges
from yelp_business_data_pipeline_spark.operators.graph import (
    build_edges,
    build_vertices,
    degree_reconciliation,
    duplicate_nodes,
    orphan_nodes,
    reviews_missing_edges,
    top_reviewers_of_business,
)

from .test_yelp_etl import etl  # noqa: F401  (fixture reuse)


@pytest.fixture(scope="module")
def graph(etl):  # noqa: F811
    friends = user_friend_edges(etl["user"])
    v = build_vertices(etl["business"], etl["review"], etl["user"]).cache()
    e = build_edges(etl["business"], etl["review"], etl["user"], friends).cache()
    yield v, e
    v.unpersist()
    e.unpersist()


def test_vertex_labels(graph, etl):
    v, _ = graph
    by_label = {r.label: r.n for r in v.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert by_label["User"] == 2
    assert by_label["Business"] == 1
    assert by_label["Review"] == 3
    assert by_label["Category"] == 3
    assert by_label["City"] == 1 and by_label["State"] == 1
    assert by_label.get("Feature", 0) >= 1  # credit cards flag true on b1


def test_no_duplicate_nodes(graph):
    v, _ = graph
    assert duplicate_nodes(v).count() == 0


def test_edges_and_symmetric_closure(graph):
    _, e = graph
    fw = e.filter(F.col("rel_type") == "FRIENDS_WITH").collect()
    pairs = {(r.src, r.dst) for r in fw}
    # u1 -> u2/u3 plus reversed closure (graph.cypher:91-97)
    assert ("u1", "u2") in pairs and ("u2", "u1") in pairs
    assert ("u1", "u3") in pairs and ("u3", "u1") in pairs
    assert e.filter(F.col("rel_type") == "WROTE").count() == 3
    assert e.filter(F.col("rel_type") == "REVIEWS").count() == 3
    assert e.filter(F.col("rel_type") == "HAS_CATEGORY").count() == 3


def test_orphans(graph):
    v, e = graph
    orphans = {r.label: r.n_orphans for r in orphan_nodes(v, e).collect()}
    # u3 is a friend-edge endpoint, so not orphaned; every fixture node has
    # at least one edge except none -> expect no orphans at all
    assert orphans == {}


def test_reviews_missing_edges(graph):
    v, e = graph
    assert reviews_missing_edges(v, e).count() == 0


def test_degree_reconciliation(graph, etl):
    _, e = graph
    # friend_count matches FRIENDS_WITH out-degree for u1 (2); u2 has
    # stored 0 and no out-edges... but closure adds u2->u1! The reference has
    # the same property: MERGE-ing both directions makes stored counts
    # disagree for one-sided friendships — the check EXISTS to surface that.
    bad = degree_reconciliation(e, etl["user"]).collect()
    assert {r.user_id for r in bad} == {"u2"}
    assert bad[0].friend_count == 0 and bad[0].actual_degree == 1


def test_top_reviewers(graph, etl):
    _, e = graph
    top = top_reviewers_of_business(e, etl["review"], etl["user"], "b1", k=5).collect()
    # r1 (Alice, 5.0), r3 (Bob, 3.0), r2 (Alice, 1.0) — ordered by stars desc
    assert [(r.name, r.stars) for r in top] == [
        ("Alice", 5.0),
        ("Bob", 3.0),
        ("Alice", 1.0),
    ]


def test_node_and_edge_properties(graph):
    v, e = graph
    biz = v.filter(F.col("label") == "Business").collect()[0]
    assert biz.props["name"] == "Pizza Plaza"
    assert biz.props["stars"] == "4.5"
    assert biz.props["noise_level"] == "average"
    usr = {r.id: r for r in v.filter(F.col("label") == "User").collect()}
    assert usr["u1"].props["friend_count"] == "2"
    assert usr["u1"].props["elite_years_count"] == "3"
    wrote = e.filter((F.col("rel_type") == "WROTE") & (F.col("dst") == "r1")).collect()[0]
    assert wrote.props["sentiment_label"] == "positive"
    assert wrote.props["date"] == "2021-06-01"


def test_business_and_city_edge_completeness(graph):
    from yelp_business_data_pipeline_spark.operators.graph import (
        businesses_missing_edges,
        cities_missing_state,
    )

    v, e = graph
    assert businesses_missing_edges(v, e).count() == 0
    assert cities_missing_state(v, e).count() == 0


# ---------------------------------------------------------------------------
# match_motif — the reusable n-hop matcher behind top_reviewers_of_business
# and the friends_of_friends_recommendations oracle query
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def motif_edges(spark):
    #  u1 -F-> u2 -F-> u3 -F-> u4 ; u1 -F-> u3 ; plus a WROTE edge r-hop
    rows = [
        ("u1", "u2", "F"),
        ("u2", "u3", "F"),
        ("u3", "u4", "F"),
        ("u1", "u3", "F"),
        ("u1", "r1", "WROTE"),
        ("r1", "b1", "REVIEWS"),
        ("x", "x", "SELF"),
    ]
    return spark.createDataFrame(rows, "src string, dst string, rel_type string")


def test_motif_two_hop(motif_edges):
    from yelp_business_data_pipeline_spark.operators import match_motif

    got = {
        (r.a, r.b, r.c)
        for r in match_motif(motif_edges, [("a", "F", "b"), ("b", "F", "c")]).collect()
    }
    assert got == {("u1", "u2", "u3"), ("u2", "u3", "u4"), ("u1", "u3", "u4")}


def test_motif_negation_and_distinct(motif_edges):
    from yelp_business_data_pipeline_spark.operators import match_motif

    # u1 reaches u3 in two hops but ALSO directly -> negation removes it
    got = {
        (r.a, r.c)
        for r in match_motif(
            motif_edges,
            [("a", "F", "b"), ("b", "F", "c")],
            negations=[("a", "F", "c")],
            distinct=[("a", "c")],
        ).collect()
    }
    assert got == {("u2", "u4"), ("u1", "u4")}


def test_motif_bindings_and_mixed_rels(motif_edges):
    from yelp_business_data_pipeline_spark.operators import match_motif

    got = match_motif(
        motif_edges,
        [("u", "WROTE", "r"), ("r", "REVIEWS", "b")],
        bindings={"b": "b1"},
    ).collect()
    assert [(r.u, r.r, r.b) for r in got] == [("u1", "r1", "b1")]


def test_motif_self_loop_and_errors(motif_edges):
    from yelp_business_data_pipeline_spark.operators import match_motif

    assert [r.s for r in match_motif(motif_edges, [("s", "SELF", "s")]).collect()] == ["x"]
    with pytest.raises(ValueError, match="chain"):
        match_motif(motif_edges, [("a", "F", "b"), ("x", "WROTE", "y")]).collect()
    with pytest.raises(ValueError, match="empty pattern"):
        match_motif(motif_edges, [])
    with pytest.raises(ValueError, match="unbound"):
        match_motif(motif_edges, [("a", "F", "b")], negations=[("a", "F", "zz")])


def test_fof_matches_bruteforce_adjacency(spark):
    """friends_of_friends_recommendations vs a pure-python recomputation
    from the raw customer table at sf0.001."""
    import itertools

    from yelp_business_data_pipeline_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    cust = spark.read.parquet(f"{sf}/customer.parquet").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    ).collect()
    by_nation = {}
    for r in cust:
        by_nation.setdefault(r.c_nationkey, []).append(r)
    adj = {}
    for rows in by_nation.values():
        rows.sort(key=lambda r: (r.c_acctbal, r.c_custkey))
        for i, r in enumerate(rows):
            for j in (i + 1, i + 2):
                if j < len(rows):
                    a, b = r.c_custkey, rows[j].c_custkey
                    adj.setdefault(a, set()).add(b)
                    adj.setdefault(b, set()).add(a)
    expect = {}
    for a, c in itertools.permutations(adj, 2):
        if c in adj[a]:
            continue
        mutual = len(adj[a] & adj[c])
        if mutual:
            expect[(a, c)] = mutual
    got = {
        (r.custkey_a, r.custkey_c): r.n_mutual
        for r in QUERIES["friends_of_friends_recommendations"].spark(spark, sf).collect()
    }
    assert got == expect and expect


def test_motif_self_loop_negation(motif_edges):
    """WHERE NOT (x)-[:SELF]->(x): matched rows whose variable has a
    self-loop edge are excluded (x has one; u1 doesn't)."""
    from yelp_business_data_pipeline_spark.operators import match_motif

    import pyspark.sql.functions as F

    # extend: give 'x' an F-edge so it appears in a pattern match
    edges = motif_edges.union(
        motif_edges.sparkSession.createDataFrame(
            [("x", "u1", "F")], "src string, dst string, rel_type string"
        )
    )
    got = {
        r.a
        for r in match_motif(
            edges, [("a", "F", "b")], negations=[("a", "SELF", "a")]
        ).select("a").collect()
    }
    assert "x" not in got and "u1" in got


def test_triangle_count_matches_python_brute_force(spark):
    """triangle_count (degree-ordered orientation, Suri & Vassilvitskii
    2011) vs an itertools brute force: global and per-vertex counts on
    known shapes (triangle, K4, triangle+tail, disjoint pair) and a seeded
    random graph; duplicate edges, reversed duplicates and self-loops must
    not change counts."""
    import itertools
    import random

    from yelp_business_data_pipeline_spark.operators.graph import triangle_count

    def brute(edges):
        und = {frozenset(e) for e in edges if e[0] != e[1]}
        verts = sorted({v for e in und for v in e})
        tris = [
            t
            for t in itertools.combinations(verts, 3)
            if all(frozenset(p) in und for p in itertools.combinations(t, 2))
        ]
        per = {}
        for t in tris:
            for v in t:
                per[v] = per.get(v, 0) + 1
        return len(tris), per

    rng = random.Random(11)
    cases = [
        [(1, 2), (2, 3), (3, 1)],
        list(itertools.combinations(range(4), 2)),  # K4: 4 triangles
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)],
        [(1, 2), (3, 4)],  # no triangles
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1)],  # dups + self-loop
        [(rng.randrange(25), rng.randrange(25)) for _ in range(80)],
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "src long, dst long")
        want_n, want_per = brute(edges)
        got_n = triangle_count(df).collect()[0].n_triangles
        assert got_n == want_n, (edges, got_n, want_n)
        got_per = {
            r.id: r.n_triangles for r in triangle_count(df, per_vertex=True).collect()
        }
        assert got_per == want_per, (edges, got_per, want_per)


def test_triangle_count_plan_has_no_cartesian(spark):
    from yelp_business_data_pipeline_spark.operators.graph import triangle_count

    from .test_plans import plan_str

    df = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    p = plan_str(triangle_count(df))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
