"""Property graph as DataFrames.

The reference exports the cleaned tables to CSV and bulk-loads Neo4j AuraDB
(``neo4j_load/graph.cypher``): 7 node labels (User, Business, Review,
Category, City, State, Feature — graph.cypher:11-19) and 7 relationship
types (WROTE, REVIEWS, LOCATED_IN, IN_STATE, HAS_CATEGORY, OFFERS,
FRIENDS_WITH — graph.cypher:56-95). This engine keeps the graph inside
Spark as two DataFrames:

- ``vertices(id, label, props...)`` — union of per-label projections
- ``edges(src, dst, rel_type)`` — union of per-relationship projections

Cypher semantics map to relational ops: MERGE -> dropDuplicates (D1),
uniqueness constraints -> duplicate_keys validation (D2), MATCH patterns ->
chained equi-joins (J3), orphan checks -> anti-joins (J4), FK-gated edge
insert -> semi-joins (J5), FRIENDS_WITH bidirectionality -> symmetric
closure union (D3). The integrity suite replicates
``test_cases/neo4j_test.cypher`` exactly.

Scale: vertices/edges are plain partitioned DataFrames; every graph query
below is a join/agg pipeline Catalyst optimizes like any other (broadcast
for small label slices, AQE for skewed hub nodes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import iterutil
from .cleaning import duplicate_keys
from .iterutil import localcheckpoint_keep_partitioning, localcheckpoint_partitioned

NODE_LABELS = ("User", "Business", "Review", "Category", "City", "State", "Feature")
REL_TYPES = (
    "WROTE",
    "REVIEWS",
    "LOCATED_IN",
    "IN_STATE",
    "HAS_CATEGORY",
    "OFFERS",
    "FRIENDS_WITH",
)

#: Business boolean-flag columns exported as Feature nodes / OFFERS edges
#: (reference graph.cypher:83-88 loads business_feature.csv).
FEATURE_FLAGS = (
    "accepts_credit_cards",
    "bike_parking_flag",
    "good_for_kids_flag",
    "has_tv_flag",
    "happy_hour_flag",
)


def _props_map(df: DataFrame, cols: list[str]) -> F.Column:
    """String-typed property map over whichever of ``cols`` exist —
    the DataFrame analog of Cypher's ``SET n.prop = row.col``."""
    pairs = []
    for c in cols:
        if c in df.columns:
            pairs.extend([F.lit(c), F.col(c).cast("string")])
    if not pairs:
        return F.create_map().cast("map<string,string>")
    return F.map_from_arrays(F.array(*pairs[0::2]), F.array(*pairs[1::2]))


def _label(df: DataFrame, id_col, label: str, prop_cols: list[str] | None = None) -> DataFrame:
    id_expr = (
        F.col(id_col).cast("string") if isinstance(id_col, str) else id_col
    )
    out = df.select(
        id_expr.alias("id"),
        F.lit(label).alias("label"),
        _props_map(df, prop_cols or []).alias("props"),
    )
    return out.dropDuplicates(["id", "label"])


#: Node properties per the reference's SET clauses (graph.cypher:24-46,53-55).
#: NB the reference's user load sets friend_count from ``row.friends`` — a
#: column that does not exist in the exported user.csv (quirk) — the intent
#: is the processed table's friend_count, used here.
BUSINESS_PROPS = [
    "name", "latitude", "longitude", "stars", "review_count",
    "accepts_credit_cards", "noise_level",
]
USER_PROPS = ["name", "fans", "elite_years_count", "friend_count", "engagement_compliments"]
REVIEW_PROPS = ["stars", "date", "sentiment_label"]


def build_vertices(
    businesses: DataFrame, reviews: DataFrame, users: DataFrame
) -> DataFrame:
    """Union of all 7 node labels (MERGE semantics via dropDuplicates),
    with per-label property maps mirroring the reference's SET clauses.

    Inputs are the processed tables (business at (business, category) grain,
    user at (user, friend) grain) — the same CSVs the reference exports
    (graph.cypher:5).
    """
    parts = [
        _label(users.dropDuplicates(["user_id"]), "user_id", "User", USER_PROPS),
        _label(businesses.dropDuplicates(["business_id"]), "business_id", "Business", BUSINESS_PROPS),
        _label(reviews, "review_id", "Review", REVIEW_PROPS),
        _label(businesses, "category", "Category"),
        _label(businesses, "city", "City"),
        _label(businesses, "state", "State"),
    ]
    feats = None
    for flag in FEATURE_FLAGS:
        if flag in businesses.columns:
            f_df = businesses.filter(F.col(flag) == True).select(  # noqa: E712
                F.lit(flag.removesuffix("_flag")).alias("id"),
                F.lit("Feature").alias("label"),
                F.create_map().cast("map<string,string>").alias("props"),
            )
            feats = f_df if feats is None else feats.unionAll(f_df)
    if feats is not None:
        parts.append(feats.dropDuplicates(["id", "label"]))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def build_edges(
    businesses: DataFrame,
    reviews: DataFrame,
    users: DataFrame,
    friend_edges: DataFrame | None = None,
) -> DataFrame:
    """Union of all 7 relationship types as (src, dst, rel_type).

    Edge construction is FK-gated like the reference's MATCH-then-MERGE
    (graph.cypher:50-51: a WROTE/REVIEWS edge is only created when both
    endpoints exist) via semi-joins against the vertex sources.
    FRIENDS_WITH gets the symmetric closure (graph.cypher:91-97).
    """

    def _edges(df, src, dst, rel, prop_cols: list[str] | None = None):
        return df.select(
            F.col(src).cast("string").alias("src"),
            F.col(dst).cast("string").alias("dst"),
            F.lit(rel).alias("rel_type"),
            _props_map(df, prop_cols or []).alias("props"),
        ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull()).dropDuplicates(
            ["src", "dst", "rel_type"]  # map columns can't join set ops
        )

    user_ids = users.select(F.col("user_id")).dropDuplicates()
    biz_one = businesses.dropDuplicates(["business_id"])

    # WROTE carries (date, sentiment_label) edge properties
    # (graph.cypher:56: MERGE (u)-[:WROTE {date, sentiment_label}]->(r)).
    wrote = _edges(
        reviews.join(user_ids, "user_id", "left_semi"),
        "user_id",
        "review_id",
        "WROTE",
        ["date", "sentiment_label"],
    )
    reviews_e = _edges(
        reviews.join(biz_one.select("business_id"), "business_id", "left_semi"),
        "review_id",
        "business_id",
        "REVIEWS",
    )
    located = _edges(biz_one, "business_id", "city", "LOCATED_IN")
    in_state = _edges(biz_one, "city", "state", "IN_STATE")
    has_cat = _edges(businesses, "business_id", "category", "HAS_CATEGORY")

    offers = None
    for flag in FEATURE_FLAGS:
        if flag in businesses.columns:
            o = biz_one.filter(F.col(flag) == True).select(  # noqa: E712
                F.col("business_id").cast("string").alias("src"),
                F.lit(flag.removesuffix("_flag")).alias("dst"),
                F.lit("OFFERS").alias("rel_type"),
                F.create_map().cast("map<string,string>").alias("props"),
            )
            offers = o if offers is None else offers.unionAll(o)

    out = wrote.unionAll(reviews_e).unionAll(located).unionAll(in_state).unionAll(has_cat)
    if offers is not None:
        out = out.unionAll(offers.dropDuplicates(["src", "dst", "rel_type"]))

    if friend_edges is not None:
        fw = friend_edges.select(
            F.col("user_id").cast("string").alias("src"),
            F.col("friend_id").cast("string").alias("dst"),
        )
        sym = fw.unionAll(fw.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        out = out.unionAll(
            sym.withColumn("rel_type", F.lit("FRIENDS_WITH"))
            .withColumn("props", F.create_map().cast("map<string,string>"))
            .dropDuplicates(["src", "dst", "rel_type"])
        )
    return out


def match_motif(
    edges: DataFrame,
    pattern: list[tuple[str, str, str]],
    negations: list[tuple[str, str, str]] | None = None,
    distinct: list[tuple[str, str]] | None = None,
    bindings: dict[str, str] | None = None,
) -> DataFrame:
    """Reusable n-hop motif matcher: the relational form of Cypher's
    ``MATCH (a)-[:R1]->(b)-[:R2]->(c) WHERE NOT (a)-[:R3]->(c) AND a <> c
    AND b.id = $x`` family (the shape of every query in the reference's
    ``test_cases/neo4j_test.cypher``), so the next Cypher-shaped question
    is a call, not a bespoke join chain.

    ``pattern`` is a chain/tree of hops ``(src_var, rel_type, dst_var)``;
    each hop equi-joins the growing match table on whichever variables are
    already bound (hops must connect — a disconnected hop would be a
    cartesian product and raises instead). ``negations`` are Cypher
    ``WHERE NOT (x)-[:R]->(y)`` anti-joins; ``distinct`` pairs enforce
    ``x <> y``; ``bindings`` pin a variable to a literal id (Catalyst
    pushes the resulting filter down through every join into the edge
    scans).

    Returns one column per variable (the matched node ids). Join props
    back per-variable afterwards — keeping the matcher id-only keeps every
    hop a skinny shuffle (two string columns), the 100 TB shape.

    Self-loops ``(a, R, a)`` match edges whose endpoints coincide.
    """
    res: DataFrame | None = None
    for s, rel, d in pattern:
        hop = edges.filter(F.col("rel_type") == rel)
        if s == d:
            hop = hop.filter(F.col("src") == F.col("dst")).select(F.col("src").alias(s))
        else:
            hop = hop.select(F.col("src").alias(s), F.col("dst").alias(d))
        if res is None:
            res = hop
        else:
            shared = [v for v in dict.fromkeys((s, d)) if v in res.columns and v in hop.columns]
            if not shared:
                raise ValueError(
                    f"match_motif: hop ({s})-[:{rel}]->({d}) shares no variable with "
                    f"the pattern so far {res.columns} — reorder the pattern so hops chain"
                )
            res = res.join(hop, on=shared)
    if res is None:
        raise ValueError("match_motif: empty pattern")
    for s, rel, d in negations or []:
        neg = edges.filter(F.col("rel_type") == rel)
        if s == d:
            # WHERE NOT (x)-[:R]->(x): anti-join on the single variable
            # against self-loop edges (mirrors the pattern branch).
            neg = neg.filter(F.col("src") == F.col("dst")).select(F.col("src").alias(s))
            join_vars = [s]
        else:
            neg = neg.select(F.col("src").alias(s), F.col("dst").alias(d))
            join_vars = [s, d]
        missing = [v for v in join_vars if v not in res.columns]
        if missing:
            raise ValueError(f"match_motif: negation uses unbound variables {missing}")
        res = res.join(neg, on=join_vars, how="left_anti")
    for x, y in distinct or []:
        res = res.filter(F.col(x) != F.col(y))
    for var, val in (bindings or {}).items():
        res = res.filter(F.col(var) == F.lit(val))
    return res


# ---------------------------------------------------------------------------
# Integrity query pack (replicates test_cases/neo4j_test.cypher)
# ---------------------------------------------------------------------------


def duplicate_nodes(vertices: DataFrame) -> DataFrame:
    """neo4j_test.cypher:1-5 — ids appearing twice under one label."""
    return duplicate_keys(vertices, ["label", "id"])


#: Endpoint labels are statically determined by the relationship type
#: (graph.cypher:56-95): each MERGE clause matches typed node patterns, so
#: Neo4j's orphan check is per-label. Used to namespace endpoint ids.
REL_ENDPOINT_LABELS = {
    "WROTE": ("User", "Review"),
    "REVIEWS": ("Review", "Business"),
    "LOCATED_IN": ("Business", "City"),
    "IN_STATE": ("City", "State"),
    "HAS_CATEGORY": ("Business", "Category"),
    "OFFERS": ("Business", "Feature"),
    "FRIENDS_WITH": ("User", "User"),
}


def orphan_nodes(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """neo4j_test.cypher:13-15 — nodes with NO relationship, counted per
    label. Anti-join against the union of endpoint (label, id) pairs —
    namespaced by label (via REL_ENDPOINT_LABELS) so an id collision across
    label spaces (e.g. a Category named identically to a City) cannot mask
    an orphan, matching Neo4j's typed pattern matching."""
    # Unknown rel_types FAIL LOUDLY: a silent NULL label would drop those
    # endpoints from the anti-join and miscount every vertex connected
    # only by the unmapped relationship as an orphan.
    unknown = F.raise_error(
        F.concat(F.lit("orphan_nodes: rel_type missing from REL_ENDPOINT_LABELS: "), F.col("rel_type"))
    )
    src_label = F.coalesce(
        *[F.when(F.col("rel_type") == rel, F.lit(labels[0])) for rel, labels in REL_ENDPOINT_LABELS.items()],
        unknown,
    )
    dst_label = F.coalesce(
        *[F.when(F.col("rel_type") == rel, F.lit(labels[1])) for rel, labels in REL_ENDPOINT_LABELS.items()],
        unknown,
    )
    endpoints = (
        edges.select(F.col("src").alias("id"), src_label.alias("label"))
        .unionAll(edges.select(F.col("dst").alias("id"), dst_label.alias("label")))
        .dropDuplicates()
    )
    return (
        vertices.join(endpoints, ["id", "label"], "left_anti")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )


def reviews_missing_edges(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """neo4j_test.cypher:19-26 — Review nodes lacking an inbound WROTE or an
    outbound REVIEWS edge."""
    review_ids = vertices.filter(F.col("label") == "Review").select("id")
    wrote_dst = edges.filter(F.col("rel_type") == "WROTE").select(F.col("dst").alias("id"))
    reviews_src = edges.filter(F.col("rel_type") == "REVIEWS").select(F.col("src").alias("id"))
    no_wrote = review_ids.join(wrote_dst, "id", "left_anti").withColumn(
        "missing", F.lit("WROTE")
    )
    no_reviews = review_ids.join(reviews_src, "id", "left_anti").withColumn(
        "missing", F.lit("REVIEWS")
    )
    return no_wrote.unionAll(no_reviews)


def degree_reconciliation(edges: DataFrame, users: DataFrame) -> DataFrame:
    """neo4j_test.cypher:39-44 — stored friend_count vs actual FRIENDS_WITH
    out-degree; returns disagreeing users."""
    deg = (
        edges.filter(F.col("rel_type") == "FRIENDS_WITH")
        .groupBy(F.col("src").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("actual_degree"))
    )
    stored = users.dropDuplicates(["user_id"]).select(
        F.col("user_id").cast("string").alias("user_id"), "friend_count"
    )
    return (
        stored.join(deg, "user_id", "left")
        .withColumn("actual_degree", F.coalesce(F.col("actual_degree"), F.lit(0)))
        .filter(F.col("friend_count") != F.col("actual_degree"))
    )


def top_reviewers_of_business(
    edges: DataFrame, reviews: DataFrame, users: DataFrame, business_id: str, k: int = 5
) -> DataFrame:
    """neo4j_test.cypher:49-53 — MATCH (u)-[:WROTE]->(r)-[:REVIEWS]->(b{id})
    RETURN u.name, r.stars ORDER BY r.stars DESC, u.name LIMIT k.

    Two-hop pattern via the reusable motif matcher (J3)."""
    matches = match_motif(
        edges,
        pattern=[("user_id", "WROTE", "review_id"), ("review_id", "REVIEWS", "b")],
        bindings={"b": business_id},
    )
    stars = reviews.select(F.col("review_id").cast("string").alias("review_id"), "stars")
    names = users.dropDuplicates(["user_id"]).select(
        F.col("user_id").cast("string").alias("user_id"), "name"
    )
    return (
        matches.join(stars, "review_id")
        .join(names, "user_id", "left")
        .select("name", "stars")
        .orderBy(F.desc("stars"), F.asc("name"))
        .limit(k)
    )


def businesses_missing_edges(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """neo4j_test.cypher:4-5 checks (#4/#5) — Business nodes lacking a
    LOCATED_IN / HAS_CATEGORY / OFFERS edge, one row per (business, missing
    relationship type)."""
    biz = vertices.filter(F.col("label") == "Business").select("id")
    out = None
    for rel in ("LOCATED_IN", "HAS_CATEGORY", "OFFERS"):
        src = edges.filter(F.col("rel_type") == rel).select(F.col("src").alias("id"))
        part = biz.join(src, "id", "left_anti").withColumn("missing", F.lit(rel))
        out = part if out is None else out.unionAll(part)
    return out


def cities_missing_state(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """neo4j_test.cypher:4b — City nodes with no IN_STATE edge."""
    cities = vertices.filter(F.col("label") == "City").select("id")
    in_state = edges.filter(F.col("rel_type") == "IN_STATE").select(F.col("src").alias("id"))
    return cities.join(in_state, "id", "left_anti")


def triangle_count(
    pairs: DataFrame, src: str = "src", dst: str = "dst", per_vertex: bool = False
) -> DataFrame:
    """Count triangles in an undirected graph (input pairs in either or
    both directions; parallel edges and self-loops ignored).

    Degree-ordered orientation (the standard MapReduce-triangle trick —
    Suri & Vassilvitskii 2011, "Counting Triangles and the Curse of the
    Last Reducer"): orient every edge from the lower-(degree, id) endpoint
    to the higher, so each vertex's out-degree is bounded by O(sqrt(m))
    even on power-law graphs — a celebrity with degree 10^6 contributes
    out-wedges only toward HIGHER-degree vertices, of which there are few,
    instead of the 10^12 unordered wedges a naive neighbor self-join would
    build. Plan: one wedge self-join on the oriented edges' common lower
    endpoint + one semi/inner join back onto the edge set — equi-joins
    only, no cartesian.

    ``per_vertex=False``: one row ``(n_triangles)`` (global count).
    ``per_vertex=True``: ``(id, n_triangles)`` per participating vertex
    (vertices in no triangle are absent — left-join a vertex table and
    coalesce to 0 if the dense form is needed).
    """
    und = (
        pairs.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient low (deg, id) -> high (deg, id); the (deg, id) pair is a total
    # order, so every undirected edge gets exactly one direction
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("deg_b"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("e")
        )
        .select(F.col("e.lo").alias("lo"), F.col("e.hi").alias("hi"))
    )
    # wedges: two oriented edges sharing the low endpoint; close the wedge
    # with an oriented edge between the two high endpoints (either order)
    w1 = oriented.select(F.col("lo").alias("p"), F.col("hi").alias("x"))
    w2 = oriented.select(F.col("lo").alias("p"), F.col("hi").alias("y"))
    wedges = w1.join(w2, "p").filter(F.col("x") < F.col("y"))
    closer = oriented.select(
        F.least(F.col("lo"), F.col("hi")).alias("x"),
        F.greatest(F.col("lo"), F.col("hi")).alias("y"),
    )
    tris = wedges.join(closer, ["x", "y"])
    if not per_vertex:
        return tris.agg(F.count(F.lit(1)).alias("n_triangles"))
    verts = tris.select(F.col("p").alias("id")).unionAll(
        tris.select(F.col("x").alias("id"))
    ).unionAll(tris.select(F.col("y").alias("id")))
    return verts.groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))


def link_prediction_features(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    max_center_degree: int | None = None,
    exclude_existing: bool = True,
) -> DataFrame:
    """Link-prediction features for vertex pairs of an undirected graph:
    ``common_neighbors``, ``adamic_adar`` (Adamic & Adar 2003 — common
    neighbors weighted 1/ln(degree), rare mutual friends count more), and
    ``jaccard`` (|CN| / |N(u) u N(v)|). The classic neighborhood-overlap
    feature set for friend recommendation / entity-graph densification
    (the FoF motif query returns candidates; this scores them).

    Shape: exactly the market-basket construction with the CENTER vertex
    as the basket — each center's neighbor set collapses in one groupBy
    (collect_set, map-side dedup), candidate pairs expand
    executor-locally via the shared ``dedup.bucket_pairs`` kernel
    carrying the center's 1/ln(degree) weight (``carry_cols``), then one
    uniform-key groupBy aggregates count and Adamic-Adar sum together.
    No neighbor-list self-join. Every common neighbor has degree >= 2 by
    construction (it touches both endpoints), so ln(degree) is never
    zero. The normalized edge set and the neighbor collapse are each
    lazily checkpointed (the basket.py pattern): the degree frame, the
    pair expansion, and the existing-edge anti-join all read those
    materializations instead of re-running the edge scan + distinct +
    collect_set per branch (Catalyst prunes each branch differently, so
    without the checkpoint the collapse executes 3-4x).

    ``max_center_degree`` guards the quadratic per-center fan-out the
    same way ``max_basket``/``max_bucket`` do — a celebrity hub fails
    loudly (executor-side raise naming the size) instead of building a
    deg^2 pair array toward OOM; cap-and-sample is the caller's call.

    ``exclude_existing`` (default) anti-joins already-connected pairs
    out — link PREDICTION scores non-edges; pass False to score existing
    edges too (e.g. for edge-strength features).

    Output: ``(u, v, common_neighbors, adamic_adar, jaccard)`` with
    u < v, pairs below ``min_common`` dropped.
    """
    from .dedup import bucket_pairs

    und = iterutil.cut_lineage(
        pairs.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        eager=False,
    )
    nbrs = und.select(F.col("a").alias("w"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("w"), F.col("a").alias("n"))
    )
    centers = iterutil.cut_lineage(
        nbrs.groupBy("w").agg(F.sort_array(F.collect_set("n")).alias("_ids")),
        eager=False,
    )
    deg = centers.select("w", F.size("_ids").alias("deg"))
    expandable = centers.filter(F.size("_ids") >= 2).withColumn(
        "_w_aa", 1.0 / F.log(F.size("_ids").cast("double"))
    )
    cand = (
        bucket_pairs(
            expandable,
            max_bucket=max_center_degree,
            distinct=False,
            carry_cols=["_w_aa"],
            guard_name="max_center_degree",
            guard_hint="cap or sample hubs first",
        )
        .groupBy(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum("_w_aa").alias("_aa"),
        )
        .filter(F.col("common_neighbors") >= min_common)
    )
    if exclude_existing:
        existing = und.select(F.col("b").alias("u"), F.col("a").alias("v"))
        cand = cand.join(existing, ["u", "v"], "left_anti")
    du = deg.select(F.col("w").alias("u"), F.col("deg").alias("_du"))
    dv = deg.select(F.col("w").alias("v"), F.col("deg").alias("_dv"))
    return (
        cand.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common_neighbors",
            F.round(F.col("_aa"), 6).alias("adamic_adar"),
            F.round(
                F.col("common_neighbors")
                / (F.col("_du") + F.col("_dv") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
        )
    )


def _k_core_local_finish(
    edges: DataFrame, k: int, stats: dict, rows: int | None = None
) -> DataFrame | None:
    """Exact k-core of canonical ``(a, b)`` edges that fit
    ``iterutil.collect_bounded`` (``rows``: their count, when already
    known), peeled on the driver with the textbook bucket/queue
    algorithm; None when they do not fit. The result is the unique
    k-core, so it is identical to however many distributed rounds it
    replaces."""
    from collections import deque

    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    tbl = iterutil.collect_bounded(edges, rows)
    if tbl is None:
        return None
    stats["local_finish"] = True
    adj: dict = {}
    for a, b in zip(tbl.column(0).to_pylist(), tbl.column(1).to_pylist()):
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    q = deque(v for v, nb in adj.items() if len(nb) < k)
    while q:
        v = q.popleft()
        nbs = adj.pop(v, None)
        if nbs is None:  # already peeled (queued twice)
            continue
        for u in nbs:
            s = adj.get(u)
            if s is not None:
                s.discard(v)
                if len(s) < k:
                    q.append(u)
    schema = StructType(
        [
            StructField("id", edges.schema["a"].dataType),
            StructField("degree", LongType()),
        ]
    )
    out = pa.table(
        {
            "id": pa.array(list(adj), tbl.column(0).type),
            "degree": pa.array([len(nb) for nb in adj.values()], pa.int64()),
        }
    )
    return edges.sparkSession.createDataFrame(out, schema)


def _k_core_partitioned(
    edges: DataFrame,
    k: int,
    max_iter: int,
    stats: dict,
) -> DataFrame:
    """k-core peel in the Pregel layout (the pagerank regime, adapted to
    an edge set touched from BOTH endpoints): symmetrize the canonical
    edge frame (each undirected edge as (x,y) AND (y,x) — 2x rows) and
    hash-place it ONCE on ``x`` via ``localcheckpoint_partitioned``. Per
    round:

    - degree = groupBy(x) count — the retained layout satisfies the
      aggregate's distribution, NO exchange, and its output shares the
      layout;
    - keep-side semi-join on x — both children HashPartitioning(x, n),
      NO exchange on either side;
    - drop-side anti-join on y — carries only the vertices peeled THIS
      round, which collapses to a handful past the first bulk peel, so
      AQE converts it to broadcast and the edge frame never moves. (In a
      bulk round AQE may pick a y-exchange instead; the following
      ``localcheckpoint_keep_partitioning`` then retains THAT layout and
      the next round's groupBy(x) pays one exchange — i.e. the regime
      degrades to the default's per-round cost, never below it.)

    Degrees are identical to the canonical frame's union-groupBy (each
    neighbor appears exactly once per orientation), so results are
    bit-identical across regimes (pinned in tests/test_kcore.py).
    """
    sym = localcheckpoint_partitioned(
        edges.select(F.col("a").alias("x"), F.col("b").alias("y")).unionAll(
            edges.select(F.col("b").alias("x"), F.col("a").alias("y"))
        ),
        "x",
    )
    n_dir = sym.count()
    for _ in range(max_iter):
        if n_dir == 0:
            return (
                sym.select(F.col("x").alias("id"))
                .limit(0)
                .withColumn("degree", F.lit(0).cast("bigint"))
            )
        # canonical orientation had a = greatest(endpoints)
        local = _k_core_local_finish(
            sym.filter(F.col("x") > F.col("y")).select(
                F.col("x").alias("a"), F.col("y").alias("b")
            ),
            k,
            stats,
            n_dir // 2,
        )
        if local is not None:
            return local
        deg = sym.groupBy("x").agg(F.count(F.lit(1)).alias("degree"))
        if n_dir > _KCORE_BROADCAST_DROP_MAX:
            # the gate below needs dropped.count(); without a cut that
            # count re-runs the whole degree aggregation AND the keep/
            # drop joins recompute it a third time — one extra full
            # scan+agg per round on exactly the big graphs the gate
            # targets. Materialize deg once for the round (lazy: the
            # count below is the action that persists it).
            deg = localcheckpoint_keep_partitioning(deg, eager=False)
        keep = deg.filter(F.col("degree") >= k).select("x")
        dropped = deg.filter(F.col("degree") < k).select(F.col("x").alias("y"))
        # the drop side is explicitly broadcast WHEN SAFE: it holds only
        # the vertices peeled THIS round (ids, not edges), and letting
        # AQE size it instead was measured to pick a y-exchange on bulk
        # rounds — which destroys the retained x-layout and makes every
        # later round pay the groupBy exchange again. But a first bulk
        # peel can drop O(V) vertices, and force-broadcasting an O(V) id
        # set would hit the broadcast limit / driver memory on a big
        # graph. Each dropped vertex carries >= 1 directed edge, so
        # n_dropped <= n_dir: when n_dir is already under the bound the
        # hint is free; otherwise pay one small count() on the drop side
        # and fall back to AQE (one round of layout degradation, never
        # worse than the default regime) when it exceeds the bound.
        if n_dir <= _KCORE_BROADCAST_DROP_MAX or (
            dropped.count() <= _KCORE_BROADCAST_DROP_MAX
        ):
            drop_side = F.broadcast(dropped)
        else:
            stats["unbroadcast_rounds"] = stats.get("unbroadcast_rounds", 0) + 1
            drop_side = dropped
        pruned = localcheckpoint_keep_partitioning(
            sym.join(keep, "x", "left_semi").join(drop_side, "y", "left_anti"),
            eager=False,
        )
        new_n = pruned.count()
        stats["rounds"] += 1
        if new_n == n_dir:
            return deg.filter(F.col("degree") >= k).select(
                F.col("x").alias("id"), "degree"
            )
        sym, n_dir = pruned, new_n
    raise RuntimeError(f"k_core did not stabilize in {max_iter} rounds")


#: Measured k-core regime crossover (BASELINE.md round-7 table): below
#: this many (undirected, deduped) edges the per-round AQE shuffles are
#: cheaper than the symmetric frame's 2x row count + up-front placement
#: (200k bulk-peel: 3.7s vs 4.9s); above it the retained layout wins and
#: the gap grows with the graph (400k: 6.7 -> 4.9s; 800k: 10.5 -> 6.9s
#: bulk, 2.1 -> 1.7s cascade) — the pagerank result, re-measured for the
#: peel shape with the drop side explicitly broadcast.
_KCORE_PARTITION_EDGES_MIN = 300_000

#: Cap on the per-round dropped-vertex set that _k_core_partitioned will
#: force-broadcast. 5M bigint/string ids is tens of MB serialized — far
#: under Spark's 8 GB broadcast hard limit and a safe driver footprint;
#: a bulk peel dropping more than this falls back to AQE sizing for that
#: round (one round of layout degradation, documented above).
_KCORE_BROADCAST_DROP_MAX = 5_000_000


def k_core(
    pairs: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Vertices of the k-core: the maximal subgraph where every vertex
    has degree >= k (undirected; parallel edges and self-loops ignored).
    The standard graph-cleaning pass before community/embedding work —
    peeling low-degree tendrils isolates the dense regions where
    near-duplicate clusters and real communities live.

    Iterative peeling: each round computes degrees in the CURRENT
    subgraph (one groupBy) and drops vertices below k (one semi-join of
    the edge set against surviving vertices per endpoint). Rounds are
    bounded by the peeling depth (how many "layers" of low-degree
    vertices shield the core) — typically far below the diameter;
    ``max_iter`` raises loudly rather than returning a non-core. Each
    round's pruned edge frame is lazily localCheckpointed and counted in
    ONE fused job (the BFS idiom: the count triggers the persist), so
    lineage never compounds; convergence = edge count unchanged (exact:
    peeling only ever removes edges, so a stable count IS a fixpoint).

    **Local finish** (shared with connected_components through
    ``iterutil.collect_bounded``): peeling shrinks the edge set
    monotonically, and the tail of the cascade is many tiny rounds whose
    cost is pure per-round job overhead. Before the first round, one
    bounded job collects the canonical edges; a graph of at most
    ``iterutil._LOCAL_FINISH_EDGES`` edges is peeled on the driver and
    never runs a distributed round. A larger one runs rounds until the
    round's edge count says the survivors fit, then collects them and
    peels the rest on the driver — exact, so the result is identical to
    the distributed rounds it replaces (pinned across both paths in
    tests/test_kcore.py). At 100 TB the early rounds stay distributed and
    the bound caps the driver's memory (~tens of MB). The driver peel is
    not round-bounded, so ``max_iter`` governs only distributed rounds.
    With ``iterutil._CHECKPOINT`` off (plan inspection) the finish is
    skipped.

    The physical regime is picked from the round-0 edge count (already
    paid) at the measured ``_KCORE_PARTITION_EDGES_MIN`` crossover
    (pagerank's rule, re-measured for the peel shape — BASELINE.md
    round-7 table). Above it, the Pregel regime symmetrizes the edge set
    (each undirected edge stored in BOTH orientations — 2x rows) and
    hash-places it ONCE on the first endpoint with retained-partitioning
    checkpoints: the per-round degree groupBy and the keep-side
    semi-join are then exchange-free EVERY round (degree output shares
    the layout, so neither join side exchanges), and the drop-side
    anti-join carries only the vertices peeled THIS round — a frame AQE
    converts to a broadcast join in every round past the first bulk peel,
    so the edge frame stops shuffling entirely. At 100 TB this is the
    only viable shape: the default regime re-exchanges the full
    surviving edge set once per round. The layout is carried by the
    checkpoints, so with ``iterutil._CHECKPOINT`` off k_core always plans
    the default regime.

    Pass a ``stats`` dict to receive ``{"rounds": n, "local_finish":
    bool, "partitioned_edges": bool}`` (observability + test probe).

    Returns ``(id, degree)`` for core members (their degree WITHIN the
    core); an empty frame when no k-core exists.
    """
    if k < 1:
        raise ValueError(f"k_core: k must be >= 1, got {k}")
    if stats is None:
        stats = {}
    stats["rounds"] = 0
    stats["local_finish"] = False
    stats["partitioned_edges"] = False

    edges = iterutil.cut_lineage(
        pairs.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        eager=False,
    )
    if iterutil._CHECKPOINT:
        # round 0: the bounded collect materializes the lazy checkpoint,
        # so a graph too large to finish here pays nothing twice
        local = _k_core_local_finish(edges, k, stats)
        if local is not None:
            return local
    n_edges = edges.count()
    if iterutil._CHECKPOINT and n_edges >= _KCORE_PARTITION_EDGES_MIN:
        stats["partitioned_edges"] = True
        return _k_core_partitioned(edges, k, max_iter, stats)
    for _ in range(max_iter):
        if n_edges == 0:
            # empty core with the INPUT id type (limit(0) keeps the
            # schema), so unions/joins across k values never type-clash
            return (
                edges.select(F.col("a").alias("id"))
                .limit(0)
                .withColumn("degree", F.lit(0).cast("bigint"))
            )
        if iterutil._CHECKPOINT:
            local = _k_core_local_finish(edges, k, stats, n_edges)
            if local is not None:
                return local
        deg = (
            edges.select(F.col("a").alias("id"))
            .unionAll(edges.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= k).select("id")
        # lazy checkpoint + count fuse "cut lineage" and "test convergence"
        # into one job per round; the parent edge frame is already
        # materialized, so broadcast pre-jobs never re-walk history
        pruned = iterutil.cut_lineage(
            edges.join(keep.withColumnRenamed("id", "a"), "a", "left_semi").join(
                keep.withColumnRenamed("id", "b"), "b", "left_semi"
            ),
            eager=False,
        )
        new_n = pruned.count()
        stats["rounds"] += 1
        if new_n == n_edges:
            # stable edge count == no vertex fell below k this round:
            # peeling is monotone (edges only leave), so this is the core.
            return deg.filter(F.col("degree") >= k)
        edges, n_edges = pruned, new_n
    raise RuntimeError(f"k_core did not stabilize in {max_iter} rounds")
