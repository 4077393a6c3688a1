"""Connected components + entity resolution — the clustering stage that
turns verified duplicate PAIRS into ENTITIES.

Every large-scale dedup/linkage pipeline ends the same way: blocking
(deletion-neighborhood / MinHash-LSH / cross-polytope) -> pairwise verify
(levenshtein / Jaccard / cosine) -> CONNECTED COMPONENTS over the match
graph -> one canonical record per component. The first two stages live in
``operators.dedup`` / ``operators.similarity``; this module supplies the
last two.

Local finish (shared with ``graph.k_core`` through
``iterutil.collect_bounded``): a graph of at most
``iterutil._LOCAL_FINISH_EDGES`` input edges is collected in ONE bounded
Arrow job and solved by a union-find on the driver. A verified-pair
graph is usually that small, and on it every distributed round is pure
per-job overhead: on the fuzzy-dedup tail of a 2,000-doc corpus (48
candidate pairs, 45 merged docs) the rounds take 31 jobs and 3.2 s, the
finish 6 jobs and 0.8 s (4 cores).

Distributed rounds (graphs above the bound): a per-partition
union-find pass first contracts each partition's edges to depth-1 stars
(no shuffle), then hash-min label propagation (the standard map-reduce
CC — e.g. Rastogi et al. 2013 "Finding Connected Components in
Map-Reduce in Logarithmic Rounds" use this as the HCC baseline): every
vertex starts labeled with its own id; each round every vertex takes the
min label in its closed neighborhood; converged when no label changes.
Rounds are bounded by the graph diameter — dup-cluster graphs are
shallow (stars / short chains), so 3-5 rounds typically converge;
``max_iter`` caps runaway graphs and convergence is checked with a cheap
aggregate, not a collect. The star contraction is the alternative for
deep graphs.

Spark shapes: one shuffle per round (groupBy vertex on the propagated
labels); lineage is cut with localCheckpoint each round so the iterative
plan does not snowball (the classic iterative-DataFrame trap). Fully
deterministic: min over the ids, no RNG.

NULL endpoints, on every path: the vertex set is every endpoint, so a
NULL endpoint makes ONE NULL vertex whose ``comp`` is NULL; an edge with
a NULL endpoint connects nothing (its other endpoint is a vertex, alone
unless other edges join it). A self-loop vertex is its own component.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from . import iterutil


def _union_find_min(edges: Iterable[tuple]) -> dict:
    """``{vertex: its component's minimum vertex}`` for every endpoint of
    ``edges`` (NULL-free ``(a, b)`` pairs, consumed once). Union links
    the larger root under the smaller, so every root IS its component's
    minimum — the label Spark's ``min`` gives on the distributed path
    (bigint and string ids order the same in Python)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for va, vb in edges:
        parent.setdefault(va, va)
        parent.setdefault(vb, vb)
        ra, rb = find(va), find(vb)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    for v in parent:
        parent[v] = find(v)
    return parent


def _local_finish(pairs: DataFrame, src: str, dst: str) -> DataFrame | None:
    """``(id, comp)`` from a driver-side union-find when ``pairs`` fits
    ``iterutil.collect_bounded``, else None."""
    import pyarrow as pa

    tbl = iterutil.collect_bounded(pairs)
    if tbl is None:
        return None
    clean, loose = [], set()
    for a, b in zip(tbl.column(0).to_pylist(), tbl.column(1).to_pylist()):
        if a is None or b is None:
            loose.update((a, b))
        else:
            clean.append((a, b))
    comp = _union_find_min(clean)
    for v in loose:
        # NULL gets comp NULL; an endpoint only ever paired with NULL is alone
        comp.setdefault(v, v)
    ids = pairs.select(F.col(src).alias("id")).unionAll(
        pairs.select(F.col(dst).alias("id"))
    ).schema["id"]
    schema = StructType([ids, StructField("comp", ids.dataType, ids.nullable)])
    return pairs.sparkSession.createDataFrame(
        pa.table({"id": list(comp), "comp": list(comp.values())}), schema
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    algorithm: str = "hashmin",
) -> DataFrame:
    """(id, comp) for every vertex appearing in ``pairs``; comp =
    min vertex id reachable. Raises if ``max_iter`` rounds don't converge.

    ``algorithm`` picks the round structure for the graph's shape:

    - ``"hashmin"`` (default): label propagation — one join + one groupBy
      per round, rounds = closed-neighborhood hops to the component min,
      i.e. O(diameter). The right choice for dup-pair graphs (stars /
      short chains, 3-5 rounds); pathological on long paths.
    - ``"star"``: alternating large-star / small-star contraction (Kiveris
      et al. 2014, "Connected Components in MapReduce and Beyond") —
      converges in O(log^2 n) rounds regardless of diameter, each round a
      groupBy + join on the same key. The scale path for arbitrary graphs
      (the friendship chains here are diameter ~n/2: hash-min would need
      hundreds of rounds at sf0.1 where star needs ~a dozen).

    Convergence is a driver action (a join + count). The hashmin
    schedule is HYBRID: every round through round 4 (the module's
    documented workload — dup-cluster graphs — converges in 3-5 rounds,
    and a wasted propagation round costs MORE than the check it would
    skip), then every ``iterutil._CHECK_EVERY`` rounds (deep graphs
    amortize the driver round-trips, the pagerank/star discipline).
    Batched checks are valid because min-propagation labels are monotone
    non-increasing: labels equal across a k-round window proves no label
    moved anywhere inside it.

    Before either round structure, a per-partition union-find pass
    (Arrow, no shuffle) collapses each partition's edges to (member,
    local-min) star edges — classic two-phase CC. The union of
    per-partition spanning forests has the same components as the
    original graph, so the result is unchanged; the global round count
    drops because every intra-partition path is already depth 1.

    **Local finish.** One bounded job first
    collects at most ``iterutil._LOCAL_FINISH_EDGES + 1`` input edges
    (Arrow). When the graph has at most that many edges (100,000;
    duplicates count) the components come from a union-find on the
    driver, returned as a small ``(id, comp)`` frame with the input's id
    type — the same rows as the rounds, so ``algorithm`` and ``max_iter``
    only shape the distributed path. The collect runs on the raw edges,
    BEFORE the contraction: the bound is then a property of the input,
    and a small graph skips the contraction's Python pass. Above the
    bound the rounds run as if the collect had not happened, reading the
    checkpoint it materialized. With ``iterutil._CHECKPOINT`` off (plan
    inspection) the finish is skipped, so the plan keeps the rounds' full
    lineage.

    NULL endpoints: every endpoint is a vertex, a NULL endpoint adds one
    NULL vertex with a NULL ``comp``, and an edge with a NULL endpoint
    connects nothing. A self-loop vertex is its own component.
    """
    if algorithm not in ("hashmin", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r}: use 'hashmin' or 'star'")
    if iterutil._CHECKPOINT:
        # Lazy: the local finish's bounded collect materializes every
        # partition (its local limit runs in each one and the cache keeps
        # whole partitions), so the upstream subtree — for the dedup tail
        # LSH banding + Jaccard verify — runs once, and both round
        # structures' self-unions read executor-local blocks.
        pairs = iterutil.cut_lineage(pairs.select(F.col(src), F.col(dst)), eager=False)
        local = _local_finish(pairs, src, dst)
        if local is not None:
            return local
    # the rounds read the contracted edges twice (self-union / vertex
    # set): cut here so the Python pass runs once
    pairs = iterutil.cut_lineage(_contract_partitions(pairs, src, dst), eager=False)
    if algorithm == "star":
        return _cc_star(pairs, src, dst, max_iter)

    def _cp(df: DataFrame) -> DataFrame:
        # lazy: each round's frame is materialized by the convergence
        # check's job instead of its own eager job (the bfs.py fuse
        # pattern): one job per checked round, zero jobs for the rounds a
        # batched check window skips
        return iterutil.cut_lineage(df, eager=False)

    edges = _cp(
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionAll(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    labels = _cp(
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
    )
    def _round(lab: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(lab, edges.b == lab.id)
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("comp").alias("nmin"))
        )
        return _cp(
            lab.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))).alias("comp"),
            )
        )

    def _same(a: DataFrame, b: DataFrame) -> bool:
        return (
            a.alias("n")
            .join(b.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
            == 0
        )

    anchor = labels  # snapshot at the last convergence check
    for rnd in range(1, max_iter + 1):
        labels = _round(labels)
        if rnd <= 4 or rnd % iterutil._CHECK_EVERY == 0:
            if _same(labels, anchor):
                return labels
            anchor = labels
    # The windowed check can't tell "converged inside the final window"
    # from "still moving" — one fixed-point probe arbitrates: labels are a
    # fixed point of the round function iff the algorithm has converged.
    if _same(_round(labels), labels):
        return labels
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def _contract_partitions(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Collapse each partition's edges to (member, local-component-min)
    star edges with an executor-local union-find — zero shuffle, one Arrow
    pass (classic two-phase CC, e.g. the "local contraction" phase of
    Kiveris et al. 2014 §6 / GraphFrames' prepartition trick).

    Correctness: each partition's output is a spanning forest of the
    subgraph induced by its edges (member -- local-min paths), and
    replacing any subgraph by a spanning forest preserves global
    connectivity, so CC(union of forests) == CC(original). Output size is
    bounded by the number of distinct vertices per partition — for dense
    or locally-chained graphs that is a large cut in the edge set the
    global rounds must shuffle (a partition holding a k-edge chain emits
    k star edges of depth 1; the global rounds start from depth 1, not
    depth k).

    The per-partition loop is :func:`_union_find_min` — plain Python
    with path halving over a value-keyed parent map, ~1M edges/s/core —
    consuming each Arrow batch INCREMENTALLY: worker memory is
    O(distinct vertices in the partition), never O(edges) (no batch
    buffering, no concat copies), so the pass stays stream-shaped at any
    edges-per-partition. Each partition's work is independent, so it
    scales horizontally with executors.

    Edges with a NULL endpoint are passed through UNCONTRACTED (union'd
    back verbatim): the downstream algorithms keep null endpoints as
    vertices in their own (degenerate) way, and replacing only the
    clean subgraph by its spanning forest preserves that behavior
    exactly — the contraction stays a pure optimization.
    """
    import pandas as pd

    out_schema = pairs.select(F.col(src).alias("hi"), F.col(dst).alias("lo")).schema

    def contract(batches):
        dtype = None

        def edges():
            nonlocal dtype
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                if dtype is None:
                    dtype = pdf.iloc[:, 0].dtype
                yield from zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist())

        comp = _union_find_min(edges())
        if not comp:
            return
        # emit (member, min) for every non-root member -> a depth-1 star
        # forest. Size-1 components only arise from self-loop input edges;
        # emit the loop so the vertex survives into the global vertex set
        # (downstream verts derive from these pairs).
        has_members = {r for v, r in comp.items() if v != r}
        hi_out, lo_out = [], []
        for v, r in comp.items():
            if v != r or r not in has_members:
                hi_out.append(v)
                lo_out.append(r)
        yield pd.DataFrame(
            {
                "hi": pd.Series(hi_out, dtype=dtype),
                "lo": pd.Series(lo_out, dtype=dtype),
            }
        )

    renamed = pairs.select(F.col(src).alias("hi"), F.col(dst).alias("lo"))
    clean = renamed.filter(F.col("hi").isNotNull() & F.col("lo").isNotNull())
    dirty = renamed.filter(F.col("hi").isNull() | F.col("lo").isNull())
    contracted = clean.mapInPandas(contract, schema=out_schema)
    return contracted.unionAll(dirty).select(
        F.col("hi").alias(src), F.col("lo").alias(dst)
    )


def _cc_star(pairs: DataFrame, src: str, dst: str, max_iter: int) -> DataFrame:
    """Alternating large-star / small-star contraction.

    Edges are kept normalized as (hi, lo) with hi > lo. Per round-pair:

    - large-star: every node u computes m = min(closed neighborhood) and
      rewires each LARGER neighbor v > u to (v, m) — long paths halve.
    - small-star: every hi-node rewires all its smaller neighbors (and
      itself) to its neighborhood min — stars flatten toward the root.

    Fixed point = disjoint stars centered at each component's min id; the
    edge set is then exactly (member, component-min). Each half-round is
    one groupBy(min) + one join on the same key (AQE reuses the exchange)
    + a distinct; lineage cut per round-pair. Convergence = edge set
    unchanged by a full pair (count equal + empty symmetric difference
    witness), checked per pair — the potential argument in the paper makes
    equality a valid stop."""
    def _cp(df: DataFrame) -> DataFrame:
        # LAZY: every _cp() here is immediately followed by the _stats
        # probe, whose job materializes the frame (the bfs.py fuse
        # pattern), halving the star path's per-round job count
        return iterutil.cut_lineage(df, eager=False)

    def _stats(df: DataFrame) -> tuple:
        # One job per round: (edge count, order-independent multiset
        # digests of each endpoint column). bit_xor over xxhash64 keeps
        # the digest TYPE-AGNOSTIC (string doc ids — this module's dedup
        # use case — must not be summed directly: ANSI cast failure) and
        # OVERFLOW-FREE (summing raw 64-bit hashes aborts under ANSI). A
        # changed digest proves the edge set changed, so count-equal
        # rounds with moving labels (measured: 3-4 per run near
        # convergence) no longer trigger the expensive exceptAll witness;
        # exceptAll remains the EXACT stop — it runs whenever the triple
        # repeats, so a digest collision merely costs one extra check,
        # never a wrong result.
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(hi))").alias("sh"),
            F.expr("bit_xor(xxhash64(lo))").alias("sl"),
        ).first()
        return (r.n, r.sh, r.sl)

    # verts is consumed exactly once (the final left join) — no
    # checkpoint: materializing it would be a whole extra job with no
    # reuse to amortize it.
    verts = (
        pairs.select(F.col(src).alias("id"))
        .unionAll(pairs.select(F.col(dst).alias("id")))
        .distinct()
    )
    edges = (
        pairs.select(
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
            F.least(F.col(src), F.col(dst)).alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )
    edges = _cp(edges)
    stats = _stats(edges)
    for _ in range(max_iter):
        if stats[0] == 0:
            break
        # large-star over the undirected neighbor view
        nbrs = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionAll(
            edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least(F.col("u"), F.col("_mn")).alias("m"))
        )
        # no distinct here: duplicate edges can't move a min aggregate, and
        # small-star's distinct dedups the pair's output — saves one full
        # shuffle per round
        large = (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
        )
        # small-star: edges already point hi -> smaller lo
        mins2 = large.groupBy("hi").agg(F.min("lo").alias("m"))
        joined = large.join(mins2, "hi")
        small = (
            joined.select(F.col("hi"), F.col("m").alias("lo"))
            .unionAll(
                joined.filter(F.col("lo") != F.col("m")).select(
                    F.col("lo").alias("hi"), F.col("m").alias("lo")
                )
            )
            .distinct()
        )
        small = _cp(small)
        new_stats = _stats(small)
        if new_stats == stats and small.exceptAll(edges).limit(1).count() == 0:
            edges = small
            break
        edges, stats = small, new_stats
    else:
        raise RuntimeError(f"connected_components(star) did not converge in {max_iter} rounds")
    member = edges.groupBy(F.col("hi").alias("id")).agg(F.min("lo").alias("comp"))
    return verts.join(member, "id", "left").select(
        "id", F.coalesce(F.col("comp"), F.col("id")).alias("comp")
    )


def resolve_entities(
    records: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Entity resolution tail: records + verified duplicate pairs ->
    records with ``entity_id`` (the component's min member id; singletons
    keep their own id) and ``is_canonical`` (true for the min-id member —
    the deterministic representative).

    Components come from :func:`connected_components`: a pair graph of
    at most 100k edges is solved on the driver (the local finish); a
    larger one is contracted per partition before its hashmin rounds
    (the r12 stage profile, BASELINE.md, measured that union-find pass
    cutting the CC term of the composed fuzzy-dedup panel 2.7x at sf0.1
    and 4.8x at sf1, 6.88 s -> 1.43 s, labels identical — dup-pair
    graphs are exactly the shallow-component shape the contraction
    collapses to depth 1 before any global round)."""
    comp = connected_components(pairs, src, dst)
    out = (
        records.join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn("entity_id", F.coalesce(F.col("comp"), F.col(id_col)))
        .drop("comp")
    )
    w = Window.partitionBy("entity_id").orderBy(F.col(id_col))
    return out.withColumn("is_canonical", F.row_number().over(w) == 1)
