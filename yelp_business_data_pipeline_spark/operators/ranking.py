"""PageRank over the DataFrame edge table — the iterative-analytics
exemplar next to connected_components (same lineage discipline).

The classic damped power iteration (Page, Brin, Motwani & Winograd 1999):
``rank = (1-d)/N + d * (contributions from in-neighbors + dangling mass
/ N)``. Spark-first shape per round: one equi-join (edges x ranks on the
source), one groupBy on the destination. Dangling vertices (no out-edges)
redistribute their mass globally via a 1-row aggregate crossed onto the
update (a broadcast of ONE value, not a collect of the rank vector).
Lineage is cut with ``localCheckpoint`` each round like
connected_components — without it the plan doubles per iteration; swap
for reliable ``checkpoint()`` on a real cluster.

Two physical regimes, chosen from the measured edge count at call time
(``_PARTITION_EDGES_MIN``):

* **Small graphs** — plain per-round checkpoints, AQE on. AQE coalesces
  the tiny per-round shuffles to a handful of tasks, so the fixed
  per-task scheduling cost dominates and re-shuffling the small edge set
  each round is cheaper than pinning a wide fixed layout.
* **Large graphs** — the Pregel cost model: the edge set is hash-
  partitioned on the source vertex ONCE and checkpointed with its layout
  retained (``iterutil``), and every per-round state frame is
  checkpointed keeping its hash layout, so each round's edges×ranks join
  is exchange-free on the edge side and only the vertex-sized state
  moves. At cluster scale this is the difference between shuffling the
  edge multiset O(rounds) times and once.

The crossover is MEASURED, not guessed (BASELINE.md round-6): on the
friendship graph the partitioned regime is ~1.6× slower at 60k edges
(fixed 32-task exchange cost per round, AQE off for the loop frames) and
~1.3× faster at 600k edges, growing 1.5× per 10× data vs 3.1× for the
AQE regime — the gap widens with every further 10×.

Deterministic: no RNG, fixed iteration count or an exact L1-convergence
test computed distributedly (1-row agg). No reference counterpart (the
reference has no iterative analytics); extends the graph family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import iterutil
from .iterutil import localcheckpoint_keep_partitioning, localcheckpoint_partitioned

# Symmetric-edge count above which the partitioned (Pregel-layout) regime
# wins. Measured crossover on the friendship graph lies between 60k
# (partitioned ~1.6× slower) and 600k edges (~1.3× faster); the midpoint
# errs toward the AQE regime because its penalty at the boundary is the
# bounded one (a re-shuffle of a still-small edge set per round) while the
# partitioned regime's small-graph penalty is per-round fixed task cost.
_PARTITION_EDGES_MIN = 200_000


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
    personalize: DataFrame | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """(id, rank) for every vertex in ``edges``; ranks sum to 1.

    Stops when the L1 delta between rounds drops below ``tol`` (computed
    as a 1-row distributed aggregate) or after ``max_iter`` rounds. The
    delta is evaluated only every ``iterutil._CHECK_EVERY``-th round:
    each check is a driver action (a full job submission, ~constant
    scheduling cost at cluster scale), so batching cuts driver
    round-trips at the price of up to ``_CHECK_EVERY - 1`` extra cheap
    iterations past convergence. The delta compared is always
    consecutive-round L1, so ``tol`` semantics do not depend on the
    cadence. Pass a ``stats`` dict to receive
    ``{"iterations": n, "delta_checks": n, "partitioned_edges": bool}``
    (observability + test probe). With ``iterutil._CHECKPOINT`` off
    (plan inspection) the returned plan is the genuine per-round
    join+groupBy lineage in the AQE regime.
    The regime (module docstring) is picked from the deduped symmetric
    edge count, measured off the already-materialized checkpoint (a
    cheap scan, no extra shuffle), at the ``_PARTITION_EDGES_MIN``
    crossover.
    Parallel edges are collapsed (a duplicated edge must not double a
    contribution); self-loops count like any other edge.

    ``personalize`` (a one-column DataFrame of vertex ids) switches to
    PERSONALIZED PageRank: teleport mass — the (1-d) restart AND dangling
    mass — lands uniformly on the SEED SET instead of all vertices, so
    ranks measure proximity to the seeds (the recommendation variant: seed
    a user's friends, rank the graph around them). Seeds not present in
    the edge set are ignored; an empty intersection raises. The teleport
    vector is a broadcast-joined indicator column, never a driver-side
    rank collect — the seed set can itself be large.
    """
    # materialize plainly first (the dedup exchange runs under AQE), size
    # the graph off the checkpoint, and only then pay the one-up-front
    # placement shuffle if the graph clears the crossover: edges
    # partitioned by source ONCE, so the per-round edges×ranks join needs
    # no exchange on the edge side, any round, ever
    e = iterutil.cut_lineage(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).distinct()
    )
    large = iterutil._CHECKPOINT and e.count() >= _PARTITION_EDGES_MIN
    if large:
        e = localcheckpoint_partitioned(e, "a")

    def _cp(df: DataFrame) -> DataFrame:
        if large:
            # retained-partitioning checkpoints (iterutil): every per-round
            # frame's plan ends keyed on the vertex id, so keeping the hash
            # layout makes the round's joins exchange-free except the single
            # contributions groupBy — the Pregel one-shuffle-per-superstep
            # cost model (plan rationale in iterutil's module docstring)
            return localcheckpoint_keep_partitioning(df)
        return iterutil.cut_lineage(df)

    vertices = _cp(
        e.select(F.col("a").alias("id"))
        .unionAll(e.select(F.col("b").alias("id")))
        .distinct()
    )
    n = vertices.count()
    if stats is None:
        stats = {}
    stats["partitioned_edges"] = large
    if n == 0:
        if personalize is not None:
            # the documented loud failure must fire on an empty graph too —
            # the seed/vertex intersection is necessarily empty
            raise ValueError("pagerank: no personalization seed exists in the graph")
        return vertices.withColumn("rank", F.lit(0.0))

    if personalize is not None:
        seed_col = personalize.columns[0]
        seeds = personalize.select(F.col(seed_col).alias("id")).distinct()
        # checkpoint so the caller's (possibly expensive) personalize
        # lineage runs once, not once for the count and again in the join
        in_graph = _cp(vertices.join(seeds, "id", "left_semi"))
        n_seeds = in_graph.count()
        if n_seeds == 0:
            raise ValueError("pagerank: no personalization seed exists in the graph")
        teleport = vertices.join(
            in_graph.withColumn("_t", F.lit(1.0 / n_seeds)), "id", "left"
        ).select("id", F.coalesce(F.col("_t"), F.lit(0.0)).alias("t"))
        teleport = _cp(teleport)
    else:
        teleport = _cp(vertices.withColumn("t", F.lit(1.0 / n)))

    # in the partitioned regime e is placed on a, so this groupBy
    # aggregates exchange-free; checkpointing it keyed on id stops every
    # round from re-scanning e
    out_deg = _cp(
        e.groupBy(F.col("a").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    )
    # teleport is already checkpointed; the rename needs no second copy
    ranks = teleport.select("id", F.col("t").alias("rank"))

    stats["iterations"] = 0
    stats["delta_checks"] = 0
    for it in range(max_iter):
        with_deg = ranks.join(out_deg, "id", "left")
        # mass from vertices WITH out-edges flows along them; dangling mass
        # teleports (1-row agg -> crossJoin of a single row, i.e. a
        # broadcast scalar, never a driver-side rank collect)
        dangling = (
            with_deg.filter(F.col("deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        )
        contribs = (
            e.join(with_deg.filter(F.col("deg").isNotNull()), e.a == with_deg.id)
            .select(F.col("b").alias("id"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        new_ranks = (
            teleport.join(contribs, "id", "left")
            .crossJoin(dangling)
            .select(
                "id",
                (
                    F.lit(1.0 - damping) * F.col("t")
                    + F.lit(damping)
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.col("_dm") * F.col("t"))
                ).alias("rank"),
            )
        )
        # EAGER checkpoint, deliberately: a lazy chain looks cheaper (one
        # job per check window) but each round's dangling-mass scalar is a
        # BROADCAST subtree — at execution Spark evaluates every broadcast
        # as its own pre-job over the still-unmaterialized chain, so round
        # k's broadcast re-walks rounds 1..k-1 and the window runs ~70%
        # SLOWER than eager rounds (measured at sf0.1). Eager keeps each
        # round's broadcast walking exactly one materialized RDD.
        new_ranks = _cp(new_ranks)
        stats["iterations"] = it + 1
        # Convergence is tested only on check rounds (and never on the final
        # round, where the loop exits regardless) — the L1 aggregate is
        # 1-row-cheap to compute but each .first() is a full job submission.
        if (it + 1) % iterutil._CHECK_EVERY == 0 and it + 1 < max_iter:
            delta = (
                new_ranks.alias("n")
                .join(ranks.alias("o"), "id")
                .agg(F.sum(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("d"))
                .first()["d"]
            )
            stats["delta_checks"] += 1
            ranks = new_ranks
            if delta < tol:
                break
        else:
            ranks = new_ranks
    return ranks
