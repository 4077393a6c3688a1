"""Shared plumbing for the iterative operators (BFS / PageRank / k-core /
connected components): partitioning-preserving localCheckpoints, the
convergence-check cadence, and the bounded collect behind the local
finish.

The iterative operators all follow the same BSP shape — a small mutable
state frame joined against a large immutable edge frame once per round,
with ``localCheckpoint`` cutting lineage each round. Stock
``localCheckpoint`` has a costly blind spot: under AQE the checkpointed
``LogicalRDD`` records ``UnknownPartitioning`` (AQE's final physical plan
does not expose its output partitioning at checkpoint-creation time), so
EVERY later join against the checkpoint re-shuffles it — the edge frame,
the biggest table in the loop, pays a full shuffle per round for no
reason. With AQE disabled just for the checkpoint's own execution, the
``LogicalRDD`` retains ``hashpartitioning(keys, n)`` and EnsureRequirements
drops the per-round exchange entirely (verified in
tests/test_iterutil.py by plan inspection).

At cluster scale this is the difference between shuffling the edge
multiset O(rounds) times and shuffling it once: the canonical Pregel
cost model (one vertex-state shuffle per superstep, edges partitioned
once up front). AQE stays on for everything else — the toggle wraps only
the checkpoint materialization, and the per-round joins still plan under
AQE (EnsureRequirements refuses to coalesce a side that must co-partition
with the fixed checkpoint layout, so correctness never depends on the
toggle).

Local finish: a graph of at most ``_LOCAL_FINISH_EDGES`` edges is
solved on the driver, where every distributed round would be pure
per-job overhead. ``collect_bounded`` is the one collect that finishes
it — connected components calls it before its rounds, k-core before its
rounds and again once the surviving edges fit.

The constants below are read at call time, never bound at import (no
``from .iterutil import _LOCAL_FINISH_EDGES``, no default argument), so
a test that sets one forces every operator onto the path it selects.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_AQE_KEY = "spark.sql.adaptive.enabled"

#: Largest edge count an iterative operator finishes on the driver. The
#: crossover lies above 4x this (4 cores, connected components, median
#: of 3, local finish vs rounds): 100k edges in 6-member stars 1.2 vs
#: 4.1 s (hashmin), 400k 3.9 vs 6.8 s; a 100k-edge random functional
#: graph 1.2 vs 15.4 s (star), 400k 3.7 vs 36.8 s. It is not raised: the
#: driver holds every vertex in Python dicts (100k bigint pairs are
#: about 1.6 MB of Arrow).
_LOCAL_FINISH_EDGES = 100_000

#: Rounds between convergence checks in the pagerank and hashmin CC
#: loops (CC also checks each of its first four rounds). Each check is a
#: driver action (a full job submission), so batching them trades up to
#: ``_CHECK_EVERY - 1`` extra cheap rounds for fewer round-trips.
_CHECK_EVERY = 4

#: Whether ``cut_lineage`` checkpoints. Off (plan inspection only, the
#: ``lazy_plans`` test fixture), every operator returns its whole lazy
#: plan and skips what needs a materialized frame: no local finish, and
#: pagerank and k_core plan their default regime.
_CHECKPOINT = True


@contextmanager
def _aqe_disabled(spark):
    """Scope spark.sql.adaptive.enabled=false around ONE checkpoint
    compile. The override is on the shared session conf — SQL confs have
    no per-query scoping mechanism — so any OTHER thread planning a query
    on the same SparkSession inside this window would silently plan with
    AQE off (a performance regression for it, never a correctness one).
    The iterative operators assume the usual single-threaded driver loop;
    callers running concurrent planning threads should serialize calls
    into the iterative family or accept that window."""
    prev = spark.conf.get(_AQE_KEY, "true")
    spark.conf.set(_AQE_KEY, "false")
    try:
        yield
    finally:
        spark.conf.set(_AQE_KEY, prev)


def localcheckpoint_partitioned(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition ``df`` on ``cols`` (``spark.sql.shuffle.partitions``
    buckets) and eagerly localCheckpoint it such that the materialized
    frame RETAINS its hash partitioning — later equi-joins / groupBys on
    ``cols`` need no exchange on this side.

    Use for the loop-invariant big frame (the edge set): one shuffle up
    front buys zero edge shuffles per round.
    """
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with _aqe_disabled(spark):
        return df.repartition(n, *cols).localCheckpoint()


def localcheckpoint_keep_partitioning(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint that retains whatever hash partitioning the plan
    already produces (e.g. per-round state whose plan ends in a join or
    aggregate keyed on the state id) — WITHOUT inserting an extra
    repartition. The per-round state then re-enters the next round's
    joins exchange-free.

    ``eager=False`` marks the plan for checkpointing but defers
    materialization to the caller's FIRST action — the idiom for fusing
    "cut lineage" and "test convergence" into ONE job per round: an
    eager checkpoint followed by a count is two driver round-trips; a
    lazy checkpoint whose count triggers the persist is one. (Each job
    is ~200 ms of fixed scheduling cost in local mode and a full
    scheduler round-trip on a cluster — at tens of rounds this is the
    dominant term for small per-round state.)
    """
    with _aqe_disabled(df.sparkSession):
        return df.localCheckpoint(eager=eager)


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager=eager)``, or ``df`` itself when
    ``_CHECKPOINT`` is off."""
    return df.localCheckpoint(eager=eager) if _CHECKPOINT else df


def collect_bounded(df: DataFrame, rows: int | None = None):
    """``df`` as a pyarrow Table when it holds at most
    ``_LOCAL_FINISH_EDGES`` rows, else None. One bounded job —
    ``limit(bound + 1).toArrow()`` — reads at most one row past the
    bound; ``toArrow`` keeps nullable bigint ids integral (``toPandas``
    would widen them to float64). ``rows``, when the caller already
    counted ``df``, skips the job for a frame known to be too large."""
    bound = _LOCAL_FINISH_EDGES
    if rows is not None and rows > bound:
        return None
    tbl = df.limit(bound + 1).toArrow()
    return None if tbl.num_rows > bound else tbl
