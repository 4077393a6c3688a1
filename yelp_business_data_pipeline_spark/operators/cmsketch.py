"""Count-Min sketch — approximate frequency estimates as a DataFrame
(Cormode & Muthukrishnan 2005), the counting companion to the membership
Bloom filter (operators/bloom.py) and the fourth mergeable-summary
family beside HLL (distinct), KMV (set ops), and Misra-Gries (heavy
hitters with deterministic bounds).

What CM adds over MG: a frequency estimate for ANY key — MG tracks only
the m keys surviving its counters; CM answers point queries over the
whole domain with the one-sided guarantee ``estimate >= true`` and
``estimate <= true + eps * N`` with probability ``1 - delta`` (width
``w = ceil(e/eps)``, depth ``d = ceil(ln(1/delta))``). A pipeline uses
it where the query keys aren't known at build time: token/vocab counts
consulted after the fact, per-host page counts on a crawl, join-key
frequency probes for salting decisions.

Same relational design as the Bloom filter — the sketch IS a table,
never a driver object:

- **build**: each key explodes to ``depth`` (row, col) cell hits via
  Kirsch-Mitzenmacher double hashing; one partial-agg'd
  ``groupBy(row, col).sum()`` — the exchange carries at most
  ``depth * width`` cells per map task, regardless of input size. Only
  nonzero cells materialize (sparse).
- **merge**: union + the same sum groupBy — EXACT closure
  (``merge(build(A), build(B)) == build(A ++ B)`` cell-for-cell, pinned
  in pytest as equality; counters are linear, so this holds even with
  overlapping multisets — the KMV discipline).
- **estimate**: probe keys explode to their ``depth`` cells, left-join
  the cell table (broadcast by default — a 2048x4 sketch is ~8k rows),
  take the MIN over the key's rows with missing cells counting 0.

Every row carries its build ``(width, depth)`` (the KMV "row carries
its k" rule) so merging or probing with mismatched geometry raises
in-plan. The md5 hash path has an exact DuckDB twin
(plans/extensions.py:CM_SKETCH_ORACLE); ``impl="xxhash64"`` is the fast
engine-specific variant, as in every sketch family.

Reference scope note: no reference counterpart — LLM-pipeline extension
surface, the sketches.py tier.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import portable_hash

__all__ = ["cm_params", "build_cm_sketch", "merge_cm_sketches", "cm_estimate"]

_SALT_H1 = "cm1:"
_SALT_H2 = "cm2:"


def cm_params(eps: float, delta: float) -> tuple[int, int]:
    """Standard sizing: ``width = ceil(e / eps)`` (additive error
    ``eps * N``), ``depth = ceil(ln(1 / delta))`` (failure probability
    ``delta``). Returns ``(width, depth)``."""
    if not (0.0 < eps < 1.0):
        raise ValueError(f"cm_params: eps must be in (0, 1), got {eps}")
    if not (0.0 < delta < 1.0):
        raise ValueError(f"cm_params: delta must be in (0, 1), got {delta}")
    return math.ceil(math.e / eps), max(1, math.ceil(math.log(1.0 / delta)))


def _validate(width: int, depth: int) -> None:
    if width < 1:
        raise ValueError(f"cm sketch: width must be >= 1, got {width}")
    if not (1 <= depth <= 64):
        raise ValueError(f"cm sketch: depth must be in [1, 64], got {depth}")


def _cells(
    df: DataFrame,
    value_col: str,
    width: int,
    depth: int,
    impl: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(carry..., row, col) — one cell hit per (key occurrence, row).
    THE single cell-placement definition, shared by build and probe
    (the bloom `_word_rows` discipline)."""
    v = F.col(value_col)
    h1 = portable_hash(v, salt=_SALT_H1, impl=impl)
    h2 = portable_hash(v, salt=_SALT_H2, impl=impl)
    pairs = F.transform(
        F.sequence(F.lit(0), F.lit(int(depth) - 1)),
        lambda i: F.struct(
            i.cast("int").alias("row"),
            F.pmod(h1 + i.cast("bigint") * h2, F.lit(int(width)))
            .cast("int")
            .alias("col"),
        ),
    )
    return (
        df.filter(v.isNotNull())
        .select(*carry, F.explode(pairs).alias("_c"))
        .select(*carry, F.col("_c.row").alias("row"), F.col("_c.col").alias("col"))
    )


def build_cm_sketch(
    df: DataFrame,
    value_col: str,
    width: int,
    depth: int,
    impl: str = "md5",
    count_col: str | None = None,
) -> DataFrame:
    """Build the sketch over ``df[value_col]`` occurrences (a MULTISET —
    duplicate rows count; NULLs ignored, the sketch-family rule).
    Output: ``(row int, col int, cnt long, width int, depth int)``,
    nonzero cells only.

    ``count_col``: build from PRE-AGGREGATED (value, count) rows instead
    of raw occurrences — each key contributes its count to its cells.
    ``build(raw) == build(groupBy(value).count(), count_col=...)``
    exactly (linearity, pinned in pytest), and when the caller already
    needs the per-key counts (the panel does), the corpus explodes
    ONCE: the sketch builds from the |vocab|-sized aggregate."""
    _validate(width, depth)
    cells = _cells(
        df, value_col, width, depth, impl,
        carry=(count_col,) if count_col else (),
    )
    contrib = (
        F.sum(F.col(count_col)) if count_col else F.count(F.lit(1))
    )
    return (
        cells.groupBy("row", "col")
        .agg(contrib.cast("bigint").alias("cnt"))
        .withColumn("width", F.lit(int(width)).cast("int"))
        .withColumn("depth", F.lit(int(depth)).cast("int"))
    )


def merge_cm_sketches(
    sketches: list[DataFrame], width: int, depth: int
) -> DataFrame:
    """Exact merge: union + cell-wise sum (counters are linear). The
    stored geometry of every consumed row is asserted in-plan — merging
    sketches of different (width, depth) would silently misalign cells
    otherwise (the quantile-sketch shared-edges discipline)."""
    _validate(width, depth)
    if not sketches:
        raise ValueError("merge_cm_sketches: need at least one sketch")
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    ok = F.assert_true(
        (F.col("width") == F.lit(int(width)))
        & (F.col("depth") == F.lit(int(depth))),
        F.lit(
            f"merge_cm_sketches: sketch built with different (width, depth) "
            f"than ({width}, {depth})"
        ),
    )
    return (
        u.groupBy("row", "col")
        .agg(F.sum(F.when(ok.isNull(), F.col("cnt"))).alias("cnt"))
        .withColumn("width", F.lit(int(width)).cast("int"))
        .withColumn("depth", F.lit(int(depth)).cast("int"))
    )


def cm_estimate(
    df: DataFrame,
    sketch: DataFrame,
    value_col: str,
    width: int,
    depth: int,
    out_col: str = "cm_count",
    impl: str = "md5",
) -> DataFrame:
    """Annotate ``df`` with the point estimate for each ``value_col``
    key: min over the key's ``depth`` cells, a missing cell counting 0.
    One-sided by construction — never an underestimate (pinned as a
    property in pytest). NULL keys estimate 0 (never inserted). The
    sketch broadcasts (``depth * width`` cells max)."""
    _validate(width, depth)
    if out_col in df.columns:
        raise ValueError(f"cm_estimate: column {out_col!r} already exists")
    ok = F.assert_true(
        (F.col("width") == F.lit(int(width)))
        & (F.col("depth") == F.lit(int(depth))),
        F.lit(
            f"cm_estimate: sketch built with different (width, depth) "
            f"than ({width}, {depth})"
        ),
    )
    cells = F.broadcast(
        sketch.select("row", "col", F.when(ok.isNull(), F.col("cnt")).alias("cnt"))
    )
    probes = _cells(
        df.select(F.col(value_col).alias("_v")).distinct(),
        "_v",
        width,
        depth,
        impl,
        carry=("_v",),
    )
    est = (
        probes.join(cells, ["row", "col"], "left")
        .groupBy("_v")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("_est"))
    )
    out = df.join(est, on=F.col(value_col).eqNullSafe(F.col("_v")), how="left")
    return out.select(
        *df.columns, F.coalesce(F.col("_est"), F.lit(0)).cast("bigint").alias(out_col)
    )
