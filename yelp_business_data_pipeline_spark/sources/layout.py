"""Data-layout helpers: Z-order (Morton) clustering for multi-column scan
pruning.

A parquet row group can be skipped when its min/max stats exclude the
filter. Sorting by ONE column makes that column's stats selective and
leaves every other column's range spanning the whole file — a filter on
the second column prunes nothing. Interleaving the bits of several
columns (the Z-order curve — Morton 1966; Delta Lake's OPTIMIZE ZORDER,
Databricks' data-skipping recipe) makes EACH participating column's
range small within any contiguous chunk of the sort order, so filters on
any subset of the columns skip row groups.

``zorder_key`` is a pure JVM expression (shiftleft/or chains — no UDF, no
shuffle of its own): add it as a column and pass it as
``write_overwrite(sort_by=[...])``, which sorts each write task after any
rebalance (``sources/writers.py`` notes).
Columns must already be NON-NEGATIVE INTEGER surrogates of bounded width
— map domain values onto a grid first (truncate timestamps to epoch
buckets, quantize floats to fixed-point, hash-bucket strings).
EXACT global ranks are deliberately not built in (they need the global
sort Z-ordering exists to avoid); the two shuffle-free per-row mappers
are ``grid_surrogate`` (static domain bounds) and
``quantile_grid_surrogate`` (an ``approxQuantile``-derived piecewise-
linear CDF, computed once and carried to executors as a small knot
array — the choice for skewed columns where static bounds would dump
most rows into one cell).

The locality property (consecutive chunks of the z-order have small
per-column spans, so chunk min/max stats prune on EVERY dimension) is
pinned in ``tests/test_layout.py`` against a lexicographic-sort control.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd  # module-level: pandas_udf resolves the 'pd.Series'
# string annotations (PEP 563) against THIS module's globals — a local
# import inside the builder breaks typehint resolution.
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(cols: Sequence[Column | str], bits: int = 16) -> Column:
    """Morton-interleave ``bits`` low bits of each column into one long.

    Bit layout: output bit ``i * len(cols) + j`` = bit ``i`` of column
    ``j`` — dimension 0 occupies the least-significant position of each
    group, so equal-width dimensions contribute symmetrically to the
    curve. ``len(cols) * bits`` must fit in 63 bits (raises otherwise).
    Out-of-range inputs (negative or >= 2^bits) raise at execution time
    rather than silently aliasing distant grid cells onto each other.
    """
    ncols = len(cols)
    if ncols == 0:
        raise ValueError("zorder_key needs at least one column")
    if bits < 1:
        # bits=0 would emit a constant key: the sort consumer silently
        # gets an unclustered layout with zero pruning benefit
        raise ValueError(f"zorder_key: bits must be >= 1, got {bits}")
    if ncols * bits > 63:
        raise ValueError(f"{ncols} cols x {bits} bits exceeds a signed long")
    limit = 1 << bits
    out = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        col = F.col(c) if isinstance(c, str) else c
        col = col.cast("long")
        # NULL must raise too: a NULL comparison is falsy in when(), so
        # without the explicit isNull the guard would silently emit NULL
        # keys and cluster every NULL row together unnoticed.
        guard = F.when(
            col.isNull() | (col < 0) | (col >= limit),
            F.raise_error(
                F.concat(
                    F.lit(f"zorder_key: NULL or out-of-[0, {limit}) value for {bits}-bit dim {j}: "),
                    F.coalesce(col.cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        ).otherwise(col)
        for i in range(bits):
            out = out.bitwiseOR(
                F.shiftleft(F.shiftright(guard, i).bitwiseAND(F.lit(1)), i * ncols + j)
            )
    return out


def grid_surrogate(col: Column | str, lo: float, hi: float, bits: int = 16) -> Column:
    """Map a bounded numeric/timestamp-epoch column onto the [0, 2^bits)
    integer grid ``zorder_key`` consumes: linear quantization against the
    STATIC domain bounds [lo, hi] — shuffle-free (every executor decides
    locally from constants), unlike rank/quantile normalization which
    needs the global sort Z-ordering exists to avoid. Values are clamped
    to the bounds (out-of-domain stragglers land in the edge cells rather
    than failing the write); NULLs and NaNs stay NULL (route them to a
    dedicated partition or filter them out before z-ordering —
    zorder_key raises loudly on NULL input).

    Bounds come from domain knowledge (timestamps: the table's retention
    window; lat/lon: the service region) or a one-off sampled min/max —
    precision beyond "cells distribute the data" is not required, the
    curve only needs a consistent grid.
    """
    if not hi > lo:
        raise ValueError(f"grid_surrogate needs hi > lo, got [{lo}, {hi}]")
    c = (F.col(col) if isinstance(col, str) else col).cast("double")
    cells = (1 << bits) - 1
    scaled = F.floor((c - F.lit(float(lo))) / F.lit(float(hi - lo)) * F.lit(float(cells + 1)))
    # greatest/least IGNORE nulls (they return the extreme non-null), which
    # would silently clamp NULL inputs into cell 0; and floor(NaN) casts to
    # long 0 in Spark, aliasing NaN onto real lo-edge values — keep both
    # NULL so downstream routing (and zorder_key's guard) sees them.
    clamped = F.least(F.greatest(scaled, F.lit(0)), F.lit(cells)).cast("long")
    return F.when(c.isNull() | F.isnan(c), F.lit(None).cast("long")).otherwise(clamped)


def quantile_grid_surrogate(
    df: DataFrame,
    col: str,
    bits: int = 16,
    n_knots: int = 257,
    relative_error: float = 1e-3,
) -> Column:
    """Skew-proof grid mapper: cell = floor(CDF(x) * 2^bits), with the CDF
    a piecewise-linear interpolation through ``n_knots`` evenly-spaced
    ``approxQuantile`` knots of ``col`` (Greenwald-Khanna sketch — one
    pass, no global sort). On a log-normal column, static bounds put ~all
    rows in a handful of edge cells and the Z-curve degenerates to a
    single-column sort; quantile cells stay ~uniformly occupied, so every
    dimension keeps its pruning power.

    Cost model at 100 TB: ONE sketch pass at build time (driver holds
    ``n_knots`` doubles), then a shuffle-free vectorized ``searchsorted``
    per row (Arrow-batched pandas_udf — there is no JVM builtin for
    binary search over a broadcast array, and the O(n_knots)-per-row
    ``filter``/``aggregate`` HOF expression would be 256x more
    comparisons than the O(log) search). The knot array travels in the
    UDF closure — effectively a broadcast.

    Monotone in ``x`` by construction (clipped interpolation through
    non-decreasing knots), so range filters still map to cell ranges.
    NULL/NaN stay NULL, matching ``grid_surrogate``; values outside the
    sketched range clamp to the edge cells. Heavy point masses (a value
    spanning many knots) collapse to one cell — identical values carry no
    ordering information, so that is the correct degeneration.
    """
    import numpy as np

    if n_knots < 2:
        raise ValueError(f"quantile_grid_surrogate needs n_knots >= 2, got {n_knots}")
    probs = [i / (n_knots - 1) for i in range(n_knots)]
    qs = df.stat.approxQuantile(col, probs, relative_error)
    knots = np.asarray(qs, dtype=np.float64)
    knots = knots[~np.isnan(knots)]
    if knots.size < 2:
        raise ValueError(
            f"quantile_grid_surrogate: column {col!r} has < 2 non-NaN quantile "
            "knots (empty or all-NaN input)"
        )
    # GK sketches are non-decreasing by contract; enforce anyway so a
    # pathological sketch can't break searchsorted's precondition silently
    knots = np.maximum.accumulate(knots)
    cells = (1 << bits) - 1
    denom = float(knots.size - 1)

    @F.pandas_udf("long")
    def _cell(s: pd.Series) -> pd.Series:
        x = s.to_numpy(dtype=np.float64, na_value=np.nan)
        i = np.searchsorted(knots, x, side="right") - 1
        i = np.clip(i, 0, knots.size - 2)
        lo_k, hi_k = knots[i], knots[i + 1]
        span = hi_k - lo_k
        with np.errstate(invalid="ignore", divide="ignore"):
            frac = np.where(span > 0, (x - lo_k) / span, 0.0)
        cdf = (i + np.clip(frac, 0.0, 1.0)) / denom
        cell = np.clip(np.floor(cdf * (cells + 1)), 0, cells)
        nanmask = np.isnan(x)
        out = pd.array(np.where(nanmask, 0, cell).astype(np.int64), dtype="Int64")
        out[nanmask] = pd.NA
        return pd.Series(out)

    return _cell(F.col(col).cast("double"))
