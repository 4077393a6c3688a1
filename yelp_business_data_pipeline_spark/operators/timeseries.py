"""Time-series gap filling — the TimescaleDB ``time_bucket_gapfill`` +
``locf`` surface, composed from stock DataFrame ops.

A rolled-up time series has holes wherever a (group, bucket) saw no rows;
BI layers and forecasting pipelines need a DENSE series with the holes
made explicit (count 0 / sum NULL) and optionally carried forward. The
scalable construction:

1. roll up to (group, bucket) — one shuffle, partial aggregation map-side;
2. derive each group's [min_bucket, max_bucket] span from the ROLLUP
   output (tiny: one row per group) and ``sequence()`` + ``explode`` it
   into the dense spine — the spine is generated executor-side from the
   aggregate row, never collected to the driver, and its size is
   groups x span_buckets, independent of raw-data row count;
3. left-join rollup onto the spine on (group, bucket). Both sides hash
   to the same composite key;
4. LOCF (last observation carried forward) via
   ``last(value, ignorenulls=True)`` over (group) ordered by bucket.

Cost: the rollup shuffle dominates; spine generation and the spine join
shuffle only rollup-sized data. The LOCF window partitions per group —
for multi-year spans at minute grain, window rows per group = span
buckets; if that exceeds memory, pre-split the window into coarse time
slabs and carry the seed across slabs (same trick as any prefix-scan at
scale). Gap rows are flagged ``is_gap`` so downstream can distinguish
"measured zero" from "filled zero".

No reference-repo counterpart (the reference has no time-series surface);
this extends the hypertable rollup family (`plans/extensions.py:
hypertable_rollup_events`, its driver-gated query).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


#: date_trunc grain -> the sequence() step that matches it. Callers bucketing
#: with ``time_bucket(col, grain)`` should pass ``GRAIN_STEPS[grain]`` so the
#: spine spacing always equals the bucket truncation — a day-grain rollup with
#: an hour step would yield a 24x-inflated spine where 23/24 rows are spurious
#: "gaps".
GRAIN_STEPS: dict[str, str] = {
    "minute": "interval 1 minute",
    "hour": "interval 1 hour",
    "day": "interval 1 day",
    "week": "interval 7 days",
}


def time_bucket(col: Column | str, grain: str) -> Column:
    """Truncate a timestamp to its bucket start (``date_trunc`` grain)."""
    return F.date_trunc(grain, col)


def gapfill_locf(
    rollup: DataFrame,
    group_cols: Sequence[str],
    bucket_col: str,
    value_cols: Sequence[str],
    step: str,
    count_cols: Sequence[str] = (),
) -> DataFrame:
    """Densify ``rollup`` (already aggregated to one row per (group,
    bucket)) over each group's observed span.

    Emits one row per (group, dense bucket) with:
      - ``count_cols`` coalesced to 0 on gap rows (a missing bucket saw
        zero rows — that IS the measurement);
      - ``value_cols`` kept NULL on gap rows (a missing bucket has no sum
        — zero would be a lie for e.g. averages) plus a ``<col>_locf``
        carry column;
      - ``is_gap`` boolean.

    The spine uses each group's own [min, max] — gap-fill never
    extrapolates outside a group's observed range, matching
    ``time_bucket_gapfill``'s default.

    ``step`` is required and must match the grain the rollup was bucketed
    with (see ``GRAIN_STEPS``); a mismatched step would manufacture spine
    rows between real buckets and report them as gaps.
    """
    gcols = list(group_cols)
    spine = (
        rollup.groupBy(*gcols)
        .agg(F.min(bucket_col).alias("_mn"), F.max(bucket_col).alias("_mx"))
        .select(
            *gcols,
            F.explode(F.sequence(F.col("_mn"), F.col("_mx"), F.expr(step))).alias(bucket_col),
        )
    )
    # is_gap must mean "the rollup had NO row for this bucket", not "some
    # rollup column was NULL" — an aggregated value column can legitimately
    # be NULL in a present row (SUM/AVG over all-NULL inputs). Attach an
    # explicit marker that survives the left join.
    dense = spine.join(
        rollup.withColumn("_present", F.lit(True)), on=[*gcols, bucket_col], how="left"
    )

    w = Window.partitionBy(*gcols).orderBy(bucket_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = dense.withColumn("is_gap", F.col("_present").isNull()).drop("_present")
    for c in count_cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    for c in value_cols:
        out = out.withColumn(f"{c}_locf", F.last(F.col(c), ignorenulls=True).over(w))
    return out


def _bucket_rollup(
    batch: DataFrame,
    group_cols: list[str],
    ts_col: str,
    grain: str,
    bucket_col: str,
    *aggs: Column,
) -> DataFrame:
    """The delta of a rollup refresh: ``batch`` aggregated by ``aggs`` per
    (group, bucket), with the ``bucket_date`` partition column the stored
    rollups use. Rows with a NULL timestamp have no bucket and drop."""
    return (
        batch.filter(F.col(ts_col).isNotNull())
        .groupBy(*group_cols, time_bucket(ts_col, grain).alias(bucket_col))
        .agg(*aggs)
        .withColumn("bucket_date", F.to_date(F.col(bucket_col)))
    )


def _stored_matches(
    delta: DataFrame, rollup_path: str, keys: list[str], pcols: list[str]
) -> DataFrame | None:
    """The stored rollup rows sharing a key with ``delta``, or None before
    the first refresh. Only the partitions ``delta`` writes into are read:
    a key (groups, bucket) fixes its partition (groups, bucket_date), so no
    match lies outside them. The partition columns are typed as ``delta``
    types them, not inferred from directory names (the typed read-back in
    ``sources/writers.py``'s module notes)."""
    from ..sources.writers import _exists, _in_partitions, _read_target

    spark = delta.sparkSession
    if not _exists(spark, rollup_path):
        return None
    stored = _read_target(spark, rollup_path, {c: delta.schema[c].dataType for c in pcols})
    return _in_partitions(stored, delta, pcols).join(delta.select(*keys), on=keys, how="left_semi")


def continuous_aggregate_update(
    batch: DataFrame,
    rollup_path: str,
    group_cols: Sequence[str],
    ts_col: str,
    grain: str,
    value_col: str,
    bucket_col: str = "bucket",
) -> dict:
    """Incrementally maintain a stored (group, bucket) rollup from a new
    event batch — TimescaleDB's continuous-aggregate refresh, composed from
    this engine's own pieces instead of a second system:

    1. roll the batch up to (group, bucket, n_events, value_sum) — one
       shuffle over BATCH rows only;
    2. read the stored rollup's matching rows (only the partitions the
       delta writes into, then a key semi-join, column-pruned) and combine
       additively (count + count, sum + sum in the sum's own type, with
       NULL algebra: COALESCE to keep a NULL+NULL sum NULL but NULL+x = x);
    3. ``merge_upsert`` writes the combined rows back. The stored table
       partitions by (group, bucket DATE) — group alone would make one
       late event rewrite the group's entire bucket history; the date
       subpartition scopes each refresh to the days it touches, so a late
       trickle against years of stored rollup stays a trickle of I/O.
       Rows with NULL timestamps are dropped (they have no bucket).

    COUNT and SUM are the refresh-safe aggregates (associative and
    commutative over disjoint batches); AVG derives as sum/count
    downstream. MIN/MAX combine the same way; percentiles/distinct need
    sketches (operators/sketches.py) — the standard continuous-aggregate
    constraint. Re-applying the SAME batch double-counts (the operator is
    additive by design); feed it from exactly-once ingest (St1) or the CDC
    stream so each event arrives once.

    The stored rows are read back by :func:`_stored_matches`: string
    groups ``'01'`` and ``'1'`` stay two groups, and a numeric-looking
    store still accepts a group ``'ab'``.

    Returns merge_upsert's stats dict.
    """
    from ..sources.writers import merge_upsert

    gcols = list(group_cols)
    keys = [*gcols, bucket_col]
    pcols = [*gcols, "bucket_date"]
    delta = _bucket_rollup(
        batch, gcols, ts_col, grain, bucket_col,
        F.count(F.lit(1)).alias("n_events"),
        F.sum(value_col).alias("value_sum"),
    )

    stored = _stored_matches(delta, rollup_path, keys, pcols)
    if stored is not None:
        matched = stored.select(
            *keys,
            F.col("n_events").alias("_old_n"),
            F.col("value_sum").alias("_old_s"),
        )
        delta = (
            delta.join(matched, on=keys, how="left")
            .select(
                *keys,
                "bucket_date",
                (F.col("n_events") + F.coalesce(F.col("_old_n"), F.lit(0))).alias("n_events"),
                F.when(
                    F.col("value_sum").isNull() & F.col("_old_s").isNull(), F.lit(None)
                )
                .otherwise(
                    F.coalesce(F.col("value_sum"), F.lit(0))
                    + F.coalesce(F.col("_old_s"), F.lit(0))
                )
                # an integer sum stays integer: merge_upsert rejects a type change
                .cast(delta.schema["value_sum"].dataType)
                .alias("value_sum"),
            )
        )
    return merge_upsert(delta, rollup_path, keys=keys, partition_by=pcols)


def incremental_distinct_rollup(
    batch: DataFrame,
    rollup_path: str,
    group_cols: Sequence[str],
    ts_col: str,
    grain: str,
    id_col: str,
    bucket_col: str = "bucket",
) -> dict:
    """Continuous-aggregate refresh for COUNT DISTINCT — the aggregate
    plain additive refresh cannot maintain (re-seen ids must not double-
    count). Stores a Datasketches HLL sketch (binary) per (group, bucket):
    the batch's per-bucket sketches merge into the stored ones via
    ``hll_union`` (register-wise, associative, re-orderable), written back
    through ``merge_upsert`` so only touched partitions rewrite. Read the
    estimate with ``hll_sketch_estimate(n_distinct_hll)``.

    Unlike the additive counts in :func:`continuous_aggregate_update`,
    merging batches that SHARE ids stays correct — the sketch absorbs
    duplicates. Estimates carry standard HLL error (~2% at the default
    lgK); the union estimate can differ in the last ulps from a
    single-pass sketch (mode promotion), never beyond sketch error. The
    stored sketches are read back by :func:`_stored_matches`.
    """
    from ..sources.writers import merge_upsert

    gcols = list(group_cols)
    keys = [*gcols, bucket_col]
    pcols = [*gcols, "bucket_date"]
    delta = _bucket_rollup(
        batch, gcols, ts_col, grain, bucket_col,
        F.hll_sketch_agg(id_col).alias("n_distinct_hll"),
    )

    stored = _stored_matches(delta, rollup_path, keys, pcols)
    if stored is not None:
        matched = stored.select(
            *keys, F.col("n_distinct_hll").alias("_old_hll")
        )
        delta = (
            delta.join(matched, on=keys, how="left")
            .select(
                *keys,
                "bucket_date",
                F.when(
                    F.col("_old_hll").isNull(), F.col("n_distinct_hll")
                )
                .otherwise(F.hll_union("n_distinct_hll", "_old_hll"))
                .alias("n_distinct_hll"),
            )
        )
    return merge_upsert(delta, rollup_path, keys=keys, partition_by=pcols)


def continuous_aggregate_update_exactly_once(
    batch: DataFrame,
    rollup_path: str,
    group_cols: Sequence[str],
    ts_col: str,
    grain: str,
    value_col: str,
    refresh_id: int,
    bucket_col: str = "bucket",
) -> dict:
    """Replay-safe continuous-aggregate refresh. The additive
    :func:`continuous_aggregate_update` double-counts if the SAME batch is
    re-applied — exactly what happens when a foreachBatch sink crashes
    after its write but before the checkpoint commit (the at-least-once
    window ``stream_domain_etl`` documents). Plain parquet has no atomic
    multi-table commit to close that window, so this variant removes the
    need for one: each refresh writes CONTRIBUTION rows keyed
    (group, bucket, refresh_id) through ``merge_upsert`` — replaying a
    batch rewrites its own contribution rows to identical values
    (merge idempotency) instead of adding them twice. Pass the
    foreachBatch ``epoch_id`` as ``refresh_id``.

    Read the current rollup with :func:`read_continuous_aggregate`, which
    sums contributions per (group, bucket) — read-time cost grows with
    refreshes per bucket; fold history periodically by re-aggregating the
    contribution table into a single refresh_id (same merge machinery).
    """
    from ..sources.writers import merge_upsert

    gcols = list(group_cols)
    delta = _bucket_rollup(
        batch, gcols, ts_col, grain, bucket_col,
        F.count(F.lit(1)).alias("n_events"),
        F.sum(value_col).alias("value_sum"),
        F.lit(int(refresh_id)).alias("refresh_id"),
    )
    return merge_upsert(
        delta,
        rollup_path,
        keys=[*gcols, bucket_col, "refresh_id"],
        partition_by=[*gcols, "bucket_date"],
    )


def read_continuous_aggregate(
    spark, rollup_path: str, group_cols: Sequence[str], bucket_col: str = "bucket"
) -> DataFrame:
    """Fold a contribution table (see
    :func:`continuous_aggregate_update_exactly_once`) to one row per
    (group, bucket): counts sum; sums sum with NULL algebra (all-NULL
    contributions stay NULL).

    Unlike the refreshes, this read has no batch to type the group
    columns from, so they keep Spark's directory-name type inference:
    when every stored group looks numeric, string groups ``'01'`` and
    ``'1'`` both read back as int 1 and fold into one row."""
    gcols = list(group_cols)
    contrib = spark.read.parquet(rollup_path)
    return contrib.groupBy(*gcols, bucket_col).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("value_sum").alias("value_sum"),
    )


def ewma_by_key(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    halflife_seconds: float,
    out_col: str = "ewma",
) -> DataFrame:
    """Time-decayed exponentially-weighted moving average per key:
    ``ewma_t = sum_i 0.5^((t - t_i)/h) * x_i / sum_i 0.5^((t - t_i)/h)``
    over all observations at or before ``t`` — the standard decayed
    feature for irregular event streams (recent behavior dominates, the
    decay follows WALL time, not row count, so a burst of events doesn't
    flush history the way a row-count window would).

    Genuinely sequential state (each output depends on the full decayed
    prefix), so this is a Pandas-kernel operator by design — the
    sanctioned escape hatch (pack_next_fit precedent), Arrow-batched,
    never row-at-a-time in the JVM<->Python transfer. The recursion is
    the numerically stable two-accumulator form (numerator and weight
    both decay by ``0.5^(dt/h)`` each step — no global
    ``exp(lambda*t)`` rescaling that overflows on long spans). Ties on
    ``ts`` are deterministic: rows sort by (key, ts, value) and
    simultaneous events share the not-yet-decayed weight, so output is
    independent of input order.

    Shape: ONE shuffle (repartition on the key) + a partition-local
    sort, then a single ``mapInPandas`` stream over each partition with
    (num, den, prev_t) carried across batch and group boundaries — NOT
    ``applyInPandas``: grouped-map materializes one pandas frame PER
    KEY, and with millions of small keys (one per customer) the
    per-group construction overhead dominates by 10x+ (measured 28s ->
    ~3s at sf0.1 for 10k keys). The stream also removes the grouped-map
    contract that a key's whole history fit in memory at once — state
    is O(1) per key, batches flow through. Output: input columns (key
    with its INPUT type, ts, value) + ``out_col``, one row per
    surviving input row — rows with a NULL key, timestamp, or value are
    dropped (a NULL value would otherwise poison every later EWMA of
    its key with NaN).
    """
    import numpy as np
    import pandas as pd  # noqa: F401  (module-level import satisfies PEP 563)

    # key keeps its INPUT type (the k_core lesson: a silently-stringed key
    # defeats downstream joins/unions); decay runs on epoch seconds
    # computed JVM-side (timestamp -> double is tz-independent), so a
    # non-UTC session timezone can never warp deltas across DST — the
    # pandas side never touches wall-clock datetimes.
    key_type = df.schema[key_col].dataType.simpleString()
    schema = (
        f"{key_col} {key_type}, {ts_col} timestamp, "
        f"{value_col} double, {out_col} double"
    )
    hl = float(halflife_seconds)
    if hl <= 0:
        raise ValueError(f"ewma_by_key: halflife_seconds must be > 0, got {hl}")

    _START = object()  # sentinel: never equals a real (non-NULL) key

    def _ewma_stream(batches):
        cur_key = _START
        num = den = 0.0
        prev_t = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keys = pdf[key_col].to_numpy()
            t = pdf["_epoch"].to_numpy(dtype=float)
            x = pdf[value_col].to_numpy(dtype=float)
            out = np.empty(len(x))
            for i in range(len(x)):
                k = keys[i]
                if cur_key is _START or k != cur_key:
                    cur_key = k
                    num = den = 0.0
                    prev_t = None
                if prev_t is not None:
                    decay = 0.5 ** ((t[i] - prev_t) / hl)
                    num *= decay
                    den *= decay
                num += x[i]
                den += 1.0
                out[i] = num / den
                prev_t = t[i]
            pdf = pdf.drop(columns=["_epoch"])
            pdf[out_col] = np.round(out, 6)
            yield pdf

    return (
        df.select(
            F.col(key_col),
            F.col(ts_col).cast("timestamp"),
            F.col(value_col).cast("double"),
            F.col(ts_col).cast("timestamp").cast("double").alias("_epoch"),
        )
        # NULL values are non-observations (they would poison every later
        # EWMA of the key with NaN), NULL keys/timestamps have no identity
        # or position — all three drop.
        .filter(
            F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .repartition(key_col)
        .sortWithinPartitions(key_col, "_epoch", value_col)
        .mapInPandas(_ewma_stream, schema=schema)
    )
