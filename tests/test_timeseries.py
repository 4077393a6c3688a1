"""gapfill_locf semantics pins (operators/timeseries.py).

The registered ``timeseries_gapfill_locf`` query covers the DuckDB
generate_series parity; these tests pin the operator's edge semantics on
hand-built frames where the expected dense series is known by eye:

- gap rows get count 0 / value NULL / is_gap True;
- a PRESENT row whose aggregated value is NULL (sum over all-NULL inputs)
  is NOT a gap — the ``_present`` marker, not value-null-ness, decides;
- LOCF carries the last non-null value across consecutive gaps and across
  present-but-NULL rows, and stays NULL before the first observation;
- each group densifies over its own [min, max] span only;
- ``step`` is required (no default to silently mismatch the bucket grain).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from yelp_business_data_pipeline_spark.operators import GRAIN_STEPS, gapfill_locf, time_bucket


def _ts(h: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, h, 0, 0)


def _rollup(spark, rows):
    return spark.createDataFrame(
        [Row(g=g, bucket=_ts(h), n=n, v=v) for (g, h, n, v) in rows],
        "g string, bucket timestamp, n bigint, v double",
    )


def _collect(df):
    return {
        (r.g, r.bucket.hour): r
        for r in df.withColumn("bucket", F.col("bucket").cast("timestamp")).collect()
    }


def test_gapfill_basic_gap_semantics(spark):
    # g=a observed at hours 0, 3 -> spine 0..3, gaps at 1, 2.
    dense = gapfill_locf(
        _rollup(spark, [("a", 0, 2, 10.0), ("a", 3, 1, 7.0)]),
        group_cols=["g"],
        bucket_col="bucket",
        value_cols=["v"],
        step=GRAIN_STEPS["hour"],
        count_cols=["n"],
    )
    rows = _collect(dense)
    assert set(rows) == {("a", 0), ("a", 1), ("a", 2), ("a", 3)}
    assert not rows[("a", 0)].is_gap and not rows[("a", 3)].is_gap
    assert rows[("a", 1)].is_gap and rows[("a", 2)].is_gap
    # counts coalesce to 0 on gaps; values stay NULL (zero would be a lie)
    assert rows[("a", 1)].n == 0 and rows[("a", 2)].n == 0
    assert rows[("a", 1)].v is None and rows[("a", 2)].v is None
    # LOCF carries 10.0 across both gaps, then the new observation wins
    assert [rows[("a", h)].v_locf for h in range(4)] == [10.0, 10.0, 10.0, 7.0]


def test_present_row_with_null_value_is_not_gap(spark):
    # Hour 1 is PRESENT (n=3) but its sum is NULL (all-NULL inputs).
    dense = gapfill_locf(
        _rollup(spark, [("a", 0, 2, 5.0), ("a", 1, 3, None), ("a", 2, 1, 9.0)]),
        group_cols=["g"],
        bucket_col="bucket",
        value_cols=["v"],
        step=GRAIN_STEPS["hour"],
        count_cols=["n"],
    )
    rows = _collect(dense)
    assert not rows[("a", 1)].is_gap, "present row misclassified as gap"
    assert rows[("a", 1)].n == 3
    assert rows[("a", 1)].v is None
    # LOCF looks through the NULL to the last real observation
    assert rows[("a", 1)].v_locf == 5.0


def test_all_null_value_group(spark):
    # Every value NULL: no crash, no spurious gaps, LOCF stays NULL.
    dense = gapfill_locf(
        _rollup(spark, [("a", 0, 1, None), ("a", 2, 2, None)]),
        group_cols=["g"],
        bucket_col="bucket",
        value_cols=["v"],
        step=GRAIN_STEPS["hour"],
        count_cols=["n"],
    )
    rows = _collect(dense)
    assert [rows[("a", h)].is_gap for h in range(3)] == [False, True, False]
    assert all(rows[("a", h)].v_locf is None for h in range(3))


def test_locf_null_before_first_observation(spark):
    dense = gapfill_locf(
        _rollup(spark, [("a", 0, 1, None), ("a", 1, 1, 4.0)]),
        group_cols=["g"],
        bucket_col="bucket",
        value_cols=["v"],
        step=GRAIN_STEPS["hour"],
        count_cols=["n"],
    )
    rows = _collect(dense)
    assert rows[("a", 0)].v_locf is None
    assert rows[("a", 1)].v_locf == 4.0


def test_groups_densify_over_own_span(spark):
    # a spans 0..2, b spans 5..6 — no cross-group extrapolation.
    dense = gapfill_locf(
        _rollup(spark, [("a", 0, 1, 1.0), ("a", 2, 1, 2.0), ("b", 5, 1, 3.0), ("b", 6, 1, 4.0)]),
        group_cols=["g"],
        bucket_col="bucket",
        value_cols=["v"],
        step=GRAIN_STEPS["hour"],
        count_cols=["n"],
    )
    rows = _collect(dense)
    assert set(rows) == {("a", 0), ("a", 1), ("a", 2), ("b", 5), ("b", 6)}
    assert rows[("b", 5)].v_locf == 3.0  # b's LOCF seeded from b only


def test_no_count_cols(spark):
    # value-only rollups work; gap detection still via the marker.
    dense = gapfill_locf(
        _rollup(spark, [("a", 0, 1, 1.0), ("a", 2, 1, None)]).drop("n"),
        group_cols=["g"],
        bucket_col="bucket",
        value_cols=["v"],
        step=GRAIN_STEPS["hour"],
    )
    rows = _collect(dense)
    assert [rows[("a", h)].is_gap for h in range(3)] == [False, True, False]
    assert rows[("a", 2)].v is None and not rows[("a", 2)].is_gap
    assert rows[("a", 2)].v_locf == 1.0


def test_step_is_required(spark):
    with pytest.raises(TypeError):
        gapfill_locf(
            _rollup(spark, [("a", 0, 1, 1.0)]),
            group_cols=["g"],
            bucket_col="bucket",
            value_cols=["v"],
        )


def test_day_grain_spine_matches_day_step(spark):
    # A day-grain rollup with the matching day step yields one row per day —
    # the 24x-inflated-spine failure mode GRAIN_STEPS exists to prevent.
    df = spark.createDataFrame(
        [Row(g="a", t=dt.datetime(2024, 1, d, 13, 30)) for d in (1, 3)],
        "g string, t timestamp",
    )
    rollup = df.groupBy("g", time_bucket("t", "day").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )
    dense = gapfill_locf(
        rollup,
        group_cols=["g"],
        bucket_col="bucket",
        value_cols=[],
        step=GRAIN_STEPS["day"],
        count_cols=["n"],
    )
    got = sorted((r.bucket.day, r.is_gap, r.n) for r in dense.collect())
    assert got == [(1, False, 1), (2, True, 0), (3, False, 1)]


def test_continuous_aggregate_update_equals_full_recompute(spark, tmp_path):
    """Applying event batches incrementally must equal rolling up the
    concatenated events in one pass — including NULL-sum algebra and
    bucket creation across batches — and each refresh only rewrites the
    partitions its buckets live in."""
    import os

    from yelp_business_data_pipeline_spark.operators.timeseries import (
        continuous_aggregate_update,
    )

    path = str(tmp_path / "rollup")
    schema = "g string, t timestamp, v double"
    batches = [
        [("a", _ts(0), 1.0), ("a", _ts(0), 2.0), ("b", _ts(1), None)],
        [("a", _ts(0), 4.0), ("b", _ts(1), None), ("b", _ts(2), 5.0)],
        [("c", _ts(3), None)],
    ]
    all_rows = []
    for rows in batches:
        all_rows.extend(rows)
        stats = continuous_aggregate_update(
            spark.createDataFrame(rows, schema),
            path,
            group_cols=["g"],
            ts_col="t",
            grain="hour",
            value_col="v",
        )
    assert stats["created"] is False  # later refreshes merge, not rebuild

    got = {
        (r.g, r.bucket.hour): (r.n_events, r.value_sum)
        for r in spark.read.parquet(path).collect()
    }
    full = spark.createDataFrame(all_rows, schema).groupBy(
        "g", F.date_trunc("hour", "t").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    want = {(r.g, r.bucket.hour): (r.n, r.s) for r in full.collect()}
    assert got == want
    # NULL algebra: b@hour1 saw only NULL values -> sum stays NULL, count 2
    assert got[("b", 1)] == (2, None)
    # partition scoping: batch 3 touched only g=c
    assert stats["affected_partitions"] == 1
    assert sorted(d for d in os.listdir(path) if d.startswith("g=")) == [
        "g=a", "g=b", "g=c",
    ]


@pytest.mark.parametrize("seed", [3, 99])
def test_gapfill_matches_python_model_random_series(spark, seed):
    """Randomized cross-check: sparse per-group hourly rollups with NULL
    sums, compared row-for-row against an independent python model of the
    spine/gap/LOCF semantics."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = []
    for gi in range(4):
        hours = sorted(rng.choice(24, size=rng.integers(1, 9), replace=False).tolist())
        for h in hours:
            v = None if rng.random() < 0.3 else round(float(rng.random()) * 10, 3)
            rows.append((f"g{gi}", int(h), int(rng.integers(1, 5)), v))

    dense = gapfill_locf(
        _rollup(spark, rows),
        group_cols=["g"],
        bucket_col="bucket",
        value_cols=["v"],
        step=GRAIN_STEPS["hour"],
        count_cols=["n"],
    )
    got = {
        (r.g, r.bucket.hour): (r.n, r.v, r.is_gap, r.v_locf) for r in dense.collect()
    }

    # python model
    by_g: dict[str, dict[int, tuple[int, float | None]]] = {}
    for g, h, n, v in rows:
        by_g.setdefault(g, {})[h] = (n, v)
    want = {}
    for g, obs in by_g.items():
        lo, hi = min(obs), max(obs)
        carry = None
        for h in range(lo, hi + 1):
            if h in obs:
                n, v = obs[h]
                if v is not None:
                    carry = v
                want[(g, h)] = (n, v, False, carry)
            else:
                want[(g, h)] = (0, None, True, carry)
    assert got == want


def test_incremental_distinct_rollup_absorbs_reseen_ids(spark, tmp_path):
    """COUNT DISTINCT maintenance: ids re-seen across batches must not
    double-count (the case additive refresh cannot handle); estimates
    stay within HLL error of the exact distinct count."""
    from yelp_business_data_pipeline_spark.operators.timeseries import (
        incremental_distinct_rollup,
    )

    path = str(tmp_path / "rollup")
    schema = "g string, t timestamp, uid long"
    # batch 2 re-sees uids 0-49 of batch 1 and adds 50 new ones
    b1 = [("a", _ts(0), i) for i in range(100)]
    b2 = [("a", _ts(0), i) for i in range(50)] + [("a", _ts(0), 100 + i) for i in range(50)]
    for rows in (b1, b2):
        incremental_distinct_rollup(
            spark.createDataFrame(rows, schema),
            path,
            group_cols=["g"],
            ts_col="t",
            grain="hour",
            id_col="uid",
        )
    est = (
        spark.read.parquet(path)
        .select(F.hll_sketch_estimate("n_distinct_hll").alias("n"))
        .collect()
    )
    assert len(est) == 1
    exact = 150  # 0-99 union 0-49,100-149
    assert abs(est[0].n - exact) / exact < 0.05, est[0].n


def test_exactly_once_refresh_survives_replay(spark, tmp_path):
    """Re-applying a batch with the same refresh_id (the foreachBatch
    crash-replay) must leave the folded rollup unchanged; distinct
    refresh_ids accumulate."""
    from yelp_business_data_pipeline_spark.operators.timeseries import (
        continuous_aggregate_update_exactly_once,
        read_continuous_aggregate,
    )

    path = str(tmp_path / "contrib")
    schema = "g string, t timestamp, v double"
    b1 = [("a", _ts(0), 1.0), ("a", _ts(0), 2.0)]
    b2 = [("a", _ts(0), 4.0), ("b", _ts(1), None)]

    def apply(rows, rid):
        continuous_aggregate_update_exactly_once(
            spark.createDataFrame(rows, schema), path,
            group_cols=["g"], ts_col="t", grain="hour", value_col="v",
            refresh_id=rid,
        )

    def folded():
        return {
            (r.g, r.bucket.hour): (r.n_events, r.value_sum)
            for r in read_continuous_aggregate(spark, path, ["g"]).collect()
        }

    apply(b1, 0)
    apply(b2, 1)
    want = {("a", 0): (3, 7.0), ("b", 1): (1, None)}
    assert folded() == want
    # crash-replay: same batch, same refresh_id -> no double count
    apply(b2, 1)
    assert folded() == want
    # genuinely new refresh accumulates
    apply([("b", _ts(1), 9.0)], 2)
    assert folded() == {("a", 0): (3, 7.0), ("b", 1): (2, 9.0)}


def _stored_groups(spark, path):
    """Group directories on disk, and the stored table read back with the
    group typed as a string (so '01' and '1' stay apart)."""
    import os

    from pyspark.sql import types as T

    from yelp_business_data_pipeline_spark.sources.writers import _read_target

    dirs = sorted(d for d in os.listdir(path) if d.startswith("g="))
    return dirs, _read_target(spark, path, {"g": T.StringType()})


def test_continuous_aggregate_update_keeps_numeric_looking_groups_apart(spark, tmp_path):
    """String groups '01' and '1' are two groups: refreshing '01' must add
    to '01' alone. A read-back that infers the group type from directory
    names sees both as int 1, matches both stored rows and stops the
    refresh on merge_upsert's duplicate-key ValueError."""
    from yelp_business_data_pipeline_spark.operators.timeseries import (
        continuous_aggregate_update,
    )

    path = str(tmp_path / "rollup")
    schema = "g string, t timestamp, v double"

    def apply(rows):
        continuous_aggregate_update(
            spark.createDataFrame(rows, schema), path,
            group_cols=["g"], ts_col="t", grain="hour", value_col="v",
        )

    apply([("01", _ts(0), 1.0), ("1", _ts(0), 10.0)])
    apply([("01", _ts(0), 2.0)])
    dirs, stored = _stored_groups(spark, path)
    assert dirs == ["g=01", "g=1"]
    assert {r.g: (r.n_events, r.value_sum) for r in stored.collect()} == {
        "01": (2, 3.0),
        "1": (1, 10.0),
    }


def test_continuous_aggregate_update_string_group_into_numeric_looking_store(spark, tmp_path):
    """A stored rollup whose groups all look numeric must still take a
    group 'ab': an inferred int group column would fail the join with
    CAST_INVALID_INPUT. Every group stays a string."""
    from yelp_business_data_pipeline_spark.operators.timeseries import (
        continuous_aggregate_update,
    )

    path = str(tmp_path / "rollup")
    schema = "g string, t timestamp, v double"
    for rows in ([("1", _ts(0), 1.0), ("2", _ts(1), 2.0)], [("ab", _ts(0), 3.0), ("1", _ts(0), 4.0)]):
        continuous_aggregate_update(
            spark.createDataFrame(rows, schema), path,
            group_cols=["g"], ts_col="t", grain="hour", value_col="v",
        )
    dirs, stored = _stored_groups(spark, path)
    assert dirs == ["g=1", "g=2", "g=ab"]
    assert {r.g: (r.n_events, r.value_sum) for r in stored.collect()} == {
        "1": (2, 5.0),
        "2": (1, 2.0),
        "ab": (1, 3.0),
    }


def test_incremental_distinct_rollup_keeps_numeric_looking_groups_apart(spark, tmp_path):
    """The distinct rollup reads its stored sketches back the same way:
    refreshing '01' unions into '01' alone and leaves '1' as it was."""
    from yelp_business_data_pipeline_spark.operators.timeseries import (
        incremental_distinct_rollup,
    )

    path = str(tmp_path / "rollup")
    schema = "g string, t timestamp, uid long"
    b1 = [("01", _ts(0), i) for i in range(10)] + [("1", _ts(0), i) for i in range(3)]
    b2 = [("01", _ts(0), i) for i in range(5, 20)]
    for rows in (b1, b2):
        incremental_distinct_rollup(
            spark.createDataFrame(rows, schema), path,
            group_cols=["g"], ts_col="t", grain="hour", id_col="uid",
        )
    dirs, stored = _stored_groups(spark, path)
    assert dirs == ["g=01", "g=1"]
    est = (
        stored.select("g", F.hll_sketch_estimate("n_distinct_hll").alias("n"))
        .collect()
    )
    # exact at this size: the HLL sketch is still in its exact list mode
    assert {r.g: r.n for r in est} == {"01": 20, "1": 3}


class TestEwmaByKey:
    @staticmethod
    def _model(rows, hl):
        """O(n^2) direct-formula recomputation, independent of the
        operator's two-accumulator recursion."""
        import math

        out = {}
        by_key = {}
        for k, t, v in rows:
            by_key.setdefault(k, []).append((t, v))
        for k, obs in by_key.items():
            obs.sort()
            for i, (t, _) in enumerate(obs):
                num = sum(0.5 ** ((t - ti) / hl) * vi for ti, vi in obs[: i + 1])
                den = sum(0.5 ** ((t - ti) / hl) for ti, _ in obs[: i + 1])
                out[(k, i)] = round(num / den, 6)
        return out

    def _run(self, spark, rows, hl):
        from datetime import datetime, timezone

        from yelp_business_data_pipeline_spark.operators.timeseries import ewma_by_key

        data = [
            (k, datetime.fromtimestamp(t, tz=timezone.utc), float(v))
            for k, t, v in rows
        ]
        df = spark.createDataFrame(data, "k string, ts timestamp, v double")
        got = ewma_by_key(df, "k", "ts", "v", hl)
        res = {}
        for r in sorted(got.collect(), key=lambda r: (r.k, r.ts, r.v)):
            i = sum(1 for kk in res if kk[0] == r.k)
            res[(r.k, i)] = r.ewma
        return res

    def test_matches_direct_formula(self, spark):
        rows = [
            ("a", 0, 10.0), ("a", 3600, 20.0), ("a", 7200, 0.0),
            ("b", 0, 5.0), ("b", 86400, 7.0),
        ]
        assert self._run(spark, rows, 3600.0) == self._model(rows, 3600.0)

    def test_random_streams(self, spark):
        import random

        rng = random.Random(9)
        rows = [
            (f"k{rng.randrange(3)}", rng.randrange(0, 50000), rng.uniform(-5, 5))
            for _ in range(120)
        ]
        # dedupe (k, t) pairs so ordering ties can't make the python
        # index-based comparison ambiguous about which row is which
        seen, uniq = set(), []
        for k, t, v in rows:
            if (k, t) not in seen:
                seen.add((k, t))
                uniq.append((k, t, round(v, 3)))
        assert self._run(spark, uniq, 1800.0) == self._model(uniq, 1800.0)

    def test_first_observation_is_identity_and_decay_direction(self, spark):
        rows = [("a", 0, 100.0), ("a", 10 * 86400, 0.0)]
        got = self._run(spark, rows, 3600.0)
        assert got[("a", 0)] == 100.0
        # ten days >> 1h halflife: the old 100 has decayed to ~nothing
        assert got[("a", 1)] < 0.01

    def test_invalid_halflife(self, spark):
        import pytest as _pytest

        from yelp_business_data_pipeline_spark.operators.timeseries import ewma_by_key

        df = spark.createDataFrame([("a", None, 1.0)], "k string, ts timestamp, v double")
        with _pytest.raises(ValueError, match="halflife"):
            ewma_by_key(df, "k", "ts", "v", 0)

    def test_null_values_dropped_not_poisoning(self, spark):
        from datetime import datetime, timezone

        from yelp_business_data_pipeline_spark.operators.timeseries import ewma_by_key

        rows = [
            ("a", datetime.fromtimestamp(0, tz=timezone.utc), 1.0),
            ("a", datetime.fromtimestamp(3600, tz=timezone.utc), None),
            ("a", datetime.fromtimestamp(7200, tz=timezone.utc), 5.0),
        ]
        df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
        got = sorted(
            (r.ts.timestamp(), r.ewma)
            for r in ewma_by_key(df, "k", "ts", "v", 3600.0).collect()
        )
        # the NULL row vanishes; later rows stay finite and correct
        assert len(got) == 2
        import math
        assert all(math.isfinite(e) for _, e in got)
        # direct formula on the two surviving rows (dt = 2 halflives)
        w = 0.5 ** 2.0
        assert got[1][1] == round((5.0 + w * 1.0) / (1.0 + w), 6)

    def test_key_type_preserved(self, spark):
        from datetime import datetime, timezone

        from yelp_business_data_pipeline_spark.operators.timeseries import ewma_by_key

        rows = [(42, datetime.fromtimestamp(0, tz=timezone.utc), 1.0)]
        df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
        out = ewma_by_key(df, "k", "ts", "v", 60.0)
        assert dict(out.dtypes)["k"] == "bigint"
        assert out.collect()[0].k == 42

    def test_session_timezone_independent(self, spark):
        # decay runs on JVM-computed epoch seconds: a DST session timezone
        # must produce byte-identical results to UTC.
        from datetime import datetime, timezone

        from yelp_business_data_pipeline_spark.operators.timeseries import ewma_by_key

        # 2021-11-07 America/New_York fall-back: 05:30 and 06:30 UTC are
        # 01:30 EDT and 01:30 EST — same local wall clock, 1h apart in truth
        rows = [
            ("a", datetime(2021, 11, 7, 5, 30, tzinfo=timezone.utc), 10.0),
            ("a", datetime(2021, 11, 7, 6, 30, tzinfo=timezone.utc), 0.0),
        ]
        df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
        utc = {(r.k, r.ewma) for r in ewma_by_key(df, "k", "ts", "v", 3600.0).collect()}
        prev = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            ny = {(r.k, r.ewma) for r in ewma_by_key(df, "k", "ts", "v", 3600.0).collect()}
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev)
        assert utc == ny
        # and the 1h-apart decay really happened (halflife 1h -> weight 0.5)
        assert round(min(e for _, e in utc), 6) == round(0.5 * 10 / 1.5, 6)


def test_ewma_state_carries_across_arrow_batches(spark):
    """The applyInPandas -> mapInPandas rewrite carries (num, den,
    prev_t) across Arrow batch boundaries; force a single key to span
    MANY batches (maxRecordsPerBatch=7) and pin against the O(n^2)
    direct formula — a per-batch state reset would be wildly wrong."""
    import math
    from datetime import datetime, timezone

    from yelp_business_data_pipeline_spark.operators.timeseries import ewma_by_key

    conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf_key)
    spark.conf.set(conf_key, "7")
    try:
        hl = 1800.0
        rows = [("a", i * 600, float((i * 37) % 23 - 11)) for i in range(60)]
        rows += [("b", i * 900, float(i % 5)) for i in range(40)]
        data = [
            (k, datetime.fromtimestamp(t, tz=timezone.utc), v) for k, t, v in rows
        ]
        df = spark.createDataFrame(data, "k string, ts timestamp, v double").coalesce(1)
        got = {
            (r.k, r.ts.timestamp()): r.ewma
            for r in ewma_by_key(df, "k", "ts", "v", hl).collect()
        }
        assert len(got) == 100
        for k, t, _ in rows:
            obs = [(tt, vv) for kk, tt, vv in rows if kk == k and tt <= t]
            num = sum(0.5 ** ((t - ti) / hl) * vi for ti, vi in obs)
            den = sum(0.5 ** ((t - ti) / hl) for ti, _ in obs)
            assert math.isclose(got[(k, float(t))], round(num / den, 6), abs_tol=2e-6), (k, t)
    finally:
        spark.conf.set(conf_key, old)


def test_refresh_reads_only_its_partitions_stored_rows(spark, tmp_path):
    """A one-row late refresh into an existing (group, day) partition reads
    that partition's file for its stored rows, not the whole rollup: of the
    files it reads, every one is read once by merge_upsert's matched-key
    scan, and only the touched partition's file again for the stored rows
    and again for the rewrite slice. An integer sum stays an integer."""
    import os

    from tests.files_read import files_read
    from yelp_business_data_pipeline_spark.operators.timeseries import (
        continuous_aggregate_update,
    )

    path = str(tmp_path / "rollup")
    schema = "g string, t timestamp, v bigint"

    def refresh(rows):
        return continuous_aggregate_update(
            spark.createDataFrame(rows, schema), path,
            group_cols=["g"], ts_col="t", grain="day", value_col="v",
        )

    day = dt.datetime(2024, 1, 1, 1)
    refresh([(f"g{g}", day + dt.timedelta(days=d), 1) for g in range(3) for d in range(20)])
    n_files = sum(f.endswith(".parquet") for _r, _d, fs in os.walk(path) for f in fs)
    assert n_files == 60
    stats, read = files_read(spark, lambda: refresh([("g1", day + dt.timedelta(days=4, hours=2), 2)]))
    assert stats["affected_partitions"] == 1
    assert read == n_files + 2, read
    got = {(r.g, r.bucket.day): (r.n_events, r.value_sum) for r in spark.read.parquet(path).collect()}
    assert len(got) == 60 and got[("g1", 5)] == (2, 3) and got[("g2", 5)] == (1, 1)
