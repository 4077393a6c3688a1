"""Streaming ingest: file-source -> foreachBatch idempotent append ->
unified rebuild, plus watermarked windowed aggregation."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from yelp_business_data_pipeline_spark.operators import review_etl
from yelp_business_data_pipeline_spark.plans.registry import normalize_event_ts
from yelp_business_data_pipeline_spark.schemas import REVIEW_RAW_SCHEMA
from yelp_business_data_pipeline_spark.streaming import (
    stream_domain_etl,
    streaming_event_counts,
)

from .test_yelp_etl import REVIEWS


@pytest.fixture(scope="module")
def frozen_models(spark, sf_dir):
    """(classifier, bigram LM, perplexity cuts), fit once on the
    reference corpus for every crawl-stream test in this module. The
    streams cache the LM and cut frames; teardown releases them."""
    from yelp_business_data_pipeline_spark.operators.ppl import (
        fit_bigram_lm,
        perplexity_thresholds,
        score_perplexity,
    )
    from yelp_business_data_pipeline_spark.operators.qualityclf import (
        train_quality_classifier,
    )

    ref = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = train_quality_classifier(
        ref, F.col("lang") == "en", buckets=4096, n_train=256
    )
    lm = fit_bigram_lm(ref)
    cuts = perplexity_thresholds(
        score_perplexity(ref, lm, carry=("lang",)).filter(F.col("ppl").isNotNull())
    )
    yield model, lm, cuts
    for f in (*lm, cuts):
        f.unpersist()


def test_stream_domain_etl_idempotent(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    out = str(tmp_path / "processed")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: two reviews
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in REVIEWS[:2]))
    q = stream_domain_etl(
        spark, str(src), REVIEW_RAW_SCHEMA, review_etl, out, ckpt, keys=["review_id"]
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert sorted(r.review_id for r in got.collect()) == ["r1", "r2"]

    # batch 2: a NEW file re-delivering r2 (the reference's duplicate-Lambda
    # case) plus new rows r3/r4 (r4 dropped: null user_id)
    (src / "b.json").write_text("\n".join(json.dumps(r) for r in REVIEWS[1:]))
    q = stream_domain_etl(
        spark, str(src), REVIEW_RAW_SCHEMA, review_etl, out, ckpt, keys=["review_id"]
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    ids = sorted(r.review_id for r in got.collect())
    assert ids == ["r1", "r2", "r3"], f"idempotent append violated: {ids}"


def test_streaming_windowed_counts(spark, tmp_path):
    # small parquet events slice as the stream source
    src = str(tmp_path / "events_src")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    rows = [
        (1, "2024-01-01 00:00:10", 1, "click", 1.0),
        (2, "2024-01-01 00:01:10", 1, "click", 2.0),
        (3, "2024-01-01 00:07:10", 2, "view", 3.0),
    ]
    df = spark.createDataFrame(
        [(i, *r) for (i, *r) in rows], schema=["event_id", "ts", "user_id", "event_type", "value"]
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(src)

    agg = streaming_event_counts(spark, src, schema, window="5 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT window.start AS ws, event_type, n, value_sum FROM win_counts ORDER BY ws, event_type"
    ).collect()
    assert [(str(r.ws), r.event_type, r.n, r.value_sum) for r in got] == [
        ("2024-01-01 00:00:00", "click", 2, 3.0),
        ("2024-01-01 00:05:00", "view", 1, 3.0),
    ]


def test_session_window_matches_lag_sessionize(spark):
    """Spark's native session_window (batch mode) must agree with the
    lag+cumsum sessionization on session counts per user (same 30-min gap).
    The lag construction is the oracle-checkable batch twin; session_window
    is the streaming-native operator."""
    from yelp_business_data_pipeline_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    lag_based = {
        r.user_id: r.n_sessions
        for r in QUERIES["sessionize_events"].spark(spark, sf).collect()
    }
    ev = normalize_event_ts(spark.read.parquet(f"{sf}/events.parquet"))
    sw = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count()
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "n_sessions")
    )
    native = {r.user_id: r.n_sessions for r in sw.collect()}
    assert native == lag_based


def test_stream_skips_non_json_files(spark, tmp_path):
    """The reference Lambda skips non-JSON keys (trigeer_ETL_Pipeline.py:70-72);
    the file stream's pathGlobFilter reproduces that."""
    import json as _json

    from yelp_business_data_pipeline_spark.operators import review_etl
    from yelp_business_data_pipeline_spark.schemas import REVIEW_RAW_SCHEMA
    from yelp_business_data_pipeline_spark.streaming import stream_domain_etl

    from .test_yelp_etl import REVIEWS

    src = tmp_path / "in"
    src.mkdir()
    (src / "good.json").write_text(_json.dumps(REVIEWS[0]))
    (src / "noise.txt").write_text("NOT JSON AT ALL")
    out = str(tmp_path / "out")
    q = stream_domain_etl(
        spark, str(src), REVIEW_RAW_SCHEMA, review_etl, out, str(tmp_path / "ck"),
        keys=["review_id"],
    )
    q.awaitTermination()
    rows = spark.read.parquet(out).collect()
    assert [r.review_id for r in rows] == ["r1"]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: withWatermark + dropDuplicates keeps one row
    per id across micro-batches while state stays bounded by the watermark
    (the streaming twin of the batch exact-dedup operator)."""
    src = str(tmp_path / "src")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    rows1 = [(1, "2024-01-01 00:00:00", 1, "click", 1.0),
             (2, "2024-01-01 00:01:00", 2, "view", 2.0)]
    rows2 = [(2, "2024-01-01 00:01:00", 2, "view", 2.0),   # duplicate id
             (3, "2024-01-01 00:02:00", 3, "click", 3.0)]
    for i, rows in enumerate((rows1, rows2)):
        spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type", "value"]) \
            .withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    q = (deduped.writeStream.outputMode("append").format("memory")
         .queryName("dedup_stream").trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(r.event_id for r in spark.sql("SELECT * FROM dedup_stream").collect())
    assert got == [1, 2, 3]


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Streaming session_window (file stream, watermark, AvailableNow)
    must produce the same per-user session counts as the batch lag-gap
    construction."""
    import shutil

    from yelp_business_data_pipeline_spark.streaming.pipeline import streaming_sessionize

    src = str(tmp_path / "events_src")
    ev = normalize_event_ts(spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    ev.write.parquet(src)
    schema = ev.schema

    out = streaming_sessionize(spark, src, schema, gap="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("sessions_out")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events"))
    )
    got_map = {r.user_id: (r.n_sessions, r.n_events) for r in got.collect()}

    # batch twin: the lag-gap sessionize over the same data. `>` matches
    # session_window's boundary semantics — an event EXACTLY gap after the
    # previous one still merges into the session (verified by the boundary
    # pin below), so only strictly-greater gaps open a new session.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_session = F.when(prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES")), 1).otherwise(0)
    batch = (
        ev.withColumn("ns", new_session)
        .groupBy("user_id")
        .agg(F.sum("ns").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )
    batch_map = {r.user_id: (r.n_sessions, r.n_events) for r in batch.collect()}
    assert got_map == batch_map
    shutil.rmtree(src, ignore_errors=True)

    # Boundary pin: events EXACTLY gap apart MERGE into one session
    # (session_window treats the gap as inclusive; measured, not assumed)
    # — which is why the lag twin uses strict `>`.
    b = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:30:00")],
        "user_id long, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s"))
    n = (
        b.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count()
        .count()
    )
    assert n == 1


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join must produce exactly the
    batch range-join pairs (the oracle-gated range_join_purchase_click
    semantics: |tp - tc| <= 300s per user)."""
    import shutil

    from yelp_business_data_pipeline_spark.plans import QUERIES
    from yelp_business_data_pipeline_spark.streaming.pipeline import (
        streaming_stream_stream_join,
    )

    src = str(tmp_path / "events_ss")
    ev = normalize_event_ts(spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    ev.write.parquet(src)

    out = streaming_stream_stream_join(spark, src, ev.schema, max_gap="5 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("ss_join_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.purchase_id, r.click_id, r.gap_s)
        for r in spark.table("ss_join_out").collect()
    }
    batch = {
        (r.purchase_id, r.click_id, r.gap_s)
        for r in QUERIES["range_join_purchase_click"].spark(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == batch and batch
    shutil.rmtree(src, ignore_errors=True)


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Kill the stream in the at-least-once window (sink write done,
    checkpoint commit NOT done), restart from the same checkpoint, and
    assert exactly-once table state: the replayed batch must change
    nothing. This is St1's central claim — file-source checkpointing +
    keyed idempotent writes compose to exactly-once."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = tmp_path / "incoming"
    src.mkdir()
    out = str(tmp_path / "processed")
    ckpt = str(tmp_path / "ckpt")

    (src / "a.json").write_text("\n".join(json.dumps(r) for r in REVIEWS[:2]))
    q = stream_domain_etl(
        spark, str(src), REVIEW_RAW_SCHEMA, review_etl, out, ckpt, keys=["review_id"]
    )
    q.awaitTermination()
    assert sorted(r.review_id for r in spark.read.parquet(out).collect()) == ["r1", "r2"]

    # New file arrives: re-delivers r2, adds r3 (and r4, dropped for null
    # user). Crash AFTER the sink write, BEFORE the checkpoint commit.
    (src / "b.json").write_text("\n".join(json.dumps(r) for r in REVIEWS[1:]))

    def _crash(epoch_id: int) -> None:
        raise RuntimeError("injected crash between sink write and checkpoint commit")

    q = stream_domain_etl(
        spark,
        str(src),
        REVIEW_RAW_SCHEMA,
        review_etl,
        out,
        ckpt,
        keys=["review_id"],
        on_batch_complete=_crash,
    )
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination()
    # the write DID land before the crash (at-least-once visible state)...
    mid = [r.review_id for r in spark.read.parquet(out).collect()]
    assert sorted(mid) == ["r1", "r2", "r3"], mid

    # ...and the restart REPLAYS the uncommitted batch (same checkpoint):
    # the idempotent writer must absorb the replay — same rows, no dups.
    q = stream_domain_etl(
        spark, str(src), REVIEW_RAW_SCHEMA, review_etl, out, ckpt, keys=["review_id"]
    )
    q.awaitTermination()
    final = [r.review_id for r in spark.read.parquet(out).collect()]
    assert sorted(final) == ["r1", "r2", "r3"], f"replay broke exactly-once: {final}"
    assert len(final) == 3  # row-count identical, not just key-set

    # a further restart with nothing new is a clean no-op
    q = stream_domain_etl(
        spark, str(src), REVIEW_RAW_SCHEMA, review_etl, out, ckpt, keys=["review_id"]
    )
    q.awaitTermination()
    assert spark.read.parquet(out).count() == 3


def test_stream_cdc_upsert_exactly_once_state(spark, tmp_path):
    """CDC stream -> merge_upsert sink: latest-wins within a batch,
    update-or-insert across batches, exactly-once TABLE STATE across a
    crash-replay (merge idempotency + checkpoint compose)."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import types as T

    from yelp_business_data_pipeline_spark.streaming import stream_cdc_upsert

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("p", T.LongType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    src = tmp_path / "changes"
    src.mkdir()
    out = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def run(on_batch_complete=None):
        q = stream_cdc_upsert(
            spark, str(src), schema, out, ckpt,
            keys=["id"], order_by=["seq"], partition_by=["p"],
            on_batch_complete=on_batch_complete,
        )
        return q

    def state():
        return sorted((r.id, r.v, r.p) for r in spark.read.parquet(out).collect())

    # batch 1: inserts, including two changes for id=2 in ONE batch
    (src / "c1.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"id": 1, "v": "a", "p": 1, "seq": 1},
                {"id": 2, "v": "old", "p": 1, "seq": 2},
                {"id": 2, "v": "new", "p": 1, "seq": 3},
                {"id": 3, "v": "c", "p": 2, "seq": 4},
            ]
        )
    )
    q = run(); q.awaitTermination()
    assert state() == [(1, "a", 1), (2, "new", 1), (3, "c", 2)]

    # batch 2: update id=1, move id=3 to partition 1, insert id=4 —
    # crash AFTER the merge, BEFORE the checkpoint commit
    (src / "c2.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"id": 1, "v": "A", "p": 1, "seq": 5},
                {"id": 3, "v": "C", "p": 1, "seq": 6},
                {"id": 4, "v": "d", "p": 3, "seq": 7},
            ]
        )
    )

    def _crash(epoch_id):
        raise RuntimeError("injected crash post-merge")

    q = run(on_batch_complete=_crash)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination()
    after_crash = state()
    assert after_crash == [(1, "A", 1), (2, "new", 1), (3, "C", 1), (4, "d", 3)]

    # restart replays the uncommitted batch; re-merge must be a no-op
    q = run(); q.awaitTermination()
    assert state() == after_crash
    # the emptied partition (p=2 lost its only key) is gone
    import os
    assert not os.path.exists(os.path.join(out, "p=2"))


def test_streaming_dedup_within_watermark_operator(spark, tmp_path):
    """streaming_dedup_events (dropDuplicatesWithinWatermark — the Spark-4
    native form with watermark-scoped dedup state, vs the older
    withWatermark+dropDuplicates shape tested above) collapses re-delivered
    events inside the watermark horizon with bounded state."""
    from pyspark.sql import types as T

    from yelp_business_data_pipeline_spark.streaming import streaming_dedup_events

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    src = str(tmp_path / "events_src")
    rows = [
        (1, "2024-01-01 00:00:10", 1),
        (1, "2024-01-01 00:00:10", 1),  # exact re-delivery
        (2, "2024-01-01 00:05:00", 1),
        (1, "2024-01-01 00:20:00", 2),  # same id again within watermark
        (3, "2024-01-01 00:30:00", 3),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    df.write.parquet(src)

    q = (
        streaming_dedup_events(spark, src, schema, keys=["event_id"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_events")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.event_id for r in spark.sql("SELECT * FROM dedup_events").collect())
    assert got == [1, 2, 3], got


def test_stream_cdc_upsert_out_of_order_change_does_not_regress(spark, tmp_path):
    """A later batch carrying an OLDER change (lower sequence) for a key
    must not overwrite the newer stored state — arbitration is by
    order_by, not arrival order."""
    from pyspark.sql import types as T

    from yelp_business_data_pipeline_spark.streaming import stream_cdc_upsert

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("p", T.LongType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    src = tmp_path / "changes"
    src.mkdir()
    out = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = stream_cdc_upsert(
            spark, str(src), schema, out, ckpt,
            keys=["id"], order_by=["seq"], partition_by=["p"],
        )
        q.awaitTermination()

    (src / "c1.json").write_text(json.dumps({"id": 1, "v": "newer", "p": 1, "seq": 7}))
    run()
    # stale change arrives late (and a fresh key alongside it)
    (src / "c2.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"id": 1, "v": "stale", "p": 1, "seq": 4},
                {"id": 2, "v": "b", "p": 2, "seq": 5},
            ]
        )
    )
    run()
    got = sorted((r.id, r.v, r.seq) for r in spark.read.parquet(out).collect())
    assert got == [(1, "newer", 7), (2, "b", 5)], got
    # stale change in a DIFFERENT partition must not migrate the key either
    (src / "c3.json").write_text(json.dumps({"id": 1, "v": "older-move", "p": 3, "seq": 2}))
    run()
    got = sorted((r.id, r.v, r.p) for r in spark.read.parquet(out).collect())
    assert got == [(1, "newer", 1), (2, "b", 2)], got
    import os
    assert not os.path.exists(os.path.join(out, "p=3"))


def test_stream_cdc_upsert_compaction_bounds_file_count(spark, tmp_path):
    """compact_every=3: across 9 micro-batches the sink's data-file count
    collapses to one file per partition directory after the final
    compaction epoch, table state stays exactly the python latest-wins
    model (compaction is layout-only), and a further batch merges cleanly
    into the compacted table."""
    import os

    from yelp_business_data_pipeline_spark.streaming import stream_cdc_upsert

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("p", T.LongType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    src = tmp_path / "changes"
    src.mkdir()
    out = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = stream_cdc_upsert(
            spark, str(src), schema, out, ckpt,
            keys=["id"], order_by=["seq"], partition_by=["p"],
            compact_every=3, compact_target_mb=128,
        )
        q.awaitTermination()

    def parquet_files():
        return [
            os.path.join(d, f)
            for d, _, fs in os.walk(out)
            for f in fs
            if f.endswith(".parquet") and "__" not in d
        ]

    model = {}
    seq = 0
    for batch in range(9):
        rows = []
        for j in range(3):
            seq += 1
            rid = (batch * 3 + j) % 8  # keys cycle -> plenty of updates
            row = {"id": rid, "v": f"v{seq}", "p": rid % 4, "seq": seq}
            rows.append(row)
            model[rid] = (row["v"], row["p"], row["seq"])
        (src / f"c{batch}.json").write_text("\n".join(json.dumps(r) for r in rows))
        run()

    state = sorted((r.id, r.v, r.p, r.seq) for r in spark.read.parquet(out).collect())
    want = sorted((k, v, p, s) for k, (v, p, s) in model.items())
    assert state == want
    # epoch 8 was a compaction epoch (epochs 2,5,8): repartition(1, p) under
    # partitionBy leaves exactly one data file per partition directory
    n_parts = len({p for _, p, _ in model.values()})
    files = parquet_files()
    assert len(files) == n_parts, files
    # merging into the compacted table still works and stays latest-wins
    seq += 1
    (src / "c_extra.json").write_text(
        json.dumps({"id": 0, "v": "final", "p": 0, "seq": seq})
    )
    model[0] = ("final", 0, seq)
    run()
    state = sorted((r.id, r.v, r.p, r.seq) for r in spark.read.parquet(out).collect())
    want = sorted((k, v, p, s) for k, (v, p, s) in model.items())
    assert state == want


def test_stream_cdc_upsert_numeric_looking_string_partition(spark, tmp_path):
    """Regression: the CDC sink's stored-row read must go through
    _read_target — a raw read would infer the '01' string partition as int
    1, re-homing the re-asserted stored row into a bogus p=1 partition on
    out-of-order arbitration."""
    from pyspark.sql import types as T

    from yelp_business_data_pipeline_spark.streaming import stream_cdc_upsert

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("p", T.StringType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    src = tmp_path / "changes"
    src.mkdir()
    out = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = stream_cdc_upsert(
            spark, str(src), schema, out, ckpt,
            keys=["id"], order_by=["seq"], partition_by=["p"],
        )
        q.awaitTermination()

    (src / "c1.json").write_text(json.dumps({"id": 1, "v": "newer", "p": "01", "seq": 7}))
    run()
    import os
    assert os.path.exists(os.path.join(out, "p=01"))
    # an out-of-order OLDER change triggers the stored-row re-assert path
    (src / "c2.json").write_text(json.dumps({"id": 1, "v": "stale", "p": "01", "seq": 3}))
    run()
    assert os.path.exists(os.path.join(out, "p=01"))
    assert not os.path.exists(os.path.join(out, "p=1"))
    from yelp_business_data_pipeline_spark.sources.writers import _read_target

    got = sorted(
        (r.id, r.v, r.p, r.seq)
        for r in _read_target(spark, out, {"p": T.StringType()}).collect()
    )
    assert got == [(1, "newer", "01", 7)], got


def test_streaming_quality_filters_match_batch(spark, tmp_path):
    """LLM quality filters compose with the exactly-once streaming path:
    gopher_repetition_flags + c4_doc_flags run inside stream_domain_etl's
    foreachBatch (the Arrow metrics kernel included), and a streamed drain
    over two files — with a re-delivered doc — produces verdicts identical
    to the batch path over the same rows."""
    from yelp_business_data_pipeline_spark.operators.text import (
        c4_doc_flags,
        gopher_repetition_flags,
        gopher_repetition_metrics,
    )

    def quality_etl(df):
        m = gopher_repetition_metrics(df)
        return (
            df.join(m, "doc_id")
            .withColumn("gopher_ok", gopher_repetition_flags())
            .withColumn("_c4", c4_doc_flags(F.col("text"), min_kept_lines=1))
            .select(
                "doc_id",
                "text",
                "gopher_ok",
                F.col("_c4.passes_c4").alias("c4_ok"),
                F.col("_c4.n_kept_lines").alias("n_kept_lines"),
                "top_2gram_chars",
                "dup_5gram_chars",
                "total_word_chars",
            )
        )

    docs = [
        {"doc_id": 1, "text": "spam spam spam spam spam spam"},  # gopher fail
        {"doc_id": 2, "text": " ".join(f"word{i:02d}" for i in range(40)) + "."},
        {"doc_id": 3, "text": "short line\nthis page uses cookies today."},  # c4 policy fail
        # long enough that no single n-gram crosses the Gopher mass gates
        {"doc_id": 4, "text": " ".join(f"plain{i:02d}" for i in range(30)) + " ends here."},
        {"doc_id": 5, "text": "code { body }"},  # c4 curly fail
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = tmp_path / "docs_in"
    src.mkdir()
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "docs_ckpt")
    (src / "a.json").write_text("\n".join(json.dumps(d) for d in docs[:3]))
    q = stream_domain_etl(
        spark, str(src), schema, quality_etl, out, ckpt, keys=["doc_id"]
    )
    q.awaitTermination()
    # second drain: doc 3 re-delivered (idempotent append must not dup its
    # verdict) + two new docs
    (src / "b.json").write_text("\n".join(json.dumps(d) for d in docs[2:]))
    q = stream_domain_etl(
        spark, str(src), schema, quality_etl, out, ckpt, keys=["doc_id"]
    )
    q.awaitTermination()

    streamed = {r["doc_id"]: r.asDict() for r in spark.read.parquet(out).collect()}
    batch_df = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], schema
    )
    batch = {r["doc_id"]: r.asDict() for r in quality_etl(batch_df).collect()}
    assert set(streamed) == set(batch) == {1, 2, 3, 4, 5}
    for did in batch:
        assert streamed[did] == batch[did], did
    # the verdicts themselves: gopher catches 1, c4 catches 3 and 5
    assert not streamed[1]["gopher_ok"] and streamed[2]["gopher_ok"]
    assert not streamed[3]["c4_ok"] and not streamed[5]["c4_ok"]
    assert streamed[4]["c4_ok"] and streamed[4]["gopher_ok"]


def test_stream_incremental_dedup_crawl_loop(spark, tmp_path):
    """The incremental-dedup crawl loop as a stream: batch 1 seeds the
    corpus + fingerprint store; batch 2 carries a within-batch dup, a
    cross-SNAPSHOT dup of batch 1, and novel docs — only novel survive,
    and a crash-replay of batch 2 (store already updated) changes
    nothing, BECAUSE exact_dups_against_index never marks a doc a dup of
    its own store row (the rank-2 arbitration)."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from yelp_business_data_pipeline_spark.streaming import stream_incremental_dedup

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = tmp_path / "crawl"
    src.mkdir()
    out = str(tmp_path / "corpus")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def run(**kw):
        q = stream_incremental_dedup(
            spark, str(src), schema, out, store, ckpt, **kw
        )
        return q

    b1 = [
        {"doc_id": 1, "text": "alpha beta gamma delta"},
        {"doc_id": 2, "text": "totally different words here"},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))
    run().awaitTermination()
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1, 2]
    assert spark.read.parquet(store).count() == 2

    b2 = [
        {"doc_id": 10, "text": "alpha beta gamma delta"},  # dup of stored 1
        {"doc_id": 11, "text": "fresh novel content one"},
        {"doc_id": 12, "text": "fresh novel content one"},  # within-batch dup of 11
        {"doc_id": 13, "text": "another new page entirely"},
    ]
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))

    def _crash(epoch_id: int) -> None:
        raise RuntimeError("injected crash between sink write and checkpoint commit")

    q = run(on_batch_complete=_crash)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination()
    # sink wrote before the crash: 11 and 13 landed, 10 and 12 dropped
    mid = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert mid == [1, 2, 11, 13], mid

    # replay from the same checkpoint: batch 2's docs now match their
    # OWN store rows; replay-safe arbitration keeps the state identical
    run().awaitTermination()
    final = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert final == [1, 2, 11, 13], f"replay broke exactly-once: {final}"
    assert spark.read.parquet(store).count() == 4
    # the store maps fingerprints -> canonical ids (one row per kept doc)
    idx = {r.index_id for r in spark.read.parquet(store).collect()}
    assert idx == {1, 2, 11, 13}


def test_stream_incremental_dedup_dirty_batch_self_heals(spark, tmp_path):
    """A micro-batch delivering the SAME doc_id in two files (dirty
    crawl) must not wedge the stream on merge_upsert's duplicate-key
    raise: the sink collapses to one deterministic row per id first."""
    from yelp_business_data_pipeline_spark.streaming import stream_incremental_dedup

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = tmp_path / "crawl"
    src.mkdir()
    (src / "a.json").write_text(json.dumps({"doc_id": 1, "text": "page body A"}))
    (src / "b.json").write_text(json.dumps({"doc_id": 1, "text": "page body B"}))
    q = stream_incremental_dedup(
        spark, str(src), schema, str(tmp_path / "corpus"),
        str(tmp_path / "store"), str(tmp_path / "ckpt"),
    )
    q.awaitTermination()  # would raise StreamingQueryException before the fix
    rows = spark.read.parquet(str(tmp_path / "corpus")).collect()
    assert len(rows) == 1 and rows[0].doc_id == 1
    assert rows[0].text == "page body A"  # deterministic pick (text asc)


def test_stream_pretrain_screen_frozen_models(spark, tmp_path, sf_dir, frozen_models):
    """The streaming quality half of the crawl loop: classifier, LM,
    and perplexity cuts are fit ONCE on the reference corpus; the
    stream's kept set must equal the batch pretrain_screen run with the
    same frozen inputs over the same docs (verdicts are a pure function
    of doc + models), and a full re-run from the same checkpoint changes
    nothing (exactly-once table state)."""
    from pyspark.sql import functions as F

    from yelp_business_data_pipeline_spark.operators.screen import pretrain_screen
    from yelp_business_data_pipeline_spark.streaming import stream_pretrain_screen

    ref = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model, lm, cuts = frozen_models
    # min_kept_lines=0: the synthetic docs are single-line without
    # terminal punctuation, so C4's sentence floor would zero the kept
    # set (documented in quality_gate_panel) — relaxing ONLY that knob
    # gives a mixed kept/dropped stream, which is what the parity and
    # idempotency assertions need to be non-vacuous.
    knobs = dict(min_words=20, min_stopword_hits=1, min_kept_lines=0)

    rows = [
        (r.doc_id, r.text, r.lang)
        for r in ref.select("doc_id", "text", "lang").orderBy("doc_id").limit(40).collect()
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    src = tmp_path / "crawl"
    src.mkdir()
    out = str(tmp_path / "screened")
    ckpt = str(tmp_path / "ckpt")

    def run():
        return stream_pretrain_screen(
            spark, str(src), schema, out, ckpt, model, lm, cuts, **knobs
        )

    def dump(name, batch):
        (src / name).write_text(
            "\n".join(
                json.dumps({"doc_id": i, "text": t, "lang": lang})
                for i, t, lang in batch
            )
        )

    dump("b1.json", rows[:20])
    run().awaitTermination()

    streamed = spark.createDataFrame(rows[:20], schema)
    want_b1 = sorted(
        r.doc_id
        for r in pretrain_screen(
            streamed, model, lm, carry=("lang",), ppl_cuts=cuts, **knobs
        )
        .filter(F.col("keep"))
        .collect()
    )
    got_b1 = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got_b1 == want_b1
    assert 0 < len(got_b1) < 20  # mixed verdicts: the parity is non-vacuous

    dump("b2.json", rows[20:])
    run().awaitTermination()
    both = spark.createDataFrame(rows, schema)
    want_all = sorted(
        r.doc_id
        for r in pretrain_screen(
            both, model, lm, carry=("lang",), ppl_cuts=cuts, **knobs
        )
        .filter(F.col("keep"))
        .collect()
    )
    got_all = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got_all == want_all and len(got_all) > len(got_b1)

    # drained re-run from the same checkpoint: no new files, no changes
    run().awaitTermination()
    again = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert again == got_all


def test_stream_crawl_pipeline_full_loop(spark, tmp_path, sf_dir, frozen_models):
    """The complete production crawl day in one query — dedup against
    the accumulated store FIRST, then the frozen screen. Batch 2 carries
    a cross-snapshot dup (dropped before the screen ever prices it), a
    within-batch dup, and novel docs; a rejected-but-novel doc is
    INDEXED so batch 3's re-crawl of it cannot re-enter the corpus; a
    crash-replay of a committed batch changes nothing."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import functions as F

    from yelp_business_data_pipeline_spark.operators.screen import pretrain_screen
    from yelp_business_data_pipeline_spark.streaming import stream_crawl_pipeline

    ref = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model, lm, cuts = frozen_models
    knobs = dict(min_words=20, min_stopword_hits=1, min_kept_lines=0)

    # crawl docs drawn from the reference corpus so verdicts are mixed;
    # recompute each doc's expected verdict with the frozen batch screen
    pool = [
        (r.doc_id, r.text, r.lang)
        for r in ref.select("doc_id", "text", "lang").orderBy("doc_id").limit(12).collect()
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    verdict = {
        r.doc_id: r.keep
        for r in pretrain_screen(
            spark.createDataFrame(pool, schema), model, lm, carry=("lang",),
            ppl_cuts=cuts, **knobs
        ).collect()
    }
    kept_ids = [i for i, _, _ in pool if verdict[i]]
    rej_ids = [i for i, _, _ in pool if not verdict[i]]
    assert kept_ids and rej_ids  # mixed corpus: both paths exercised
    texts = {i: (t, lang) for i, t, lang in pool}

    src = tmp_path / "crawl"
    src.mkdir()
    out, store, ckpt = (
        str(tmp_path / "corpus"), str(tmp_path / "store"), str(tmp_path / "ckpt")
    )

    def run(**kw):
        return stream_crawl_pipeline(
            spark, str(src), schema, out, store, ckpt, model, lm, cuts,
            **knobs, **kw
        )

    def dump(name, rows):
        (src / name).write_text(
            "\n".join(
                json.dumps({"doc_id": i, "text": t, "lang": lang})
                for i, t, lang in rows
            )
        )

    k1, k2 = kept_ids[0], kept_ids[1] if len(kept_ids) > 1 else kept_ids[0]
    r1 = rej_ids[0]

    # batch 1: one keeper and one rejected doc — both must be INDEXED,
    # only the keeper lands in the corpus
    dump("b1.json", [(k1, *texts[k1]), (r1, *texts[r1])])
    run().awaitTermination()
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [k1]
    assert spark.read.parquet(store).count() == 2

    # batch 2: a cross-snapshot dup of the keeper (new id, same text —
    # dropped by dedup BEFORE the screen), a within-batch dup pair, a
    # re-crawl of the REJECTED doc (same id: dup of its own store row ->
    # novel again by arbitration? No: same id matches its own row and
    # rank-2 gives NULL -> it IS re-screened, re-rejected, idempotent),
    # and a fresh keeper
    dup_of_k1 = (900, texts[k1][0], texts[k1][1])
    twin_a = (901, texts[k2][0], texts[k2][1])
    twin_b = (902, texts[k2][0], texts[k2][1])
    dump("b2.json", [dup_of_k1, twin_a, twin_b, (r1, *texts[r1])])
    run().awaitTermination()
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    want = sorted({k1} | ({901} if k2 != k1 and verdict[k2] else set()))
    assert got == want, (got, want)
    # store indexed the novel reps only: 900 is a dup (never indexed),
    # 902 collapsed within-batch into 901
    idx = sorted(r.index_id for r in spark.read.parquet(store).collect())
    assert 900 not in idx and 902 not in idx

    # batch 3: re-crawl the rejected doc under a NEW id — the store
    # remembers its fingerprint, so it dedups out before the screen and
    # stays out of the corpus forever
    dump("b3.json", [(903, *texts[r1])])

    def _crash(epoch_id: int) -> None:
        raise RuntimeError("injected crash between sink write and checkpoint commit")

    q = run(on_batch_complete=_crash)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination()
    run().awaitTermination()  # replay
    final = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert final == want  # 903 never entered; replay changed nothing
    assert 903 not in {
        r.index_id for r in spark.read.parquet(store).collect()
    }  # dup of r1's row, never novel


def test_dirty_batch_collapse_is_deterministic_over_all_columns(spark):
    """Two same-id rows with IDENTICAL text but different other fields
    (two crawl files disagreeing on lang) must pick the same winner on
    every execution and layout — the tie-break orders over every
    remaining column, not just text, or a crash-replay could choose the
    other row and flip downstream verdicts."""
    from yelp_business_data_pipeline_spark.streaming.pipeline import (
        _collapse_one_row_per_id,
    )

    rows = [
        (7, "same text", "en"),
        (7, "same text", None),
        (7, "same text", "de"),
        (8, "other", "fr"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    picks = set()
    for n in (1, 3, 7):
        out = {
            r.doc_id: r.lang
            for r in _collapse_one_row_per_id(df.repartition(n), "doc_id", "text").collect()
        }
        assert set(out) == {7, 8}
        picks.add(out[7])
    assert picks == {None}  # nulls-first over lang: one winner, every layout


def test_stream_web_crawl_pipeline_from_raw_pages(spark, tmp_path, sf_dir, frozen_models):
    """The raw-page crawl loop: (url, html) in — frontier dedup before
    parsing, extraction, content dedup, frozen screen. Tracking-param
    mirrors collapse in-batch, a re-crawl under new params is
    frontier-dropped, a body mirror under a brand-new url is
    content-dropped (but its canonical still enters the frontier), a
    non-URL row dies at stage 2, and a full checkpoint-wipe replay of
    every file changes no table."""
    import shutil

    from yelp_business_data_pipeline_spark.operators.screen import pretrain_screen
    from yelp_business_data_pipeline_spark.operators.text import lang_id
    from yelp_business_data_pipeline_spark.streaming import stream_web_crawl_pipeline

    ref = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model, lm, cuts = frozen_models
    knobs = dict(min_words=20, min_stopword_hits=1, min_kept_lines=0)

    pool = [
        (r.doc_id, r.text)
        for r in ref.select("doc_id", "text").orderBy("doc_id").limit(24).collect()
    ]
    texts = dict(pool)

    def page(i: int, text: str) -> str:
        return (
            f"<html><head><title>T{i}</title></head><body>"
            '<nav><a href="/">home</a></nav>'
            f"<p>{text}</p>"
            '<footer><a href="/t">terms</a></footer></body></html>'
        )

    # expected verdicts: the batch frozen screen over (canonical, text,
    # lang_id(text)) — exactly what the stream derives after extraction
    canon = {i: f"http://site{i}.example.com/a" for i, _ in pool}
    docs = spark.createDataFrame(
        [(canon[i], t) for i, t in pool], "canonical_url string, text string"
    ).withColumn("lang", lang_id(F.col("text")))
    verdict = {
        r.canonical_url: r.keep
        for r in pretrain_screen(
            docs, model, lm, id_col="canonical_url", carry=("lang",),
            by="lang", ppl_cuts=cuts, **knobs
        ).collect()
    }
    kept = [i for i, _ in pool if verdict[canon[i]]]
    rej = [i for i, _ in pool if not verdict[canon[i]]]
    # batch 2 needs a keeper DISTINCT from batch 1's, or its "fresh
    # keeper" silently aliases k1 and the store assertion goes vacuous
    assert len(kept) >= 2 and rej

    src = tmp_path / "pages"
    src.mkdir()
    out, frontier, store, ckpt = (
        str(tmp_path / "corpus"),
        str(tmp_path / "frontier"),
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
    )
    schema = T.StructType(
        [T.StructField("url", T.StringType()), T.StructField("html", T.StringType())]
    )

    def run():
        return stream_web_crawl_pipeline(
            spark, str(src), schema, out, frontier, store, ckpt,
            model, lm, cuts, **knobs
        )

    def dump(name, rows):
        (src / name).write_text(
            "\n".join(json.dumps({"url": u, "html": h}) for u, h in rows)
        )

    k1, k2, r1 = kept[0], kept[1], rej[0]

    # batch 1: the keeper under TWO tracking-param mirrors (one canonical
    # survives the batch), a rejected doc, and a junk non-URL row
    dump(
        "b1.json",
        [
            (f"HTTP://Site{k1}.Example.com:80/a?utm_source=x", page(k1, texts[k1])),
            (f"http://site{k1}.example.com/a?gclid=g", page(k1, texts[k1])),
            (f"http://site{r1}.example.com/a", page(r1, texts[r1])),
            ("not a url at all", page(999, "junk junk junk")),
        ],
    )
    run().awaitTermination()
    corpus = {r.canonical_url: r for r in spark.read.parquet(out).collect()}
    assert set(corpus) == {canon[k1]}
    assert corpus[canon[k1]].text == texts[k1]  # roundtrip through HTML
    assert corpus[canon[k1]].title == f"T{k1}"
    assert {r.canonical_url for r in spark.read.parquet(frontier).collect()} == {
        canon[k1], canon[r1]
    }
    n_store_b1 = spark.read.parquet(store).count()
    assert n_store_b1 == 2  # keeper AND rejected doc are content-indexed

    # batch 2: a re-crawl of the keeper under NEW tracking params
    # (frontier-dropped before parsing), the keeper's BODY under a
    # brand-new url (content-dropped, canonical still recorded), and a
    # fresh keeper
    mirror = f"http://mirror-of-{k1}.example.com/copy"
    dump(
        "b2.json",
        [
            (f"http://site{k1}.example.com/a?utm_campaign=again", page(k1, texts[k1])),
            (mirror, page(k1, texts[k1])),
            (f"http://site{k2}.example.com/a", page(k2, texts[k2])),
        ],
    )
    run().awaitTermination()
    corpus2 = {r.canonical_url for r in spark.read.parquet(out).collect()}
    assert corpus2 == {canon[k1], canon[k2]}
    front2 = {r.canonical_url for r in spark.read.parquet(frontier).collect()}
    assert front2 == {canon[k1], canon[r1], canon[k2], mirror}
    # the mirror body never re-entered the corpus or the content store
    assert spark.read.parquet(store).count() == n_store_b1 + 1  # + k2 only

    # full replay: wipe the checkpoint so EVERY file re-delivers — the
    # frontier short-circuits all of it; no table changes
    before = {
        p: sorted(map(tuple, spark.read.parquet(p).collect()))
        for p in (out, frontier, store)
    }
    shutil.rmtree(ckpt)
    run().awaitTermination()
    after = {
        p: sorted(map(tuple, spark.read.parquet(p).collect()))
        for p in (out, frontier, store)
    }
    assert after == before


def test_stream_web_crawl_pipeline_warc_source_equals_json(spark, tmp_path, sf_dir, frozen_models):
    """The r10 WARC front-end (source_format='warc'): the SAME pages fed
    as Common Crawl-style .warc.gz segments (one gzip member per record)
    must produce a byte-identical kept corpus, frontier, and store as
    the JSON page source — the front-end changes the reader, nothing
    downstream. Unknown source_format raises loudly."""
    import zlib

    import pytest as _pytest

    from yelp_business_data_pipeline_spark.sources.warc import write_warc_bytes
    from yelp_business_data_pipeline_spark.streaming import (
        stream_web_crawl_pipeline,
    )

    ref = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model, lm, cuts = frozen_models
    knobs = dict(min_words=20, min_stopword_hits=1, min_kept_lines=0)

    pool = [
        (r.doc_id, r.text)
        for r in ref.select("doc_id", "text").orderBy("doc_id").limit(12).collect()
    ]
    pages = [
        (
            f"http://site{i}.example.com/a",
            f"<html><head><title>T{i}</title></head><body>"
            '<nav><a href="/">home</a></nav>'
            f"<p>{t}</p>"
            '<footer><a href="/t">terms</a></footer></body></html>',
        )
        for i, t in pool
    ]

    schema = T.StructType(
        [T.StructField("url", T.StringType()), T.StructField("html", T.StringType())]
    )

    def run(src, base, fmt):
        q = stream_web_crawl_pipeline(
            spark, str(src), schema,
            str(base / "corpus"), str(base / "frontier"), str(base / "store"),
            str(base / "ckpt"), model, lm, cuts,
            source_format=fmt, **knobs,
        )
        q.awaitTermination()

    jsrc = tmp_path / "jpages"
    jsrc.mkdir()
    (jsrc / "b.json").write_text(
        "\n".join(json.dumps({"url": u, "html": h}) for u, h in pages)
    )
    jbase = tmp_path / "jout"
    jbase.mkdir()
    run(jsrc, jbase, "json")

    def gz(b: bytes) -> bytes:
        c = zlib.compressobj(wbits=31)
        return c.compress(b) + c.flush()

    wsrc = tmp_path / "wpages"
    wsrc.mkdir()
    (wsrc / "seg-00000.warc.gz").write_bytes(
        b"".join(
            gz(write_warc_bytes([(u, "2024-01-01T00:00:00Z", h.encode())]))
            for u, h in pages
        )
    )
    wbase = tmp_path / "wout"
    wbase.mkdir()
    run(wsrc, wbase, "warc")

    for table in ("corpus", "frontier", "store"):
        j = sorted(
            map(tuple, spark.read.parquet(str(jbase / table)).collect())
        )
        w = sorted(
            map(tuple, spark.read.parquet(str(wbase / table)).collect())
        )
        assert j == w and len(j) > 0, table

    with _pytest.raises(ValueError, match="source_format"):
        stream_web_crawl_pipeline(
            spark, str(wsrc), schema,
            str(tmp_path / "x1"), str(tmp_path / "x2"), str(tmp_path / "x3"),
            str(tmp_path / "x4"), model, lm, cuts,
            source_format="avro", **knobs,
        )


def test_stream_web_crawl_pipeline_bad_source_format_caches_nothing(spark, tmp_path):
    """An unknown source_format is rejected before the frozen model frames
    are persisted: the failed call leaves the caller's LM and cut frames
    out of the cache."""
    import pytest as _pytest

    from yelp_business_data_pipeline_spark.streaming import stream_web_crawl_pipeline

    spark.catalog.clearCache()
    uni, bi, total, cuts = (spark.range(n).toDF("x") for n in (1, 2, 3, 4))
    schema = T.StructType(
        [T.StructField("url", T.StringType()), T.StructField("html", T.StringType())]
    )
    with _pytest.raises(ValueError, match="source_format"):
        stream_web_crawl_pipeline(
            spark, str(tmp_path / "src"), schema,
            str(tmp_path / "x1"), str(tmp_path / "x2"), str(tmp_path / "x3"),
            str(tmp_path / "x4"), None, (uni, bi, total), cuts,
            source_format="warcs",
        )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_stream_web_crawl_pipeline_script_routing(spark, tmp_path, sf_dir, frozen_models):
    """script_route flows through the crawl loop (r11): a page that
    PASSES the unrouted screen but is dominated by a non-latin script is
    rejected from the corpus when routing is on — while still entering
    the frontier and the fingerprint store like every rejected page —
    and the stream's keep set equals the batch screen's routed verdicts
    (the frozen-model equivalence pin, routing edition)."""
    from yelp_business_data_pipeline_spark.operators.screen import pretrain_screen
    from yelp_business_data_pipeline_spark.operators.text import lang_id
    from yelp_business_data_pipeline_spark.streaming import stream_web_crawl_pipeline

    ref = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model, lm, cuts = frozen_models
    knobs = dict(min_words=20, min_stopword_hits=1, min_kept_lines=0)

    pool = [
        (r.doc_id, r.text)
        for r in ref.select("doc_id", "text").orderBy("doc_id").limit(24).collect()
    ]
    canon = {i: f"http://site{i}.example.com/a" for i, _ in pool}
    base = spark.createDataFrame(
        [(canon[i], t) for i, t in pool], "canonical_url string, text string"
    ).withColumn("lang", lang_id(F.col("text")))
    unrouted = {
        r.canonical_url: r.keep
        for r in pretrain_screen(
            base, model, lm, id_col="canonical_url", carry=("lang",),
            by="lang", ppl_cuts=cuts, **knobs
        ).collect()
    }
    keepers = [i for i, _ in pool if unrouted[canon[i]]]
    assert len(keepers) >= 2
    texts = dict(pool)
    # the routing victim: a PASSING doc's text with a CJK majority
    # appended as short space-separated words — the latin gates still see
    # their stopwords/lines, but dominant_script flips to cjk
    k_lat, k_vic = keepers[0], keepers[1]
    vic_text = texts[k_vic] + " " + " ".join(["你好 世界"] * len(texts[k_vic]))
    docs = spark.createDataFrame(
        [(canon[k_lat], texts[k_lat]), (canon[k_vic], vic_text)],
        "canonical_url string, text string",
    ).withColumn("lang", lang_id(F.col("text")))
    routed = {
        r.canonical_url: (r.keep, r.script, r.script_ok)
        for r in pretrain_screen(
            docs, model, lm, id_col="canonical_url", carry=("lang",),
            by="lang", ppl_cuts=cuts, script_route=True, **knobs
        ).collect()
    }
    # construction holds: the victim fails ONLY script_ok
    assert routed[canon[k_lat]] == (True, "latin", True)
    assert routed[canon[k_vic]][1] == "cjk" and not routed[canon[k_vic]][2]

    def page(text: str) -> str:
        return f"<html><head><title>t</title></head><body><p>{text}</p></body></html>"

    src = tmp_path / "pages"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps({"url": u, "html": page(t)})
            for u, t in ((canon[k_lat], texts[k_lat]), (canon[k_vic], vic_text))
        )
    )
    out, frontier, store, ckpt = (
        str(tmp_path / "corpus"),
        str(tmp_path / "frontier"),
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
    )
    schema = T.StructType(
        [T.StructField("url", T.StringType()), T.StructField("html", T.StringType())]
    )
    stream_web_crawl_pipeline(
        spark, str(src), schema, out, frontier, store, ckpt,
        model, lm, cuts, script_route=True, **knobs
    ).awaitTermination()

    corpus = {r.canonical_url for r in spark.read.parquet(out).collect()}
    assert corpus == {canon[k_lat]}  # == the batch routed keep set
    fronts = {r.canonical_url for r in spark.read.parquet(frontier).collect()}
    assert fronts == {canon[k_lat], canon[k_vic]}  # victim never re-crawled
    stored = {r.index_id for r in spark.read.parquet(store).collect()}
    assert canon[k_vic] in stored  # fingerprint indexed despite rejection


def test_stream_web_crawl_pipeline_compression_gate(spark, tmp_path, sf_dir, frozen_models):
    """compression_bounds flows through the crawl loop (r11 session 2):
    with the cut placed between two otherwise-KEPT pages' DEFLATE
    ratios, the more-compressible page stays in the corpus and the other
    is rejected ONLY by comp_ok — while still entering the frontier and
    the fingerprint store like every rejected page."""
    import zlib

    from yelp_business_data_pipeline_spark.operators.screen import pretrain_screen
    from yelp_business_data_pipeline_spark.operators.text import lang_id
    from yelp_business_data_pipeline_spark.streaming import stream_web_crawl_pipeline

    ref = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model, lm, cuts = frozen_models
    knobs = dict(min_words=20, min_stopword_hits=1, min_kept_lines=0)

    pool = [
        (r.doc_id, r.text)
        for r in ref.select("doc_id", "text").orderBy("doc_id").limit(24).collect()
    ]
    canon = {i: f"http://csite{i}.example.com/a" for i, _ in pool}
    base = spark.createDataFrame(
        [(canon[i], t) for i, t in pool], "canonical_url string, text string"
    ).withColumn("lang", lang_id(F.col("text")))
    unrouted = {
        r.canonical_url: r.keep
        for r in pretrain_screen(
            base, model, lm, id_col="canonical_url", carry=("lang",),
            by="lang", ppl_cuts=cuts, **knobs
        ).collect()
    }
    texts = dict(pool)

    def cut_int(t: str) -> int:
        raw = t.encode("utf-8")
        c = len(zlib.compress(raw, 6))
        return -(-c * 1_000_000 // len(raw))  # ceil — smallest passing hi_i

    keepers = sorted(
        (i for i, _ in pool if unrouted[canon[i]]), key=lambda i: cut_int(texts[i])
    )
    assert len(keepers) >= 2
    k_keep, k_vic = keepers[0], keepers[-1]
    assert cut_int(texts[k_keep]) < cut_int(texts[k_vic])  # a real gap
    bounds = (0.000001, cut_int(texts[k_keep]) / 1_000_000)

    # batch construction check: victim fails ONLY comp_ok
    docs = spark.createDataFrame(
        [(canon[k_keep], texts[k_keep]), (canon[k_vic], texts[k_vic])],
        "canonical_url string, text string",
    ).withColumn("lang", lang_id(F.col("text")))
    gated = {
        r.canonical_url: (r.keep, r.comp_ok)
        for r in pretrain_screen(
            docs, model, lm, id_col="canonical_url", carry=("lang",),
            by="lang", ppl_cuts=cuts, compression_bounds=bounds, **knobs
        ).collect()
    }
    assert gated[canon[k_keep]] == (True, True)
    assert gated[canon[k_vic]] == (False, False)

    def page(text: str) -> str:
        return f"<html><head><title>t</title></head><body><p>{text}</p></body></html>"

    src = tmp_path / "pages"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps({"url": u, "html": page(t)})
            for u, t in ((canon[k_keep], texts[k_keep]), (canon[k_vic], texts[k_vic]))
        )
    )
    out, frontier, store, ckpt = (
        str(tmp_path / "corpus"),
        str(tmp_path / "frontier"),
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
    )
    schema = T.StructType(
        [T.StructField("url", T.StringType()), T.StructField("html", T.StringType())]
    )
    stream_web_crawl_pipeline(
        spark, str(src), schema, out, frontier, store, ckpt,
        model, lm, cuts, compression_bounds=bounds, **knobs
    ).awaitTermination()

    corpus = {r.canonical_url for r in spark.read.parquet(out).collect()}
    assert corpus == {canon[k_keep]}
    fronts = {r.canonical_url for r in spark.read.parquet(frontier).collect()}
    assert fronts == {canon[k_keep], canon[k_vic]}
    stored = {r.index_id for r in spark.read.parquet(store).collect()}
    assert canon[k_vic] in stored
