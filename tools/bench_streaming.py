#!/usr/bin/env python
"""Streaming throughput tracker (VERDICT r4 item 6).

The streaming stack (streaming/pipeline.py:stream_domain_etl /
stream_cdc_upsert — the Spark-native form of the reference's Lambda
ingest, ``lambda/trigeer_ETL_Pipeline.py:59-88``) is correctness-tested
but was never benched. This script measures an AvailableNow drain of N
synthetic JSON files through BOTH paths and prints ONE JSON line:

    {"metric": "streaming_throughput", "domain_etl_rows_per_s": ...,
     "cdc_upsert_rows_per_s": ..., "rows": R, "files": N, "batches": B,
     "domain_out_files": F}

``domain_out_files`` is the parquet file count of the domain-ETL sink
after its drain: the small files that B micro-batch appends leave behind.

Two other modes print their own JSON line instead: ``--curve``, the
batch-size amortization curve of the domain-ETL drain (:func:`curve`),
and ``--crawl``, the raw-page crawl-loop throughput of
``stream_web_crawl_pipeline`` (:func:`crawl`).

Workload shape (deterministic, no RNG):
- domain ETL: N files x M review-shaped JSON rows, maxFilesPerTrigger
  bounds each micro-batch (several batches, like the per-S3-object
  Lambda firing), foreachBatch -> sentiment-scored review ETL ->
  idempotent append.
- CDC upsert: same rows recast as change records (seq = running change
  number, ~25% of keys updated by a later file), merged latest-wins
  into a keyed table via merge_upsert per batch.

Timing EXCLUDES session startup and source-file generation; one warmup
drain of a single small file amortizes the first-query planner/sink
costs the way bench.py's warmup does. Numbers land in BASELINE.md with
a noise band (min/max of 3).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yelp_business_data_pipeline_spark.operators import review_etl
from yelp_business_data_pipeline_spark.schemas import REVIEW_RAW_SCHEMA
from yelp_business_data_pipeline_spark.session import get_spark
from yelp_business_data_pipeline_spark.streaming import (
    stream_cdc_upsert,
    stream_domain_etl,
)

N_FILES = int(os.environ.get("STREAM_BENCH_FILES", "12"))
ROWS_PER_FILE = int(os.environ.get("STREAM_BENCH_ROWS", "5000"))
FILES_PER_TRIGGER = 3
REPEATS = 3

_WORDS = ("great", "awful", "fine", "terrible", "amazing", "slow", "friendly")


def _review(i: int) -> dict:
    return {
        "review_id": f"r{i}",
        "user_id": f"u{i % 997}",
        "business_id": f"b{i % 251}",
        "stars": float(1 + i % 5),
        "useful": i % 7,
        "funny": i % 3,
        "cool": i % 5,
        "text": f"{_WORDS[i % 7]} service and {_WORDS[(i + 3) % 7]} food visit {i}",
        "date": f"2021-{1 + i % 12:02d}-{1 + i % 28:02d} 10:30:00",
    }


def _write_source(src_dir: str) -> int:
    """N files; later files UPDATE ~25% of earlier keys (CDC realism:
    review ids recur with a higher seq). Returns total rows written."""
    total = 0
    for f in range(N_FILES):
        rows = []
        for j in range(ROWS_PER_FILE):
            i = f * ROWS_PER_FILE + j
            r = _review(i if (f == 0 or j % 4) else i - ROWS_PER_FILE)  # 25% re-keys
            r["seq"] = total + j  # change order for CDC arbitration
            rows.append(json.dumps(r))
        with open(os.path.join(src_dir, f"part-{f:04d}.json"), "w") as fh:
            fh.write("\n".join(rows))
        total += ROWS_PER_FILE
    return total


def _drain_domain(spark, src, base, files_per_trigger=FILES_PER_TRIGGER) -> tuple[float, int]:
    batches: list[int] = []
    t0 = time.perf_counter()
    q = stream_domain_etl(
        spark,
        src,
        REVIEW_RAW_SCHEMA,
        review_etl,
        os.path.join(base, "out_domain"),
        os.path.join(base, "ckpt_domain"),
        keys=["review_id"],
        max_files_per_trigger=files_per_trigger,
        on_batch_complete=lambda e: batches.append(e),
    )
    q.awaitTermination()
    return time.perf_counter() - t0, len(batches)


def _drain_cdc(spark, src, base) -> tuple[float, int]:
    from pyspark.sql import types as T

    cdc_schema = T.StructType(REVIEW_RAW_SCHEMA.fields + [T.StructField("seq", T.LongType())])
    batches: list[int] = []
    t0 = time.perf_counter()
    q = stream_cdc_upsert(
        spark,
        src,
        cdc_schema,
        os.path.join(base, "out_cdc"),
        os.path.join(base, "ckpt_cdc"),
        keys=["review_id"],
        order_by=["seq"],
        max_files_per_trigger=FILES_PER_TRIGGER,
        on_batch_complete=lambda e: batches.append(e),
    )
    q.awaitTermination()
    return time.perf_counter() - t0, len(batches)


def _drain_windowed(spark, base) -> tuple[float, int]:
    """Watermarked windowed aggregation drain: N parquet files of events
    through streaming_event_counts into a memory-free noop-equivalent
    (foreachBatch count) — the stateful-aggregation path's throughput."""
    import pyspark.sql.types as T

    from yelp_business_data_pipeline_spark.streaming import streaming_event_counts

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = os.path.join(base, "ev_src")
    n_rows = N_FILES * ROWS_PER_FILE
    spark.range(n_rows).selectExpr(
        "id AS event_id",
        "timestamp_micros(CAST(1700000000000000 + id * 1000000 AS LONG)) AS ts",
        "CASE CAST(id % 3 AS INT) WHEN 0 THEN 'view' WHEN 1 THEN 'click' ELSE 'purchase' END AS event_type",
        "CAST(id % 100 AS DOUBLE) AS value",
    ).repartition(N_FILES).write.parquet(src)
    rows_seen: list[int] = []
    t0 = time.perf_counter()
    q = (
        streaming_event_counts(spark, src, schema, window="5 minutes")
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, epoch: rows_seen.append(df.count()))
        .option("checkpointLocation", os.path.join(base, "ev_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return time.perf_counter() - t0, n_rows


def curve() -> None:
    """Batch-size amortization curve (VERDICT r7 item 8): the SAME 60k
    rows drained with maxFilesPerTrigger 1 / 3 / 12 (12 / 4 / 1
    micro-batches). Local-mode throughput is per-micro-batch fixed-cost
    dominated (~1.2s: plan + checkpoint + commit), so rows/s should rise
    with batch size — the quantitative form of the cluster story (size
    micro-batches so work >> fixed cost). Prints one JSON line:
    {"metric": "streaming_amortization", "points": [{files_per_trigger,
    batches, rows_per_s_median, band}, ...]}."""
    spark = get_spark(app_name="bench-streaming-curve")
    base_root = tempfile.mkdtemp(prefix="stream_curve_")
    try:
        src = os.path.join(base_root, "incoming")
        os.makedirs(src)
        total_rows = _write_source(src)
        warm = os.path.join(base_root, "warm_src")
        os.makedirs(warm)
        with open(os.path.join(warm, "w.json"), "w") as fh:
            fh.write(json.dumps(dict(_review(0), seq=0)))
        _drain_domain(spark, warm, os.path.join(base_root, "warm_d"))
        points = []
        for fpt in (1, 3, N_FILES):
            rates, nb = [], 0
            for rep in range(REPEATS):
                base = os.path.join(base_root, f"fpt{fpt}_rep{rep}")
                os.makedirs(base)
                dt, nb = _drain_domain(spark, src, base, files_per_trigger=fpt)
                rates.append(total_rows / dt)
            points.append(
                {
                    "files_per_trigger": fpt,
                    "batches": nb,
                    "rows_per_s_median": round(sorted(rates)[len(rates) // 2]),
                    "band": [round(min(rates)), round(max(rates))],
                }
            )
        print(
            json.dumps(
                {
                    "metric": "streaming_amortization",
                    "unit": "rows/s",
                    "rows": total_rows,
                    "path": "stream_domain_etl",
                    "points": points,
                },
                separators=(",", ":"),
            )
        )
    finally:
        shutil.rmtree(base_root, ignore_errors=True)


def crawl() -> None:
    """Raw-page crawl-loop throughput (VERDICT r9 item 5): drain N files
    of sf0.1-shaped ``(url, html)`` pages through
    ``stream_web_crawl_pipeline`` (frontier dedup -> HTML extraction ->
    content dedup -> frozen screen -> three keyed merge_upsert sinks)
    and print ONE JSON line::

        {"metric": "crawl_pipeline_throughput", "pages_per_s_median": ...,
         "band": [...], "probe_10x_pages_per_s": ...,
         "stage_share": {...}, "rows": R, "files": N}

    The frozen models (classifier weights, bigram LM, perplexity cuts)
    fit ONCE on the SF dir's documents table — the streaming regime, so
    model-fit cost is excluded (it is a deploy-time cost, not a
    per-batch one). ``stage_share`` approximates where batch time goes
    by timing BATCH-mode prefix plans of the same stages over the same
    pages (collapse+frontier / +extract+langid / +content-fp / +screen)
    into a noop sink — recomputation-based shares, stated as such; the
    streamed number is the end-to-end truth. The 10x probe is one drain
    at 10x the pages (sub-linear growth = per-micro-batch fixed costs
    amortize; the cluster story)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from yelp_business_data_pipeline_spark.operators.htmlx import extract_main_text
    from yelp_business_data_pipeline_spark.operators.ppl import (
        fit_bigram_lm,
        perplexity_thresholds,
        score_perplexity,
    )
    from yelp_business_data_pipeline_spark.operators.qualityclf import (
        train_quality_classifier,
    )
    from yelp_business_data_pipeline_spark.operators.screen import pretrain_screen
    from yelp_business_data_pipeline_spark.operators.text import lang_id
    from yelp_business_data_pipeline_spark.operators.urls import frontier_dedup
    from yelp_business_data_pipeline_spark.streaming import stream_web_crawl_pipeline
    from yelp_business_data_pipeline_spark.streaming.pipeline import (
        _collapse_one_row_per_id,
        _within_batch_fp_reps,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rows_per_file = int(os.environ.get("CRAWL_BENCH_ROWS", "1000"))
    spark = get_spark(app_name="bench-streaming-crawl")
    base_root = tempfile.mkdtemp(prefix="stream_crawl_")
    knobs = dict(min_words=20, min_stopword_hits=1, min_kept_lines=0)
    try:
        ref = spark.read.parquet(f"{sf_dir}/documents.parquet")
        model = train_quality_classifier(
            ref, F.col("lang") == "en", buckets=4096, n_train=512
        )
        lm = fit_bigram_lm(ref)
        cuts = perplexity_thresholds(
            score_perplexity(ref, lm, carry=("lang",)).filter(
                F.col("ppl").isNotNull()
            )
        )
        texts = [
            r.text
            for r in ref.select("doc_id", "text").orderBy("doc_id").limit(512).collect()
        ]

        def page_html(i: int) -> str:
            return (
                f"<html><head><title>T{i}</title></head><body>"
                '<nav><a href="/">home</a> <a href="/c">cats</a></nav>'
                f"<p>{texts[i % len(texts)]}</p>"
                '<footer><a href="/t">terms</a></footer></body></html>'
            )

        def page_url(i: int) -> str:
            # ~10% tracking-param mirrors of the previous url (collapse
            # in-batch at the frontier stage — crawl realism)
            if i % 10 == 9:
                return f"http://site{i - 1}.example.com/a?utm_source=bench"
            return f"http://site{i}.example.com/a"

        def write_pages(src_dir: str, n_files: int, per_file: int) -> int:
            for f in range(n_files):
                with open(os.path.join(src_dir, f"p{f:04d}.json"), "w") as fh:
                    fh.write(
                        "\n".join(
                            json.dumps(
                                {"url": page_url(i), "html": page_html(i)}
                            )
                            for i in range(f * per_file, (f + 1) * per_file)
                        )
                    )
            return n_files * per_file

        schema = T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("html", T.StringType()),
            ]
        )

        def drain(src: str, tag: str) -> float:
            base = os.path.join(base_root, tag)
            os.makedirs(base)
            t0 = time.perf_counter()
            q = stream_web_crawl_pipeline(
                spark,
                src,
                schema,
                os.path.join(base, "corpus"),
                os.path.join(base, "frontier"),
                os.path.join(base, "store"),
                os.path.join(base, "ckpt"),
                model,
                lm,
                cuts,
                max_files_per_trigger=FILES_PER_TRIGGER,
                **knobs,
            )
            q.awaitTermination()
            return time.perf_counter() - t0

        # warmup: one small file builds worker pool + all three sink plans
        warm = os.path.join(base_root, "warm_src")
        os.makedirs(warm)
        write_pages(warm, 1, 8)
        drain(warm, "warm")

        src = os.path.join(base_root, "pages")
        os.makedirs(src)
        total = write_pages(src, N_FILES, rows_per_file)
        rates = [total / drain(src, f"rep{r}") for r in range(REPEATS)]

        src10 = os.path.join(base_root, "pages10x")
        os.makedirs(src10)
        total10 = write_pages(src10, N_FILES, rows_per_file * 10)
        rate10 = total10 / drain(src10, "probe10x")

        # stage shares: batch-mode prefix plans over the same pages
        pages = spark.read.schema(schema).json(src)
        p1 = frontier_dedup(
            _collapse_one_row_per_id(pages, "url", "html"), "url", [F.col("url")]
        )
        p2 = (
            extract_main_text(p1, "html", max_link_density=0.33, min_words=1)
            .select(
                F.col("canonical_url"),
                F.col("extracted.title").alias("title"),
                F.col("extracted.text").alias("text"),
            )
            .withColumn("lang", lang_id(F.col("text")))
        )
        p3 = _within_batch_fp_reps(p2, "canonical_url", "text", 2)
        p4 = pretrain_screen(
            p3.drop("fingerprint"),
            model,
            lm,
            id_col="canonical_url",
            text_col="text",
            carry=("lang",),
            by="lang",
            ppl_cuts=cuts,
            **knobs,
        )
        cum = []
        for df in (p1, p2, p3, p4):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            cum.append(time.perf_counter() - t0)
        deltas = [cum[0]] + [max(b - a, 0.0) for a, b in zip(cum, cum[1:])]
        tot = sum(deltas) or 1.0
        share = dict(
            zip(
                ("frontier_dedup", "html_extract_langid", "content_fp", "screen"),
                (round(d / tot, 3) for d in deltas),
            )
        )
        print(
            json.dumps(
                {
                    "metric": "crawl_pipeline_throughput",
                    "unit": "pages/s",
                    "rows": total,
                    "files": N_FILES,
                    "pages_per_s_median": round(sorted(rates)[len(rates) // 2]),
                    "band": [round(min(rates)), round(max(rates))],
                    "probe_10x_rows": total10,
                    "probe_10x_pages_per_s": round(rate10),
                    "stage_share": share,
                },
                separators=(",", ":"),
            )
        )
    finally:
        shutil.rmtree(base_root, ignore_errors=True)


def main() -> None:
    spark = get_spark(app_name="bench-streaming")
    base_root = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        src = os.path.join(base_root, "incoming")
        os.makedirs(src)
        total_rows = _write_source(src)

        # warmup: one-file drain builds the Python worker pool + sink plans
        warm = os.path.join(base_root, "warm_src")
        os.makedirs(warm)
        with open(os.path.join(warm, "w.json"), "w") as fh:
            fh.write(json.dumps(dict(_review(0), seq=0)))
        _drain_domain(spark, warm, os.path.join(base_root, "warm_d"))
        _drain_cdc(spark, warm, os.path.join(base_root, "warm_c"))

        dom, cdc, win = [], [], []
        n_batches = out_files = 0
        for rep in range(REPEATS):
            base = os.path.join(base_root, f"rep{rep}")
            os.makedirs(base)
            dt, nb = _drain_domain(spark, src, base)
            dom.append(total_rows / dt)
            out_files = len(
                glob.glob(os.path.join(base, "out_domain", "**", "*.parquet"), recursive=True)
            )
            ct, _ = _drain_cdc(spark, src, base)
            cdc.append(total_rows / ct)
            wt, wn = _drain_windowed(spark, base)
            win.append(wn / wt)
            n_batches = nb
        result = {
            "metric": "streaming_throughput",
            "unit": "rows/s",
            "rows": total_rows,
            "files": N_FILES,
            "batches": n_batches,
            "domain_out_files": out_files,
            "domain_etl_rows_per_s": round(sorted(dom)[len(dom) // 2]),
            "domain_etl_band": [round(min(dom)), round(max(dom))],
            "cdc_upsert_rows_per_s": round(sorted(cdc)[len(cdc) // 2]),
            "cdc_upsert_band": [round(min(cdc)), round(max(cdc))],
            "windowed_agg_rows_per_s": round(sorted(win)[len(win) // 2]),
            "windowed_agg_band": [round(min(win)), round(max(win))],
        }
        print(json.dumps(result, separators=(",", ":")))
    finally:
        shutil.rmtree(base_root, ignore_errors=True)


if __name__ == "__main__":
    if "--crawl" in sys.argv:
        sys.exit(crawl())
    sys.exit(curve() if "--curve" in sys.argv else main())
