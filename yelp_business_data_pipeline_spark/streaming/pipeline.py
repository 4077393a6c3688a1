"""Structured Streaming ingest.

The reference's "real-time" path is event-driven micro-batching: an S3
``ObjectCreated`` event fires a Lambda that re-runs the batch ETL on the new
file and rebuilds the unified table (reference
``lambda/trigeer_ETL_Pipeline.py:59-88``; write discipline
``README.md:217-223`` — domains append, unified overwrite). Spark-natively
that is exactly a **file-source stream + Trigger.AvailableNow +
foreachBatch**:

- the file source discovers new files per micro-batch (the S3-event role),
  with exactly-once tracking in the checkpoint (stronger than the
  reference's at-least-once Lambda, which duplicates rows on re-delivery);
- ``foreachBatch`` applies the SAME batch ETL function (one code path for
  batch and streaming — no notebook/Lambda split) and writes append-mode
  via the idempotent writer;
- the unified rebuild runs after the domain streams drain, as in the
  reference's job DAG (Business ∥ Review ∥ User → Unified,
  ``README.md:140-152``).

At scale: one stream per domain folder; ``maxFilesPerTrigger`` bounds batch
size; checkpoints on durable storage; the unified table is rebuilt with a
plain (unpartitioned) overwrite once the domain streams drain.

Also provided: a watermarked windowed aggregation over the events stream —
the standard Structured Streaming shape the reference lacks entirely
(SURVEY.md §2.8: "no watermarks/event-time windows exist in the reference")
but any Spark-first engine should expose.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.writers import (
    _exists,
    _read_target,
    merge_upsert,
    write_append_idempotent,
)


def _json_file_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """The shared stream reader: schema-pinned JSON file source, optional
    per-trigger file cap. Only *.json files trigger processing — the
    reference Lambda skips non-JSON keys (trigeer_ETL_Pipeline.py:70-72)."""
    reader = spark.readStream.schema(schema).option("pathGlobFilter", "*.json")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(source_dir)


def _drain(
    raw: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    on_batch_complete: Callable[[int], None] | None,
):
    """Start the query every stream here runs: ``sink(batch_df, epoch_id)``
    per micro-batch under Trigger.AvailableNow (drain what is present, then
    stop), checkpointed at ``checkpoint_dir``. ``on_batch_complete(epoch_id)``
    runs after the sink's writes and before Spark commits the batch to the
    checkpoint."""

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        sink(batch_df, epoch_id)
        if on_batch_complete is not None:
            on_batch_complete(epoch_id)

    return (
        raw.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_domain_etl(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    etl_fn: Callable[[DataFrame], DataFrame],
    out_path: str,
    checkpoint_dir: str,
    keys: list[str],
    max_files_per_trigger: int | None = None,
    on_batch_complete: Callable[[int], None] | None = None,
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
):
    """Stream JSON files from ``source_dir`` through ``etl_fn`` into an
    idempotent-append parquet sink. Returns the started query (AvailableNow:
    drains everything currently present, then stops).

    ``partition_by``/``sort_by`` MUST match the layout the batch path uses
    for the same table (pipeline.run_batch partitions business by state
    and review by review_year): a stream appending
    unpartitioned files into a partitioned table root corrupts partition
    discovery for every subsequent reader — run_streaming passes the
    batch layout through.

    ``on_batch_complete(epoch_id)`` runs after each batch's sink write,
    before Spark commits the batch to the checkpoint — the audit/metrics
    hook. A crash in that window is the at-least-once hazard foreachBatch
    documents: the write happened but the offset commit didn't, so the
    restarted query REPLAYS the batch. Exactly-once table state survives
    because the sink is the keyed idempotent writer (replayed rows
    anti-join away) — pinned by the checkpoint-recovery test."""
    raw = _json_file_stream(spark, source_dir, schema, max_files_per_trigger)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        write_append_idempotent(
            etl_fn(batch_df),
            out_path,
            keys=keys,
            partition_by=partition_by,
            sort_by=sort_by,
        )

    return _drain(raw, _sink, checkpoint_dir, on_batch_complete)


def stream_cdc_upsert(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    out_path: str,
    checkpoint_dir: str,
    keys: list[str],
    order_by: list[str],
    partition_by: list[str] | None = None,
    max_files_per_trigger: int | None = None,
    on_batch_complete: Callable[[int], None] | None = None,
    compact_every: int | None = None,
    compact_target_mb: int = 128,
):
    """CDC-style streaming upsert: a file stream of change records (each
    row = the new full state of its key, with ``order_by`` giving the
    change order, e.g. a sequence number) merged into a keyed table via
    ``merge_upsert`` — latest-wins within a batch AND against the stored
    row, update-or-insert across batches. The streaming twin of the MERGE
    emulation: together with the checkpoint this gives exactly-once TABLE
    STATE under replay, because re-merging the same change set is a no-op
    (the recovery test pins it).

    Out-of-order delivery is arbitrated by ``order_by``, not arrival: the
    stored rows for the batch's keys (a key semi-join — touched-slice
    cost) join the batch before latest-wins dedup, so a batch carrying an
    OLDER change than the table state re-asserts the stored row instead
    of regressing it. ``order_by`` must be unique per key (a sequence /
    LSN) for the arbitration to be deterministic; the table keeps the
    column so future batches can be arbitrated too.

    At scale each micro-batch rewrites only the partitions its keys touch
    (``partition_by`` + merge_upsert's affected-partition scoping), so a
    trickle of changes against a 100 TB table stays a trickle of I/O.

    ``compact_every=N`` runs ``compact_parquet`` after every Nth committed
    batch (counted by epoch id, so the cadence survives checkpoint
    restarts), bounding the one-file-set-per-micro-batch growth. Layout
    maintenance only — data is unchanged, so a crash-replay around a
    compaction stays exactly-once; partition-column types are pinned from
    the stream schema (never re-inferred from directory names).
    """
    from ..sources.writers import compact_parquet

    if compact_every is not None and compact_every < 1:
        raise ValueError(f"compact_every must be >= 1, got {compact_every}")
    raw = _json_file_stream(spark, source_dir, schema, max_files_per_trigger)
    ptypes = {c: schema[c].dataType for c in partition_by or []}

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        from functools import reduce

        src = batch_df
        if _exists(spark, out_path):
            # _read_target, not a raw read: directory-name type inference
            # would re-type numeric-looking string partition values ('01'
            # -> 1) and silently re-home their rows on the next merge.
            existing = _read_target(spark, out_path, ptypes)
            # null-safe key match, like merge_upsert's own joins: a
            # null-keyed stored row must still enter out-of-order
            # arbitration, or an older change in the batch regresses it.
            batch_keys = src.select(*keys).dropDuplicates(list(keys)).alias("_bk")
            ex = existing.alias("_ex")
            cond = reduce(
                lambda a, b: a & b,
                [F.col(f"_ex.{k}").eqNullSafe(F.col(f"_bk.{k}")) for k in keys],
            )
            stored = ex.join(batch_keys, on=cond, how="left_semi")
            src = src.unionByName(stored)
        merge_upsert(
            src,
            out_path,
            keys=keys,
            partition_by=partition_by,
            dedup_order_by=order_by,
        )
        if compact_every is not None and (epoch_id + 1) % compact_every == 0:
            compact_parquet(
                spark,
                out_path,
                target_mb=compact_target_mb,
                partition_by=partition_by,
                partition_types=ptypes,
            )

    return _drain(raw, _sink, checkpoint_dir, on_batch_complete)


#: binaryFile's fixed source schema (required explicitly for streaming).
_BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def _warc_file_stream(
    spark: SparkSession,
    source_dir: str,
    url_col: str,
    html_col: str,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """WARC front-end for the crawl loop: stream ``.warc`` / ``.warc.gz``
    segment files (binaryFile source — one row per segment, the Common
    Crawl unit) and explode each into (url, html) page rows with the
    real parser (sources/warc.py) in one zero-shuffle Arrow pass.
    Response records only; parse errors and record-level metadata are
    the batch reader's concern (``read_warc_records``) — the crawl loop
    wants pages. Payload bytes decode as UTF-8 with replacement (crawl
    HTML is dirty by nature; the extractor downstream is the judge of
    content, and a decode error must not kill an always-on stream)."""

    import pandas as pd

    from ..sources.warc import parse_warc_bytes

    reader = spark.readStream.format("binaryFile").schema(_BINARY_FILE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(source_dir)
    out_schema = T.StructType(
        [
            T.StructField(url_col, T.StringType()),
            T.StructField(html_col, T.StringType()),
        ]
    )

    def _pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p, blob in zip(pdf["path"], pdf["content"]):
                for r in parse_warc_bytes(bytes(blob), source_file=p):
                    if r["warc_error"] is None and r["warc_type"] == "response":
                        rows.append(
                            (
                                r["url"],
                                (r["payload"] or b"").decode("utf-8", "replace"),
                            )
                        )
            yield pd.DataFrame(rows, columns=[url_col, html_col])

    return raw.select("path", "content").mapInPandas(_pages, out_schema)


def _collapse_one_row_per_id(
    batch_df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """One DETERMINISTIC row per doc id (self-healing: a batch
    re-delivering the same id in two files must not wedge the stream on
    merge_upsert's duplicate-key raise at every replay). The tie-break
    orders over text AND every remaining column — two same-id rows with
    identical text but different other fields (lang, source, ...) must
    pick the same winner on every execution, or a crash-replay could
    choose the other row and change downstream verdicts, breaking the
    exactly-once table-state contract."""
    from pyspark.sql import Window

    order = [F.col(text_col).asc_nulls_first()] + [
        F.col(c).asc_nulls_first()
        for c in batch_df.columns
        if c not in (id_col, text_col)
    ]
    wid = Window.partitionBy(id_col).orderBy(*order)
    return (
        batch_df.withColumn("_idrn", F.row_number().over(wid))
        .filter(F.col("_idrn") == 1)
        .drop("_idrn")
    )


def _within_batch_fp_reps(
    unique: DataFrame, id_col: str, text_col: str, prefix_tokens: int
) -> DataFrame:
    """Within-batch exact dedup: keep the smallest id per fingerprint
    (min-id window — deterministic, the incdedup arbitration rule)."""
    from pyspark.sql import Window

    from ..operators.text import fingerprint

    w = Window.partitionBy("_fp").orderBy(id_col)
    return (
        unique.withColumn("_fp", fingerprint(F.col(text_col), prefix_tokens))
        .withColumn("_m1", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_m1"))
        .drop("_fp", "_m1")
    )


@contextmanager
def _novel_docs(
    docs: DataFrame, store_path: str, id_col: str, text_col: str, prefix_tokens: int
) -> Iterator[DataFrame]:
    """The batch's NOVEL docs, persisted for the ``with`` block: the
    within-batch fingerprint representatives that no OTHER doc in the
    persistent fingerprint store shares a print with
    (``exact_dups_against_index`` — two compact hash equi-joins; the
    accumulated corpus text stays cold). Before the store's first write
    every representative is novel.

    Persisted because every caller consumes the set twice (its corpus
    or screen leg, then the store write): without the cut the batch
    window, the store read and the rank-2 join all run once per
    consumer."""
    from ..operators.incdedup import exact_dups_against_index

    novel = _within_batch_fp_reps(docs, id_col, text_col, prefix_tokens)
    sp = novel.sparkSession
    if _exists(sp, store_path):
        novel = (
            exact_dups_against_index(
                novel, sp.read.parquet(store_path), id_col, text_col, prefix_tokens
            )
            .filter(F.col("dup_of").isNull())
            .drop("dup_of")
        )
    novel = novel.persist()
    try:
        yield novel
    finally:
        novel.unpersist()


def _index_novel(
    novel: DataFrame, store_path: str, id_col: str, text_col: str, prefix_tokens: int
) -> None:
    """Merge the novel docs' fingerprints into the store, keyed on the
    doc id, so re-indexing a replayed batch is idempotent."""
    from ..operators.incdedup import exact_fingerprint_index

    merge_upsert(
        exact_fingerprint_index(novel, id_col, text_col, prefix_tokens),
        store_path,
        keys=["index_id"],
    )


def _frozen_screen(
    clf_model, lm, ppl_cuts: DataFrame, id_col: str, text_col: str, by: str, **knobs
) -> Callable[[DataFrame], DataFrame]:
    """The composed pretraining screen (operators/screen.py) over FROZEN
    models, built once per stream call: returns ``kept(docs)``, the docs
    whose verdict is ``keep`` (a left-semi join on ``id_col``, so the
    docs' own columns pass through). ``knobs`` are the stream's screen
    thresholds, passed to ``pretrain_screen`` unchanged.

    The model frames (LM count tables + cut points) are cached here,
    before the stream starts: EVERY micro-batch consumes them, and
    without the cache each foreachBatch would re-run the full
    reference-corpus aggregations behind them (lazy lineage).
    MEMORY_AND_DISK: a web-scale bigram table spills instead of
    evicting. At true scale, prefer passing parquet-backed frames (write
    the fitted tables once, read them back) — this cache is the
    in-session safety net, not a substitute."""
    from pyspark import StorageLevel

    from ..operators.screen import pretrain_screen

    for f in (*lm, ppl_cuts):
        f.persist(StorageLevel.MEMORY_AND_DISK)

    def kept(docs: DataFrame) -> DataFrame:
        verdicts = pretrain_screen(
            docs,
            clf_model,
            lm,
            id_col=id_col,
            text_col=text_col,
            carry=(by,),
            by=by,
            ppl_cuts=ppl_cuts,
            **knobs,
        )
        return docs.join(
            verdicts.filter(F.col("keep")).select(id_col), id_col, "left_semi"
        )

    return kept


def stream_incremental_dedup(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    out_path: str,
    store_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_tokens: int = 2,
    max_files_per_trigger: int | None = None,
    on_batch_complete: Callable[[int], None] | None = None,
):
    """Streaming crawl-ingest dedup: the incremental (cross-snapshot)
    dedup family (operators/incdedup.py) wired into a file stream — the
    100-TB crawl loop as ONE always-on query. Per micro-batch:

    1. within-batch exact dedup: ``dup_of`` = the batch's smallest doc
       id sharing the fingerprint (window over the batch only);
    2. the surviving representatives annotate against the persistent
       fingerprint STORE (``exact_dups_against_index`` — two compact
       hash equi-joins; the accumulated corpus text stays cold);
    3. novel docs (``dup_of`` NULL after both layers) merge_upsert into
       ``out_path``, and their fingerprints into ``store_path`` (keyed
       on the doc id, so re-indexing is idempotent).

    Exactly-once TABLE STATE under crash-replay, for the same reason as
    ``stream_cdc_upsert`` plus one extra property: a replayed batch
    whose docs were ALREADY indexed matches its own store rows, and the
    rank-2 min-OTHER-id arbitration in ``exact_dups_against_index``
    returns NULL (not self) for them — so the replay recomputes the
    identical novel set and both merge_upserts absorb it (pinned in
    tests/test_streaming.py).

    Self-healing on dirty batches: a micro-batch carrying the same doc
    id twice (two crawl files delivering one page) first collapses to
    one deterministic row per id — without that, merge_upsert's
    duplicate-key ValueError would replay the same batch into the same
    error forever.

    Non-novel docs are DROPPED, not annotated: the sink persists only
    the deduped corpus and the fingerprint store; per-doc ``dup_of``
    provenance exists transiently inside the batch. Run the batch
    ``incremental_dedup_panel`` machinery over a snapshot when an audit
    trail is needed.
    """
    raw = _json_file_stream(spark, source_dir, schema, max_files_per_trigger)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        unique = _collapse_one_row_per_id(batch_df, id_col, text_col)
        with _novel_docs(unique, store_path, id_col, text_col, prefix_tokens) as novel:
            merge_upsert(novel, out_path, keys=[id_col])
            _index_novel(novel, store_path, id_col, text_col, prefix_tokens)

    return _drain(raw, _sink, checkpoint_dir, on_batch_complete)


def stream_pretrain_screen(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    out_path: str,
    checkpoint_dir: str,
    clf_model,
    lm,
    ppl_cuts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    by: str = "lang",
    clf_threshold: float = 0.5,
    min_words: int = 20,
    min_stopword_hits: int = 1,
    min_kept_lines: int = 1,
    max_files_per_trigger: int | None = None,
    on_batch_complete: Callable[[int], None] | None = None,
):
    """The production crawl loop's quality half: the composed pretraining
    screen (operators/screen.py) applied to a file stream with FROZEN
    models — classifier weights, LM count tables, and perplexity cut
    points all fit on the reference corpus BEFORE the stream starts,
    none refit per micro-batch (a per-batch cut refit would drift the
    verdict with batch composition; ``ppl_cuts`` comes from
    ``ppl.perplexity_thresholds`` over the reference corpus and is a
    |groups|-row frame). Per micro-batch: one deterministic row per doc
    id (the dirty-batch collapse of ``stream_incremental_dedup``), the
    screen's three legs, then kept docs merge_upsert into ``out_path``.

    Exactly-once TABLE STATE under crash-replay: the verdict is a pure
    function of (doc, frozen models), so a replayed batch recomputes the
    identical kept set and the keyed merge_upsert absorbs it. Rejected
    docs are dropped (persist only the screened corpus); run the batch
    ``pretrain_screen`` over a snapshot for per-doc audit columns.
    """
    screen = _frozen_screen(
        clf_model,
        lm,
        ppl_cuts,
        id_col,
        text_col,
        by,
        clf_threshold=clf_threshold,
        min_words=min_words,
        min_stopword_hits=min_stopword_hits,
        min_kept_lines=min_kept_lines,
    )
    raw = _json_file_stream(spark, source_dir, schema, max_files_per_trigger)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        unique = _collapse_one_row_per_id(batch_df, id_col, text_col)
        merge_upsert(screen(unique), out_path, keys=[id_col])

    return _drain(raw, _sink, checkpoint_dir, on_batch_complete)


def stream_crawl_pipeline(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    out_path: str,
    store_path: str,
    checkpoint_dir: str,
    clf_model,
    lm,
    ppl_cuts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    by: str = "lang",
    prefix_tokens: int = 2,
    clf_threshold: float = 0.5,
    min_words: int = 20,
    min_stopword_hits: int = 1,
    min_kept_lines: int = 1,
    max_files_per_trigger: int | None = None,
    on_batch_complete: Callable[[int], None] | None = None,
):
    """The full production crawl loop as ONE always-on query: dedup
    against the accumulated index, THEN the frozen quality screen —
    crawl files in, screened corpus + updated fingerprint store out.

    Per micro-batch:

    1. one deterministic row per doc id (dirty-batch collapse);
    2. within-batch exact dedup, then annotation against the persistent
       fingerprint store (``exact_dups_against_index`` — the
       accumulated corpus text stays cold) — only NOVEL docs go on;
    3. the composed pretraining screen with FROZEN models (classifier
       weights, LM tables, perplexity cuts — all reference-corpus-fit);
    4. kept docs merge_upsert into ``out_path``; fingerprints of ALL
       novel docs — kept AND rejected — merge_upsert into
       ``store_path``.

    Indexing rejected docs is deliberate: a page that failed the screen
    must not be re-screened (and possibly re-kept under refit models)
    every time a future crawl re-delivers it, and its future dups must
    still deduplicate. The corpus holds quality; the store holds
    identity.

    Ordering matters at scale: dedup runs FIRST because it is two hash
    equi-joins over compact indexes, while the screen pays LM scoring
    per doc — on real crawl batches (30-60% dup rate) the screen then
    prices only the novel fraction.

    Exactly-once TABLE STATE under crash-replay: the novel set is
    replay-stable (rank-2 min-OTHER-id arbitration vs the doc's own
    store row), the verdict is a pure function of (doc, frozen models),
    and both sinks are keyed merge_upserts.
    """
    screen = _frozen_screen(
        clf_model,
        lm,
        ppl_cuts,
        id_col,
        text_col,
        by,
        clf_threshold=clf_threshold,
        min_words=min_words,
        min_stopword_hits=min_stopword_hits,
        min_kept_lines=min_kept_lines,
    )
    raw = _json_file_stream(spark, source_dir, schema, max_files_per_trigger)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        unique = _collapse_one_row_per_id(batch_df, id_col, text_col)
        with _novel_docs(unique, store_path, id_col, text_col, prefix_tokens) as novel:
            merge_upsert(screen(novel), out_path, keys=[id_col])
            _index_novel(novel, store_path, id_col, text_col, prefix_tokens)

    return _drain(raw, _sink, checkpoint_dir, on_batch_complete)


def stream_web_crawl_pipeline(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    out_path: str,
    frontier_path: str,
    store_path: str,
    checkpoint_dir: str,
    clf_model,
    lm,
    ppl_cuts: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    by: str = "lang",
    canonical_col: str = "canonical_url",
    prefix_tokens: int = 2,
    clf_threshold: float = 0.5,
    min_words: int = 20,
    min_stopword_hits: int = 1,
    min_kept_lines: int = 1,
    extract_min_words: int = 1,
    max_link_density: float = 0.33,
    max_files_per_trigger: int | None = None,
    source_format: str = "json",
    on_batch_complete: Callable[[int], None] | None = None,
    script_route: bool = False,
    route_scripts: tuple[str, ...] = ("latin",),
    compression_bounds: tuple[float, float] | None = None,
):
    """The crawl loop from RAW PAGES: ``(url, html)`` files in, screened
    text corpus + URL frontier + content-fingerprint store out — one
    always-on query composing the whole front-end this engine ships.

    Per micro-batch, in COST order (each stage shrinks the set the next,
    more expensive stage prices):

    1. dirty-batch collapse — one deterministic row per raw url;
    2. FRONTIER dedup (operators/urls.py): canonicalize, keep one page
       per canonical form within the batch, anti-join the persistent
       frontier store — a canonical fetched ONCE is never re-processed,
       whether it was kept, rejected, or a content dup (re-crawls and
       tracking-param mirrors die here, before any parsing);
    3. EXTRACTION (operators/htmlx.py): main text from HTML (zero-shuffle
       Arrow map) + lang-ID on the extracted text (the screen's group
       key) — the doc id from here on IS the canonical url;
    4. CONTENT identity: within-batch fingerprint dedup + annotation
       against the content store — the same page body under a brand-new
       url (scraper mirrors) must not re-enter;
    5. the FROZEN screen (rules + classifier + perplexity bucket), kept
       docs merge_upsert into ``out_path``;
    6. stores: every batch canonical -> ``frontier_path``; fingerprints
       of every novel doc (kept AND rejected) -> ``store_path``.

    Exactly-once table state under crash-replay: every stage is a pure
    function of (page bytes, frozen models, store state at commit), all
    three sinks are keyed merge_upserts, and the within-batch picks are
    deterministic (canonical min-url, fingerprint min-id windows).

    Non-URL rows (canonical NULL) are dropped at stage 2 — the
    frontier_dedup contract; count them upstream if fetch-queue hygiene
    needs the number.

    ``compression_bounds`` flows into the frozen screen the same way —
    the DEFLATE-ratio gate (boilerplate / binary-junk tails) rides the
    screen's verdict; rejected pages still land in the frontier and
    fingerprint stores (never re-crawled).

    ``script_route``/``route_scripts`` flow into the frozen screen
    (operators/screen.py): with routing on, pages whose dominant script
    the screen's lexicon tier cannot judge fail ``script_ok`` and are
    rejected from the CORPUS — but still land in the frontier and the
    fingerprint store like every other rejected page (never re-crawled,
    never re-screened; route them to a per-script pipeline from the raw
    pages instead). A multilingual crawl wants this ON."""
    from ..operators.htmlx import extract_main_text
    from ..operators.text import lang_id
    from ..operators.urls import frontier_dedup

    if source_format == "json":
        raw = _json_file_stream(spark, source_dir, schema, max_files_per_trigger)
    elif source_format == "warc":
        # WARC segments in, (url, html) page rows out — ``schema`` is
        # ignored (WARC's record layout defines it); see _warc_file_stream
        raw = _warc_file_stream(
            spark, source_dir, url_col, html_col, max_files_per_trigger
        )
    else:
        raise ValueError(
            f"stream_web_crawl_pipeline: unknown source_format "
            f"{source_format!r} — 'json' or 'warc'"
        )
    screen = _frozen_screen(
        clf_model,
        lm,
        ppl_cuts,
        canonical_col,
        "text",
        by,
        clf_threshold=clf_threshold,
        min_words=min_words,
        min_stopword_hits=min_stopword_hits,
        min_kept_lines=min_kept_lines,
        script_route=script_route,
        route_scripts=route_scripts,
        compression_bounds=compression_bounds,
    )

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        sp = batch_df.sparkSession
        pages = _collapse_one_row_per_id(batch_df, url_col, html_col)
        fresh = frontier_dedup(
            pages, url_col, [F.col(url_col)], canonical_col=canonical_col
        )
        if _exists(sp, frontier_path):
            fresh = fresh.join(
                sp.read.parquet(frontier_path), canonical_col, "left_anti"
            )
        # one id-grain frame drives both store writes and the doc stage
        fresh = fresh.persist()
        try:
            docs = (
                extract_main_text(
                    fresh,
                    html_col,
                    max_link_density=max_link_density,
                    min_words=extract_min_words,
                )
                .select(
                    F.col(canonical_col),
                    F.col("extracted.title").alias("title"),
                    F.col("extracted.text").alias("text"),
                )
                .withColumn(by, lang_id(F.col("text")))
            )
            with _novel_docs(
                docs, store_path, canonical_col, "text", prefix_tokens
            ) as novel:
                merge_upsert(
                    screen(novel).select(canonical_col, by, "title", "text"),
                    out_path,
                    keys=[canonical_col],
                )
                _index_novel(novel, store_path, canonical_col, "text", prefix_tokens)
                # frontier LAST: content-dup pages record here too, so a
                # re-crawl of a mirror url is frontier-dropped next time
                merge_upsert(
                    fresh.select(canonical_col), frontier_path, keys=[canonical_col]
                )
        finally:
            fresh.unpersist()

    return _drain(raw, _sink, checkpoint_dir, on_batch_complete)


def streaming_event_counts(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding-window counts per event_type over a
    parquet file stream — returns the streaming DataFrame (caller attaches
    the sink). Late rows beyond the watermark are dropped; state is bounded.
    """
    ev = spark.readStream.schema(schema).parquet(source_dir)
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(win, "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum"))
    )


def streaming_dedup_events(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    keys: list[str] = ("event_id",),
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a key's dedup state only until
    the watermark passes its event time, so duplicate events (at-least-once
    sources, retried producers) collapse without the unbounded key store a
    plain streaming ``dropDuplicates`` would grow forever. The streaming
    twin of the batch exact-dedup family (operators/dedup.py): batch
    re-dedups on every run; the stream carries watermark-scoped state
    instead. Duplicates arriving later than the watermark are the
    documented residual — route them through the idempotent batch writer
    (S4) if the sink must be exact beyond the horizon."""
    ev = spark.readStream.schema(schema).parquet(source_dir)
    return ev.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(list(keys))


def streaming_sessionize(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user session aggregation over a parquet file stream using the
    native session_window — the STREAMING twin of the batch lag-gap
    sessionize (plans/core.py:sessionize_events; their agreement in batch
    mode is pytest-pinned). State per open session closes once the
    watermark passes the session end, so memory is bounded by active
    sessions, not history — the reason session_window beats a stateful UDF
    here. Returns (user_id, session_start, session_end, n_events).

    Boundary semantics (measured, pinned in the agreement test): an event
    EXACTLY ``gap`` after the previous one merges into the same session,
    matching the batch lag construction's strict ``ts > prev + gap`` —
    the same contract as the oracle-gated sessionize_events.
    """
    ev = spark.readStream.schema(schema).parquet(source_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_stream_stream_join(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    max_gap: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join: purchases joined to the
    same user's clicks within ``max_gap`` — the streaming twin of the
    batch range_join_purchase_click query.

    Both sides carry watermarks and the join condition bounds the event
    times on both sides, so Spark can expire buffered state once the
    watermark passes each row's join window — without the time bound a
    stream-stream join must buffer one side forever. Returns
    (purchase_id, click_id, gap_s).

    Gap semantics match the batch query EXACTLY: the batch form truncates
    timestamps to whole epoch seconds before comparing, so the raw
    event-time bound here is widened by 1 second (state pruning needs a
    raw-timestamp condition) and the truncated-gap predicate is applied
    as a residual filter — otherwise sub-second components make pairs at
    the boundary diverge between the two engines.
    """
    ev = spark.readStream.schema(schema).parquet(source_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", watermark)
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", watermark)
    )
    joined = p.join(
        c,
        F.expr(
            f"p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL {max_gap} - INTERVAL 1 SECOND "
            f"AND p_ts + INTERVAL {max_gap} + INTERVAL 1 SECOND"
        ),
    )
    import pandas as pd

    trunc_gap = F.abs(F.col("p_ts").cast("long") - F.col("c_ts").cast("long"))
    max_gap_s = int(pd.Timedelta(max_gap).total_seconds())
    return (
        joined.filter(trunc_gap <= F.lit(max_gap_s))
        .select(
            "purchase_id",
            "click_id",
            trunc_gap.cast("bigint").alias("gap_s"),
        )
    )
