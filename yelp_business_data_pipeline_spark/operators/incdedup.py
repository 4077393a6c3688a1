"""Incremental (cross-snapshot) deduplication — dedup a NEW batch against
an already-indexed corpus without rescanning it.

The 100-TB crawl shape: yesterday's corpus is indexed ONCE into two
compact signature stores — an exact-fingerprint index and a MinHash band
index — and every new crawl batch joins against the STORES, never the
old raw text. Index size is O(docs) rows of fixed-width hashes (k/r band
rows + 1 fingerprint row per doc), so the recurring cost of "is today's
page a dup of anything we already have?" is a batch-sized build plus two
hash equi-joins; the multi-TB text of the existing corpus stays cold.

Spark shapes:
- both indexes are plain DataFrames — persist them with the existing
  writers (``sources.writers.merge_upsert`` keyed on the doc id makes
  re-indexing a batch idempotent) and read them back as parquet; bucket
  the stored table on the hash column (``sources.catalog``) to make the
  recurring join exchange-free on the store side;
- the exact fingerprint reuses ``text.fingerprint`` (md5 of the leading
  token prefix — blocking-grade identity, DuckDB-reproducible), the band
  index reuses the shared dedup band construction (r12: the Arrow kernel,
  with the within-corpus ``minhash_lsh_candidates``);
- the near-dup join carries the skew guard of the within-corpus family:
  a store band bucket larger than ``max_store_bucket`` fails loudly
  (executor-side raise naming the size) instead of silently exploding
  the join — the ``max_bench_rows`` / ``bucket_pairs`` pattern. An index
  built over a pre-deduped corpus never trips it; an index built over
  raw boilerplate-heavy crawl does, and that is a diagnosable input
  error (exact-dedup the corpus before indexing).

No reference counterpart (the reference pipeline re-reads everything per
run); first-class LLM-pipeline surface per the build brief, alongside
the within-corpus dedup family in ``operators/dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import minhash_band_rows_kernel


def exact_fingerprint_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_tokens: int = 2,
) -> DataFrame:
    """(fingerprint, id) — the exact-identity index of a corpus snapshot:
    md5 over the leading ``prefix_tokens`` whitespace tokens
    (``text.fingerprint`` — blocking-grade, engine-portable). One narrow
    projection; no shuffle (the consumer join supplies the exchange, or
    none at all if the store is bucketed on fingerprint)."""
    from .text import fingerprint

    return df.select(
        fingerprint(F.col(text_col), prefix_tokens).alias("fingerprint"),
        F.col(id_col).alias("index_id"),
    )


def exact_dups_against_index(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_tokens: int = 2,
) -> DataFrame:
    """Annotate a new batch against an exact-fingerprint index: every
    batch row comes back with ``dup_of`` = the SMALLEST index id sharing
    its fingerprint that is NOT the row's own ``id_col`` (NULL -> novel).
    Deterministic across layouts (min id, not an arbitrary hit), never
    row-multiplying (the index pre-aggregates to one row per fingerprint
    before the join, so the batch keeps its grain no matter how many
    store docs share a print), and replay-safe like its near-dup sibling:
    a batch already merge-upserted into its own store matches its own
    index row, so the smallest OTHER id is kept (rank-2 window, bounded —
    never a per-print collect).

    At scale: window + aggregate + join all hash on the fingerprint (one
    exchange); a store bucketed on fingerprint makes its side
    exchange-free."""
    from .text import fingerprint

    fps = batch.withColumn("_fp", fingerprint(F.col(text_col), prefix_tokens))
    w = Window.partitionBy("fingerprint").orderBy("index_id")
    keepers = (
        index.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 2)
        .groupBy("fingerprint")
        .agg(F.min("index_id").alias("_m1"), F.max("index_id").alias("_m2"))
    )
    dup_of = F.when(
        F.col(id_col) == F.col("_m1"),
        F.when(F.col("_m2") != F.col("_m1"), F.col("_m2")),
    ).otherwise(F.col("_m1"))
    return (
        fps.join(keepers.withColumnRenamed("fingerprint", "_fp"), "_fp", "left")
        .withColumn("dup_of", dup_of)
        .drop("_fp", "_m1", "_m2")
    )


def minhash_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    hash_impl: str = "md5",
) -> DataFrame:
    """(band, band_hash, index_id) — the near-dup index of a corpus
    snapshot: one row per (doc, LSH band), the exact construction of
    ``minhash_lsh_candidates`` (shared band layer — r12: the vectorized
    Arrow kernel, byte-identical to ``minhash_band_rows`` and pinned so
    in tests/test_dedup_similarity.py), stored instead of self-joined."""
    bands = minhash_band_rows_kernel(
        df, id_col, text_col, k, rows_per_band, shingle_n, hash_impl,
        min_partitions=df.sparkSession.sparkContext.defaultParallelism,
    )
    return bands.select("band", "band_hash", F.col("_id").alias("index_id"))


def near_dup_candidates_against_index(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    hash_impl: str = "md5",
    max_store_bucket: int | None = 10_000,
) -> DataFrame:
    """Candidate near-dup pairs (batch_id, index_id) between a new batch
    and a stored band index: build the batch's band rows (the batch is
    the small, fresh side — the store's text is never touched) and
    equi-join on (band, band_hash), distinct pairs out. Self-matches are
    dropped (a batch re-indexed into its own store must not pair with
    itself on id equality).

    ``max_store_bucket`` (default on) fails loudly when a store band
    bucket exceeds the bound — the join's output is candidates x matches
    per bucket, so a boilerplate mega-cluster indexed WITHOUT exact
    dedup would silently multiply every matching batch row by the
    cluster size. The guard is a window count on the store side (one
    exchange over the index, only when enabled); the raise names the
    observed size, the ``bucket_pairs`` contract."""
    braw = minhash_band_rows_kernel(
        batch, id_col, text_col, k, rows_per_band, shingle_n, hash_impl,
        min_partitions=batch.sparkSession.sparkContext.defaultParallelism,
    )
    bands = braw.select("band", "band_hash", F.col("_id").alias("batch_id"))
    store = index
    if max_store_bucket is not None:
        w = Window.partitionBy("band", "band_hash")
        size = F.count(F.lit(1)).over(w)
        store = (
            index.withColumn("_bs", size)
            .withColumn(
                "index_id",
                F.when(
                    F.col("_bs") > max_store_bucket,
                    F.raise_error(
                        F.concat(
                            F.lit("near_dup_candidates_against_index: store band "
                                  "bucket of "),
                            F.col("_bs").cast("string"),
                            F.lit(
                                f" ids exceeds max_store_bucket={max_store_bucket};"
                                " the index join would multiply every matching"
                                " batch row by the bucket — exact-dedup the corpus"
                                " before indexing, or raise the bound deliberately"
                            ),
                        )
                    ).cast(index.schema["index_id"].dataType.simpleString()),
                ).otherwise(F.col("index_id")),
            )
            .drop("_bs")
        )
    return (
        bands.join(store, ["band", "band_hash"])
        .filter(F.col("batch_id") != F.col("index_id"))
        .select("batch_id", "index_id")
        .distinct()
    )
