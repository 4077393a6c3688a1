"""Incremental (cross-snapshot) dedup (operators/incdedup.py): exact
DuckDB twin on the real corpus, planted cross-snapshot duplicates,
batch-grain preservation, deterministic min-id arbitration, the store
mega-bucket guard, and self-match exclusion."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yelp_business_data_pipeline_spark.operators.incdedup import (
    exact_dups_against_index,
    exact_fingerprint_index,
    minhash_band_index,
    near_dup_candidates_against_index,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_panel_matches_duckdb_twin_exactly(spark, sf_dir):
    from tests.oracle_harness import duck_con

    from yelp_business_data_pipeline_spark.plans import QUERIES
    from yelp_business_data_pipeline_spark.plans.extensions import (
        INCREMENTAL_DEDUP_ORACLE,
    )

    got = sorted(
        tuple(r)
        for r in QUERIES["incremental_dedup_panel"].spark(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in duck_con(sf_dir).execute(INCREMENTAL_DEDUP_ORACLE).fetchall()
    )
    assert got == want and len(got) > 0
    # non-vacuous: the batch slice is every language's quarter
    assert sum(r[1] for r in got) > 0


def test_planted_cross_snapshot_dups(spark):
    store = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "totally different words appear in this one"),
        ],
    )
    batch = _docs(
        spark,
        [
            (10, "alpha beta gamma delta epsilon zeta"),  # byte-identical
            (11, "alpha beta gamma delta epsilon eta"),  # shares the prefix
            (12, "nothing shared with any store document at all"),
        ],
    )
    ex = {
        r.doc_id: r.dup_of
        for r in exact_dups_against_index(
            batch, exact_fingerprint_index(store)
        ).collect()
    }
    # prefix fingerprint (first 2 tokens): 10 and 11 both hit store doc 1
    assert ex == {10: 1, 11: 1, 12: None}
    pairs = {
        (r.batch_id, r.index_id)
        for r in near_dup_candidates_against_index(
            batch, minhash_band_index(store)
        ).collect()
    }
    # identical text -> identical signature -> every band matches
    assert (10, 1) in pairs
    # no shared shingles -> no shared bands (deterministic given the hashes)
    assert not any(b == 12 for b, _ in pairs)
    # the disjoint store doc never pairs
    assert not any(i == 2 for _, i in pairs)


def test_batch_grain_preserved_and_min_id_arbitration(spark):
    # THREE store docs share the fingerprint; the batch row must come
    # back ONCE with the smallest store id
    store = _docs(
        spark,
        [
            (7, "same two words tail a"),
            (3, "same two words tail b"),
            (9, "same two words tail c"),
        ],
    )
    batch = _docs(spark, [(100, "same two words tail d"), (101, "other text here")])
    out = exact_dups_against_index(batch, exact_fingerprint_index(store)).collect()
    assert len(out) == 2  # grain: one row per batch row, no multiplication
    by_id = {r.doc_id: r.dup_of for r in out}
    assert by_id[100] == 3 and by_id[101] is None


def test_store_mega_bucket_guard(spark):
    # 30 byte-identical store docs (an un-deduped boilerplate cluster):
    # every band bucket holds all 30
    store = _docs(
        spark, [(i, "the same boilerplate page text repeated verbatim") for i in range(30)]
    )
    batch = _docs(spark, [(500, "the same boilerplate page text repeated verbatim")])
    idx = minhash_band_index(store)
    with pytest.raises(Exception, match="max_store_bucket=10"):
        near_dup_candidates_against_index(
            batch, idx, max_store_bucket=10
        ).collect()
    ok = near_dup_candidates_against_index(batch, idx, max_store_bucket=None)
    assert ok.count() == 30  # every store doc is a candidate


def test_self_match_exclusion_on_reindexed_batch(spark):
    # a batch joined against an index containing ITSELF must not pair
    # ids with themselves (re-index / replay safety)
    docs = _docs(
        spark,
        [(1, "alpha beta gamma delta epsilon"), (2, "alpha beta gamma delta zeta")],
    )
    pairs = {
        (r.batch_id, r.index_id)
        for r in near_dup_candidates_against_index(
            docs, minhash_band_index(docs)
        ).collect()
    }
    assert all(a != b for a, b in pairs)


def test_exact_replay_safety_on_reindexed_batch(spark):
    """A batch whose rows ALREADY sit in the store (replayed after a
    merge_upsert re-index) must not mark a doc as a dup of ITSELF:
    dup_of is the smallest OTHER index id sharing the print, NULL when
    the doc's own row is the only one."""
    docs = _docs(
        spark,
        [
            (4, "shared prefix tail one"),
            (9, "shared prefix tail two"),
            (2, "unique text entirely its own"),
        ],
    )
    out = {
        r.doc_id: r.dup_of
        for r in exact_dups_against_index(docs, exact_fingerprint_index(docs)).collect()
    }
    # 4 and 9 share the 2-token prefix print: each points at the OTHER's
    # min (4 is the min -> falls through to rank-2 id 9); 2 is alone ->
    # novel, NOT a dup of itself.
    assert out == {4: 9, 9: 4, 2: None}


def test_exact_null_text_matches_duckdb_twin_policy(spark):
    """NULL text fingerprints as md5('') in BOTH engines (the Spark side
    uses concat_ws, which maps a NULL token array to ''; the DuckDB twin
    coalesces to '' explicitly) — so NULL-text batch docs pair with
    NULL- or empty-text store docs, consistently."""
    import duckdb

    store = _docs(spark, [(5, None), (6, "real words live here")])
    batch = _docs(spark, [(20, None), (21, "")])
    got = {
        r.doc_id: r.dup_of
        for r in exact_dups_against_index(batch, exact_fingerprint_index(store)).collect()
    }
    assert got == {20: 5, 21: 5}
    # the twin's expression agrees: NULL and '' hash identically
    fp_null, fp_empty = duckdb.sql(
        "SELECT md5(coalesce(array_to_string("
        "  list_slice(string_split(CAST(NULL AS VARCHAR), ' '), 1, 2), ' '), '')),"
        " md5(coalesce(array_to_string("
        "  list_slice(string_split('', ' '), 1, 2), ' '), ''))"
    ).fetchone()
    assert fp_null == fp_empty


def test_index_shapes_are_store_ready(spark):
    """The two indexes are compact fixed-width-hash frames: exactly the
    thing merge_upsert persists and a bucketed catalog table serves."""
    d = _docs(spark, [(1, "a b c d e"), (2, "f g h i j")])
    ex = exact_fingerprint_index(d)
    assert set(ex.columns) == {"fingerprint", "index_id"} and ex.count() == 2
    bi = minhash_band_index(d)
    assert set(bi.columns) == {"band", "band_hash", "index_id"}
    # k=8, r=2 -> 4 bands per doc with >=3 tokens
    assert bi.count() == 8


@pytest.fixture(scope="module")
def index_warehouse(spark):
    import shutil
    from pathlib import Path

    def _clean():
        for t in ("tb_fp_index", "tb_band_index"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            loc = Path("spark-warehouse") / t
            if loc.exists():
                shutil.rmtree(loc)

    _clean()
    yield
    _clean()


def test_bucketed_store_keeps_store_side_exchange_free(spark, sf_dir, index_warehouse):
    """The docstring claim behind the 100-TB shape (incdedup.py:16-19):
    a store bucketed on its hash key makes the RECURRING per-batch join
    exchange-free on the store side — the only shuffles left are the
    batch's own (fresh side each run), so per-crawl cost never rescans
    or reshuffles the accumulated index. Pinned by Exchange counts:
    bucketed store = batch-side exchanges only; plain-parquet control =
    one more Exchange per store-side distribution requirement."""
    from yelp_business_data_pipeline_spark.sources.catalog import save_bucketed

    from .test_plans import plan_str

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    store_docs = d.filter(F.col("doc_id") % 4 != 0)
    batch = d.filter(F.col("doc_id") % 4 == 0)
    fp_idx = exact_fingerprint_index(store_docs)
    band_idx = minhash_band_index(store_docs)
    save_bucketed(fp_idx, "tb_fp_index", ["fingerprint"], n_buckets=4)
    save_bucketed(band_idx, "tb_band_index", ["band", "band_hash"], n_buckets=4)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # exact path: store window + agg + join all hash on fingerprint
        ex_b = plan_str(
            exact_dups_against_index(batch, spark.table("tb_fp_index")), "simple"
        )
        ex_c = plan_str(exact_dups_against_index(batch, fp_idx), "simple")
        # near-dup path: guard window + join hash on (band, band_hash)
        nd_b = plan_str(
            near_dup_candidates_against_index(batch, spark.table("tb_band_index")),
            "simple",
        )
        nd_c = plan_str(
            near_dup_candidates_against_index(batch, band_idx), "simple"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    def n_ex(p: str) -> int:
        return p.count("Exchange hashpartitioning")

    # exact: bucketed plan's single exchange is the batch side joining
    # into the store's bucket layout; control re-shuffles the store for
    # its window/agg too
    assert n_ex(ex_b) == 1, ex_b
    assert n_ex(ex_c) == n_ex(ex_b) + 1, ex_c
    assert "fingerprint" not in _store_side_exchange_keys(ex_b)
    # near-dup: batch bands shuffle to the join + the final distinct's
    # exchange; the control adds the store-side (band, band_hash) shuffle
    assert n_ex(nd_b) == 2, nd_b
    assert n_ex(nd_c) == n_ex(nd_b) + 1, nd_c


def _store_side_exchange_keys(plan: str) -> str:
    """Keys of exchanges feeding a Window/HashAggregate (store-side ops);
    the batch side has neither, so any 'fingerprint' here means the
    bucketed scan failed to satisfy the store's distribution."""
    out = []
    lines = plan.split("\n")
    for i, l in enumerate(lines):
        if "Exchange hashpartitioning" in l:
            above = "".join(lines[max(0, i - 3):i])
            if "Window" in above or "HashAggregate" in above:
                out.append(l)
    return " ".join(out)


def test_kernel_false_fallback_matches_kernel(spark):
    """The Arrow-kernel band index and candidate pairs must be identical
    to the same index and join built on the pure-JVM expression band
    rows (``dedup.minhash_band_rows``, the DuckDB mirror)."""
    from pyspark.sql import functions as F

    from yelp_business_data_pipeline_spark.operators.dedup import minhash_band_rows

    store = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight"),
            (3, "completely different vocabulary set right here ok now"),
        ],
    )
    batch = _docs(
        spark,
        [
            (10, "alpha beta gamma delta epsilon zeta eta iota"),
            (11, "unrelated words in this brand new document body"),
        ],
    )

    def expr_bands(df, id_name):
        return minhash_band_rows(df, "doc_id", "text").select(
            "band", "band_hash", F.col("_id").alias(id_name)
        )

    idx_k = sorted(map(tuple, minhash_band_index(store).collect()))
    idx_e = sorted(map(tuple, expr_bands(store, "index_id").collect()))
    assert idx_k == idx_e and idx_k

    pairs_k = sorted(
        map(tuple, near_dup_candidates_against_index(batch, minhash_band_index(store)).collect())
    )
    pairs_e = sorted(
        map(
            tuple,
            expr_bands(batch, "batch_id")
            .join(expr_bands(store, "index_id"), ["band", "band_hash"])
            .filter(F.col("batch_id") != F.col("index_id"))
            .select("batch_id", "index_id")
            .distinct()
            .collect(),
        )
    )
    assert pairs_k == pairs_e and pairs_k
