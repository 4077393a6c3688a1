"""Product-quantization ANN (operators/pq.py): recall, determinism,
compression contract, training byte-cap reuse."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yelp_business_data_pipeline_spark.operators import similarity as sim
from yelp_business_data_pipeline_spark.operators.pq import (
    pq_adc_topk,
    pq_ann_topk,
    pq_encode,
    train_pq_codebooks,
)
from yelp_business_data_pipeline_spark.plans import QUERIES
from yelp_business_data_pipeline_spark.plans.extensions import ann_cosine_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qc(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", sim.as_double_vec(F.col("embedding")).alias("v0")
    )
    norm = F.sqrt(
        F.aggregate(F.transform(F.col("v0"), lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    e = e.select("vec_id", F.transform(F.col("v0"), lambda x: x / norm).alias("v"))
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "v").cache()
    c = e.filter(F.col("vec_id") >= 5).select(F.col("vec_id").alias("c_id"), "v").cache()
    yield q, c
    q.unpersist()
    c.unpersist()


def test_pq_recall_and_determinism(spark, qc):
    exact = {(r.q_id, r.c_id) for r in ann_cosine_topk(spark, SF).collect()}
    got1 = {(r.q_id, r.c_id) for r in QUERIES["pq_ann_topk"].spark(spark, SF).collect()}
    recall = len(exact & got1) / len(exact)
    # registered config (m=16, k=64, R=100): measured 1.00 at sf0.001 and
    # sf0.1, floor with margin (isotropic data is PQ's worst case)
    assert recall >= 0.85, f"PQ recall degraded: {recall}"
    got2 = {(r.q_id, r.c_id) for r in QUERIES["pq_ann_topk"].spark(spark, SF).collect()}
    assert got1 == got2  # no-RNG training + argmin-first ties => reproducible


def test_pq_rerank_scores_are_exact(spark, qc):
    """Reranked cosines must EQUAL the exact path's cosines for every
    overlapping (q, c) pair — rerank is exact rescoring, not ADC carry."""
    exact = {
        (r.q_id, r.c_id): r.cosine
        for r in ann_cosine_topk(spark, SF).collect()
    }
    for r in QUERIES["pq_ann_topk"].spark(spark, SF).collect():
        if (r.q_id, r.c_id) in exact:
            # both paths round to 6 decimals; normalization in the pq query
            # introduces one extra fp step vs the exact path's norm division
            assert r.cosine == pytest.approx(exact[(r.q_id, r.c_id)], abs=2e-6)


def test_pq_encode_contract(qc):
    q, c = qc
    books = train_pq_codebooks(c, "c_id", "v", m=8, n_codes=16, iters=3)
    codes = pq_encode(c, books, "c_id", "v")
    rows = codes.collect()
    assert len(rows) == c.count()  # every non-null vector encoded
    assert all(len(r.codes) == 8 for r in rows)  # m codes per vector
    assert all(0 <= ci < 16 for r in rows for ci in r.codes)
    # codebook table is materialized + dense per subspace
    brows = books.collect()
    assert {r.subspace for r in brows} == set(range(8))
    assert all(len(r.cv) == 8 for r in brows)  # dim 64 / m 8


def test_pq_adc_orders_by_quantized_distance(qc):
    """ADC alone (no rerank) must still rank the true nearest neighbor of
    an EXACT corpus vector first: a query equal to a corpus vector finds
    that vector at rank 1 (its quantization cell is distance-0)."""
    q, c = qc
    books = train_pq_codebooks(c, "c_id", "v", m=16, n_codes=64, iters=5)
    codes = pq_encode(c, books, "c_id", "v")
    probe = c.limit(3).select(F.col("c_id").alias("q_id"), "v")
    top1 = {
        r.q_id: r.c_id
        for r in pq_adc_topk(probe, codes, books, k=1).collect()
    }
    assert all(qid == cid for qid, cid in top1.items()), top1


def test_pq_dim_must_divide_m(qc):
    q, c = qc
    with pytest.raises(ValueError, match="dim % m"):
        train_pq_codebooks(c, "c_id", "v", m=7)


def test_pq_ragged_codebook_rejected(qc):
    """A codebook whose subspaces carry unequal code counts (e.g. a filtered
    or hand-edited table) must raise — zero-padding would mint phantom
    all-zero centroids that argmin can pick for near-origin vectors."""
    q, c = qc
    books = train_pq_codebooks(c, "c_id", "v", m=4, n_codes=8)
    ragged = books.filter(~((F.col("subspace") == 2) & (F.col("code") >= 4)))
    with pytest.raises(ValueError, match="ragged"):
        pq_encode(c, ragged, "c_id", "v").collect()


def test_pq_training_respects_byte_budget(qc):
    """Shares IVF's byte-capped sampling: a budget admitting 64 x 64-dim
    vectors trains fine with n_codes<=64; one admitting fewer than n_codes
    rows fails loudly."""
    q, c = qc
    budget = 64 * 64 * 8
    books = train_pq_codebooks(c, "c_id", "v", m=8, n_codes=64, iters=2, sample_bytes=budget)
    assert books.count() == 8 * 64
    with pytest.raises(ValueError, match="sample_bytes"):
        train_pq_codebooks(c, "c_id", "v", m=8, n_codes=64, iters=2, sample_bytes=budget // 2)


def test_pq_index_survives_parquet_roundtrip(spark, qc, tmp_path):
    """The operational shape at 100 TB is TRAIN ONCE, STORE, SEARCH MANY:
    codebooks and codes written to parquet and read back must produce
    byte-identical search results to the in-memory pipeline."""
    q, c = qc
    books = train_pq_codebooks(c, "c_id", "v", m=16, n_codes=64, iters=5)
    codes = pq_encode(c, books, "c_id", "v")
    live = {
        (r.q_id, r.c_id, r.rnk)
        for r in pq_ann_topk(q, codes, c, books, k=10, rerank=100).collect()
    }

    bpath, cpath = str(tmp_path / "books"), str(tmp_path / "codes")
    books.write.parquet(bpath)
    codes.write.parquet(cpath)
    books2 = spark.read.parquet(bpath)
    codes2 = spark.read.parquet(cpath)
    stored = {
        (r.q_id, r.c_id, r.rnk)
        for r in pq_ann_topk(q, codes2, c, books2, k=10, rerank=100).collect()
    }
    assert stored == live and live


def test_pq_string_ids_work_end_to_end(spark):
    """Id columns keep their source dtype through the Arrow kernels —
    string business keys, not only long vec_ids."""
    import numpy as np

    rng = np.random.default_rng(5)
    dim = 16
    rows = [(f"doc-{i:03d}", [float(v) for v in rng.random(dim)]) for i in range(60)]
    e = spark.createDataFrame(rows, "id string, v array<double>")
    q = e.limit(3).select(F.col("id").alias("q_id"), "v")
    c = e.select(F.col("id").alias("c_id"), "v")
    books = train_pq_codebooks(c, "c_id", "v", m=4, n_codes=16, iters=3)
    codes = pq_encode(c, books, "c_id", "v")
    got = pq_ann_topk(q, codes, c, books, k=5, rerank=20).collect()
    assert len(got) == 15
    assert all(isinstance(r.q_id, str) and isinstance(r.c_id, str) for r in got)
    # a query identical to a corpus vector finds itself first
    assert all(r.c_id == r.q_id for r in got if r.rnk == 1)


def test_pq_fused_matches_two_stage(qc):
    """The fused encode+ADC kernel (codes=None / pq_adc_topk_fused) must
    return the IDENTICAL rows as pq_encode |> pq_adc_topk — same argmin,
    same LUT, same rounded lexsort partial top-k — across every rank, id,
    and distance. The fusion is a Python-boundary optimization, not an
    algorithm change."""
    from yelp_business_data_pipeline_spark.operators.pq import pq_adc_topk_fused

    q, c = qc
    books = train_pq_codebooks(c, "c_id", "v", m=8, n_codes=16, iters=3)
    codes = pq_encode(c, books, "c_id", "v")
    staged = sorted(
        (r.q_id, r.rnk, r.c_id, r.adc_dist)
        for r in pq_adc_topk(q, codes, books, k=12).collect()
    )
    fused = sorted(
        (r.q_id, r.rnk, r.c_id, r.adc_dist)
        for r in pq_adc_topk_fused(q, c, books, k=12).collect()
    )
    assert fused == staged
    # and through the public rerank entrypoint: codes=None == codes path
    via_codes = sorted(
        (r.q_id, r.rnk, r.c_id, r.cosine)
        for r in pq_ann_topk(q, codes, c, books, k=5, rerank=30).collect()
    )
    via_fused = sorted(
        (r.q_id, r.rnk, r.c_id, r.cosine)
        for r in pq_ann_topk(q, None, c, books, k=5, rerank=30).collect()
    )
    assert via_fused == via_codes
