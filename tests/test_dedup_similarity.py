"""Sketch-operator properties: MinHash/SimHash invariants, LSH-ANN recall
vs the brute-force oracle, embedding near-dup blocking recall."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from yelp_business_data_pipeline_spark.operators import dedup as dd
from yelp_business_data_pipeline_spark.operators import similarity as sim
from yelp_business_data_pipeline_spark.plans import QUERIES
from yelp_business_data_pipeline_spark.plans.extensions import ann_cosine_topk


def test_minhash_identical_docs_always_collide(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
        (3, "one two three four five six seven"),
        (4, "completely different words entirely here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r.doc_a, r.doc_b) for r in dd.minhash_lsh_candidates(df, "doc_id", "text").collect()}
    assert (1, 2) in pairs  # J=1 -> every band agrees, must be a candidate
    assert (3, 4) not in pairs  # J=0 -> bands agree only on hash collision


def test_minhash_signature_jaccard_estimate(spark):
    # Two docs sharing half their shingles: signature agreement rate should
    # land near J (loose bound; k=32 keeps variance manageable).
    a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13"
    b = "w1 w2 w3 w4 w5 w6 w7 x8 x9 x10 x11 x12 x13"
    df = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    toks = F.split(F.col("text"), " ")
    sigs = dd.minhash_rehash(dd.base_hashes(dd.word_shingles(toks, 3)), k=32)
    out = df.select("doc_id", *[sig.alias(f"s{j}") for j, sig in enumerate(sigs)]).collect()
    r1, r2 = sorted(out, key=lambda r: r.doc_id)
    agree = sum(1 for j in range(32) if r1[f"s{j}"] == r2[f"s{j}"]) / 32
    # true 3-shingle jaccard: shingles(a) 11, shingles(b) 11, common 5 -> 5/17≈0.29
    assert 0.05 <= agree <= 0.6, agree


def test_simhash_properties(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "alpha beta gamma delta epsilon zeta eta iota"),  # 1 token changed
        (4, "totally unrelated vocabulary set right here ok"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r.sh
        for r in df.select(
            "doc_id", dd.simhash(F.split("text", " "), bits=16).alias("sh")
        ).collect()
    }
    hamming = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert out[1] == out[2]  # identical text -> identical fingerprint
    assert hamming(out[1], out[3]) <= hamming(out[1], out[4]), (
        "near-dup should be at most as far as an unrelated doc"
    )


def test_lsh_ann_recall_vs_bruteforce(spark):
    sf = "/root/testdata/sf0.001"
    exact = {(r.q_id, r.c_id) for r in ann_cosine_topk(spark, sf).collect()}
    approx = {(r.q_id, r.c_id) for r in QUERIES["lsh_ann_topk"].spark(spark, sf).collect()}
    recall = len(exact & approx) / len(exact)
    # Cross-polytope LSH (24 tables, 4-probe): measured recall 1.0 at
    # sf0.001, 0.96 at sf0.01, 0.98 at sf0.1 — pin >= 0.9. The round-1
    # hyperplane family could not clear this bar on isotropic vectors
    # (0.68 at comparable coverage).
    assert recall >= 0.9, f"LSH recall degraded: {recall}"


@pytest.mark.parametrize("sfd", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_ann_recall_floors_across_sf(spark, sfd):
    """sf-parameterized recall floors for every ANN scale path (VERDICT
    r10 item 8, the pytest half): the committed BASELINE.md round-11
    table extends these same floors to .scaledata sf0.1/sf1 via
    tools/bench_ann_recall.py (IVF 0.68@0.26 coverage, LSH 1.00@0.47,
    PQ 0.86 at rerank fraction 0.005 — all measured, not extrapolated)."""
    exact = {(r.q_id, r.c_id) for r in ann_cosine_topk(spark, sfd).collect()}
    floors = {"ivf_ann_topk": 0.6, "pq_ann_topk": 0.85, "lsh_ann_topk": 0.9}
    for name, floor in floors.items():
        got = {(r.q_id, r.c_id) for r in QUERIES[name].spark(spark, sfd).collect()}
        recall = len(exact & got) / len(exact)
        assert recall >= floor, f"{name} recall degraded at {sfd}: {recall}"


def test_lsh_ann_candidate_coverage_bounded(spark):
    """Recall must NOT come from near-brute-force: candidate coverage
    (distinct candidate pairs / all query-corpus pairs) stays < 0.5."""
    sf = "/root/testdata/sf0.001"
    e = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .select("vec_id", sim.as_double_vec(F.col("embedding")).alias("v"))
    )
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "v")
    c = e.filter(F.col("vec_id") >= 5).select(F.col("vec_id").alias("c_id"), "v")
    n_cand = sim.cross_polytope_candidates(
        q, c, dim=64, n_tables=24, n_probes=4
    ).count()
    coverage = n_cand / (q.count() * c.count())
    assert coverage < 0.5, f"candidate coverage {coverage} is near-brute-force"
    # and the candidates must be a real subset, not everything minus epsilon
    assert coverage > 0.05, f"suspiciously few candidates: {coverage}"


def test_embedding_near_dup_lsh_blocking_recall(spark):
    sf = "/root/testdata/sf0.001"
    e = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .filter(F.col("vec_id") < 120)
        .select("vec_id", sim.as_double_vec(F.col("embedding")).alias("v"))
    )
    exact = {(r.id_a, r.id_b) for r in sim.embedding_near_dup_pairs(e, threshold=0.3).collect()}
    assert exact, "expected some near-dup pairs at threshold 0.3"
    # hyperplane family (kept as the cheap JVM-only path)
    blocked_hp = {
        (r.id_a, r.id_b)
        for r in sim.embedding_near_dup_pairs(e, threshold=0.3, n_planes=4, dim=64).collect()
    }
    assert blocked_hp <= exact  # blocking can only lose pairs, never invent
    assert len(blocked_hp) / len(exact) >= 0.3
    # cross-polytope family — the high-recall path even for cos~0.3 pairs
    # (theta ~72deg, far outside the near-dup regime): measured 0.911
    # recall at ~33% pair coverage with 64 tables
    blocked_cp = {
        (r.id_a, r.id_b)
        for r in sim.embedding_near_dup_pairs(
            e, threshold=0.3, dim=64, family="crosspolytope", n_tables=64
        ).collect()
    }
    assert blocked_cp <= exact
    recall = len(blocked_cp) / len(exact)
    assert recall >= 0.85, f"cross-polytope blocking recall collapsed: {recall}"


def test_embedding_near_dup_exact_mode_guardrail(spark):
    """The exact (crossJoin) fallback must refuse to launch an all-pairs
    join above exact_max_rows unless force_exact=True — a config typo
    can't schedule a quadratic self-join over a production corpus."""
    sf = "/root/testdata/sf0.001"
    e = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .filter(F.col("vec_id") < 50)
        .select("vec_id", sim.as_double_vec(F.col("embedding")).alias("v"))
    )
    with pytest.raises(ValueError, match="force_exact"):
        sim.embedding_near_dup_pairs(e, threshold=0.3, exact_max_rows=10)
    # force_exact overrides; small inputs under the cap never hit the gate
    forced = sim.embedding_near_dup_pairs(
        e, threshold=0.3, exact_max_rows=10, force_exact=True
    ).count()
    free = sim.embedding_near_dup_pairs(e, threshold=0.3).count()
    assert forced == free


def test_exact_dedup_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "c", 5)], ["k", "v", "ts"]
    )
    out = dd.exact_dedup(df, ["k"], [F.desc("ts")]).collect()
    assert sorted((r.k, r.v) for r in out) == [(1, "b"), (2, "c")]


def test_arrow_cosine_topk_matches_jvm(spark):
    sf = "/root/testdata/sf0.001"
    jvm = [
        (r.q_id, r.c_id, r.rnk)
        for r in ann_cosine_topk(spark, sf).orderBy("q_id", "rnk").collect()
    ]
    arrow = [
        (r.q_id, r.c_id, r.rnk)
        for r in QUERIES["ann_cosine_topk_arrow"].spark(spark, sf).orderBy("q_id", "rnk").collect()
    ]
    assert jvm == arrow


def test_grouped_pandas_zscore_matches_jvm(spark):
    from yelp_business_data_pipeline_spark.operators.grouped import (
        zscore_by_group_jvm,
        zscore_by_group_pandas,
    )

    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        F.col("o_orderpriority").alias("g"), F.col("o_totalprice").alias("v")
    )
    a = sorted(
        (r.g, r.v, r.zscore) for r in zscore_by_group_pandas(o, "g", "v").collect()
    )
    b = sorted((r.g, r.v, r.zscore) for r in zscore_by_group_jvm(o, "g", "v").collect())
    assert len(a) == len(b) == o.count()
    for (ga, va, za), (gb, vb, zb) in zip(a, b):
        assert (ga, va) == (gb, vb)
        assert za == pytest.approx(zb, abs=1e-5)


def test_ivf_ann_recall(spark):
    sf = "/root/testdata/sf0.001"
    exact = {(r.q_id, r.c_id) for r in ann_cosine_topk(spark, sf).collect()}
    approx = {(r.q_id, r.c_id) for r in QUERIES["ivf_ann_topk"].spark(spark, sf).collect()}
    recall = len(exact & approx) / len(exact)
    # Isotropic vectors give k-means weak clusters: nlist=32/nprobe=8 with
    # sample-trained 5-iter Lloyd's measures ~0.74 at sf0.01 (~27%
    # coverage); floor with margin. IVF is the clustered-data path — the
    # >=0.9 ANN bar on this corpus is held by lsh_ann_topk
    # (cross-polytope), see operators/ivf.py frontier table.
    assert recall >= 0.6, f"IVF recall degraded: {recall}"
    # determinism: the no-RNG quantizer must reproduce identical results
    again = {(r.q_id, r.c_id) for r in QUERIES["ivf_ann_topk"].spark(spark, sf).collect()}
    assert approx == again


def test_ivf_train_sample_byte_cap():
    """The quantizer training collect must be bounded in BYTES: a row cap
    alone is ~800 MB on the driver at 100k x 1024-dim (the round-2 audit
    finding). FAISS-rule default, byte-budget clamp, loud failure when the
    budget can't even seed k centroids."""
    from yelp_business_data_pipeline_spark.operators.ivf import _train_sample_cap

    # default: FAISS 256 vectors per centroid
    assert _train_sample_cap(16, 8, sample_n=None, sample_bytes=128 << 20) == 16 * 256
    # byte budget clamps the row ask at high dim: 1 MB / (4096 dim * 8 B) = 32 rows
    assert _train_sample_cap(16, 4096, sample_n=100_000, sample_bytes=1 << 20) == 32
    # explicit smaller ask wins when it fits
    assert _train_sample_cap(16, 8, sample_n=100, sample_bytes=128 << 20) == 100
    # budget too small to seed k centroids -> loud error, not a silent k cut
    with pytest.raises(ValueError, match="sample_bytes"):
        _train_sample_cap(64, 4096, sample_n=None, sample_bytes=1 << 20)


def test_ivf_train_respects_byte_budget_end_to_end(spark):
    """With a budget admitting exactly 8 x 16-dim vectors, training still
    produces a usable materialized centroid table of n_lists<=8 rows (the
    sample IS the 8 lowest-id vectors) — the collect never exceeded it."""
    import numpy as np

    from yelp_business_data_pipeline_spark.operators.ivf import train_ivf_centroids

    dim = 16
    corpus = spark.createDataFrame(
        [(i, [float((i * 31 + j * 7) % 13) for j in range(dim)]) for i in range(100)],
        "c_id bigint, v array<double>",
    )
    budget = 8 * dim * 8  # exactly 8 vectors
    cent = train_ivf_centroids(
        corpus, "c_id", "v", n_lists=4, iters=3, sample_n=50, sample_bytes=budget
    )
    rows = cent.collect()
    assert len(rows) == 4
    # centroids derive from the 8 lowest-id vectors only: every centroid
    # must lie in the convex hull coordinate-range of that sample
    sample = np.array(
        [[float((i * 31 + j * 7) % 13) for j in range(dim)] for i in range(8)]
    )
    lo, hi = sample.min(0) - 1e-9, sample.max(0) + 1e-9
    for r in rows:
        c = np.array(r.cv)
        assert ((c >= lo) & (c <= hi)).all()


def test_winnowing_arrow_equals_relational(spark):
    """The Arrow winnowing kernel must produce EXACTLY the relational
    window-form fingerprints (same md5 construction the oracle checks),
    including on non-ASCII text where Spark substring is char-based."""
    from yelp_business_data_pipeline_spark.operators import text as tx

    sf = "/root/testdata/sf0.001"
    d = spark.read.parquet(f"{sf}/documents.parquet").filter(F.length("text") >= 8)
    rel = {(r.doc_id, r.fp) for r in tx.winnowing_fingerprints_long(d, "doc_id", "text", 8, 4).collect()}
    arr = {(r.doc_id, r.fp) for r in tx.winnowing_fingerprints_arrow(d, "doc_id", "text", 8, 4).collect()}
    assert rel == arr and rel

    # non-ASCII path: char-based slicing must match Spark's substring
    docs = spark.createDataFrame(
        [(1, "café däjà vu — übermäßig gründlich geprüft"), (2, "plain ascii text goes here")],
        "doc_id long, text string",
    )
    rel2 = {(r.doc_id, r.fp) for r in tx.winnowing_fingerprints_long(docs, "doc_id", "text", 8, 4).collect()}
    arr2 = {(r.doc_id, r.fp) for r in tx.winnowing_fingerprints_arrow(docs, "doc_id", "text", 8, 4).collect()}
    assert rel2 == arr2 and rel2


def test_minhash_band_kernel_equals_expression(spark):
    """minhash_band_rows_kernel (the r12 Arrow path that
    minhash_lsh_candidates now defaults to) must produce EXACTLY the
    expression form's (_id, band, band_hash) rows — both hash families,
    non-default (k, rows_per_band, shingle_n), and the edge population
    (NULL text, empty text, docs shorter than the shingle, non-ASCII
    tokens, repeated spaces — Spark split keeps empty segments and the
    kernel must too)."""
    sf = "/root/testdata/sf0.001"
    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    for impl in ("md5", "xxhash64"):
        exp = sorted(map(tuple, dd.minhash_band_rows(d, "doc_id", "text", hash_impl=impl).collect()))
        ker = sorted(map(tuple, dd.minhash_band_rows_kernel(d, "doc_id", "text", hash_impl=impl).collect()))
        assert exp == ker and exp, impl

    edge = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "one two"),  # < default shingle_n
            (4, "café  über  naïve one two three"),  # double spaces -> empties
            (5, "alpha beta gamma delta"),
        ],
        "doc_id long, text string",
    )
    for n, k, r in ((3, 8, 2), (2, 6, 3), (4, 5, 2)):
        exp = sorted(map(tuple, dd.minhash_band_rows(
            edge, "doc_id", "text", k=k, rows_per_band=r, shingle_n=n).collect()))
        ker = sorted(map(tuple, dd.minhash_band_rows_kernel(
            edge, "doc_id", "text", k=k, rows_per_band=r, shingle_n=n).collect()))
        assert exp == ker, (n, k, r)
        assert ker, (n, k, r)  # non-vacuous: the long docs produce bands

    # the composed candidates path (Arrow kernel) must equal the same
    # bucketing built on the expression band rows, end to end
    big = spark.read.parquet(f"{sf}/documents.parquet")
    buckets = (
        dd.minhash_band_rows(big, "doc_id", "text")
        .groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_set("_id")).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    a = sorted(map(tuple, dd.bucket_pairs(buckets, max_bucket=5_000).collect()))
    b = sorted(map(tuple, dd.minhash_lsh_candidates(big, "doc_id", "text").collect()))
    assert a == b and a


def test_xxh64_matches_spark(spark):
    """functions/xxhash.py must be bit-identical to F.xxhash64 — scalar on
    arbitrary lengths (incl. the >=32B stripe loop and non-ASCII), and the
    vectorized row kernel on the salt+k-gram shape."""
    import numpy as np

    from yelp_business_data_pipeline_spark.functions.xxhash import xxh64, xxh64_rows

    strings = [
        "", "a", "abc", "wn:abcdefg", "wn:abcdefgh", "0123456789abcdef0123456789abc",
        "x" * 31, "y" * 32, "z" * 33, "w" * 100,
        "héllo wörld — ünïcode ≠ ascii", "mh:tökén",
    ]
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    expected = {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in strings:
        assert xxh64(s.encode("utf-8")) == expected[s], s

    # vectorized kernel: fixed-length rows (L < 32) against the scalar
    rng = np.random.default_rng(7)
    for L in (1, 4, 7, 8, 11, 12, 15, 16, 20, 31):
        mat = rng.integers(0, 256, size=(64, L), dtype=np.uint8)
        vec = xxh64_rows(mat).view(np.int64)
        for i in range(64):
            assert int(vec[i]) == xxh64(mat[i].tobytes()), (L, i)


def test_winnowing_arrow_equals_relational_xxhash64(spark):
    """The production-hash (xxhash64) Arrow kernel must produce EXACTLY the
    relational form's fingerprints — mirrors the md5 equivalence test so
    the bench query's plan swap (round-4) is value-pinned."""
    from yelp_business_data_pipeline_spark.operators import text as tx

    sf = "/root/testdata/sf0.001"
    d = spark.read.parquet(f"{sf}/documents.parquet").filter(F.length("text") >= 8)
    rel = {
        (r.doc_id, r.fp)
        for r in tx.winnowing_fingerprints_long(d, "doc_id", "text", 8, 4, hash_impl="xxhash64").collect()
    }
    arr = {
        (r.doc_id, r.fp)
        for r in tx.winnowing_fingerprints_arrow(d, "doc_id", "text", 8, 4, hash_impl="xxhash64").collect()
    }
    assert rel == arr and rel

    docs = spark.createDataFrame(
        [(1, "café däjà vu — übermäßig gründlich geprüft"), (2, "plain ascii text goes here")],
        "doc_id long, text string",
    )
    rel2 = {
        (r.doc_id, r.fp)
        for r in tx.winnowing_fingerprints_long(docs, "doc_id", "text", 8, 4, hash_impl="xxhash64").collect()
    }
    arr2 = {
        (r.doc_id, r.fp)
        for r in tx.winnowing_fingerprints_arrow(docs, "doc_id", "text", 8, 4, hash_impl="xxhash64").collect()
    }
    assert rel2 == arr2 and rel2


def test_pii_redaction(spark):
    from yelp_business_data_pipeline_spark.operators import text as tx

    rows = [
        (1, "contact me at jane.doe+spam@example.co.uk or call +1 (555) 123-4567 today"),
        (2, "server at 192.168.0.17 logs to https://logs.example.com/x?u=a@b.com"),
        (3, "ssn 123-45-6789 should vanish; year 2024 and price 19.99 should not"),
        (4, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    red = {r.id: r.t for r in df.select("id", tx.redact_pii(F.col("text")).alias("t")).collect()}
    assert red[1] == "contact me at <EMAIL> or call <PHONE> today"
    # URL is scrubbed before the email inside its query string
    assert red[2] == "server at <IP> logs to <URL>"
    assert "<SSN>" in red[3] and "2024" in red[3] and "19.99" in red[3]
    assert red[4] == "no pii here at all"

    counts = {r.id: r.c for r in df.select("id", tx.pii_counts(F.col("text")).alias("c")).collect()}
    # subset audit mirrors subset redaction: email-only counting sees the
    # email inside the URL (no URL pre-redaction), like redact_pii(kinds=('email',))
    sub = {r.id: r.c for r in df.select("id", tx.pii_counts(F.col("text"), kinds=("email",)).alias("c")).collect()}
    assert set(sub[2].keys()) == {"email"} and sub[2]["email"] == 1
    assert counts[1]["email"] == 1 and counts[1]["phone"] == 1
    assert counts[2]["ipv4"] == 1 and counts[2]["url"] == 1
    assert counts[3]["ssn"] == 1
    assert all(v == 0 for v in counts[4].values())


def test_deletion_blocking_is_exact_for_edit_distance_1(spark):
    """Property: deletion-neighborhood candidates ⊇ ALL pairs within
    Levenshtein distance 1 (substitution, insertion, deletion) — the
    exactness claim, checked against a Python brute force on a random-ish
    corpus with planted near-pairs."""
    import itertools

    def lev1(a: str, b: str) -> bool:
        if a == b:
            return True
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return False
        if la == lb:  # substitution
            return sum(x != y for x, y in zip(a, b)) == 1
        if la > lb:
            a, b, la, lb = b, a, lb, la
        # insertion: b = a with one extra char
        i = 0
        while i < la and a[i] == b[i]:
            i += 1
        return a[i:] == b[i + 1 :]

    base = ["kitten", "sitten", "sittin", "mitten", "kitty", "smitten",
            "flack", "flock", "block", "blocks", "lock", "clock",
            "abc", "abd", "xbc", "ab", "abcd", "zzzz"]
    df = spark.createDataFrame(list(enumerate(base)), "id long, s string")
    from yelp_business_data_pipeline_spark.operators.dedup import (
        deletion_neighborhood_candidates,
    )

    cand = {(r.doc_a, r.doc_b) for r in deletion_neighborhood_candidates(df, "id", "s").collect()}
    truth = {
        (i, j)
        for (i, a), (j, b) in itertools.combinations(enumerate(base), 2)
        if lev1(a, b)
    }
    missing = truth - cand
    assert not missing, f"deletion blocking missed true d<=1 pairs: {missing}"


def test_chunk_tokens_coverage_and_overlap(spark):
    from yelp_business_data_pipeline_spark.operators.text import chunk_tokens

    words = " ".join(f"w{i}" for i in range(300))
    df = spark.createDataFrame(
        [(1, words), (2, "short doc only"), (3, ""), (4, None), (5, "   ")],
        "doc_id long, text string",
    )
    out = chunk_tokens(df, "doc_id", "text", chunk_size=128, overlap=16).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # short doc -> one chunk, intact
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_text == "short doc only"
    # empty / null / whitespace-only docs -> ZERO chunks (no phantom chunk)
    assert 3 not in by_doc and 4 not in by_doc and 5 not in by_doc
    # long doc: stride 112 over 300 tokens -> ceil((300-16)/112) = 3 chunks
    chunks = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert len(chunks) == 3
    # every token appears in some chunk (coverage)
    seen = set()
    for c in chunks:
        seen.update(c.chunk_text.split(" "))
    assert seen == set(words.split(" "))
    # consecutive chunks overlap by exactly `overlap` tokens
    t0, t1 = chunks[0].chunk_text.split(" "), chunks[1].chunk_text.split(" ")
    assert t0[-16:] == t1[:16]
    assert chunks[0].n_tokens == 128


def test_int8_quantization_preserves_cosine(spark):
    from yelp_business_data_pipeline_spark.operators.similarity import (
        as_double_vec,
        cosine_topk,
        dequantize_int8,
        quantize_int8,
    )

    e = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", as_double_vec(F.col("embedding")).alias("v"))
    )
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "v")
    c = e.filter(F.col("vec_id") >= 5).select(F.col("vec_id").alias("c_id"), "v")
    exact = {(r.q_id, r.c_id) for r in cosine_topk(q, c, k=10).collect()}

    # quantize the corpus, rebuild vectors, re-rank: top-10 overlap >= 0.9
    cq = dequantize_int8(quantize_int8(c, "v"), "v").select("c_id", "v")
    approx = {(r.q_id, r.c_id) for r in cosine_topk(q, cq, k=10).collect()}
    assert len(exact & approx) / len(exact) >= 0.9

    # cosine VALUES are preserved to ~1e-3 (the docstring claim): compare
    # per-pair scores between the float and dequantized corpora
    ex_scores = {(r.q_id, r.c_id): r.cosine for r in cosine_topk(q, c, k=10).collect()}
    qt_scores = {(r.q_id, r.c_id): r.cosine for r in cosine_topk(q, cq, k=10).collect()}
    common = set(ex_scores) & set(qt_scores)
    assert common
    assert max(abs(ex_scores[p] - qt_scores[p]) for p in common) < 5e-3

    # quantized values are genuinely int8-ranged
    row = quantize_int8(c, "v").select("v_q").first()
    assert all(-127 <= x <= 127 for x in row.v_q)


def test_unigram_logprob_quality_scoring(spark):
    """Corpus-LM scoring must rank fluent in-domain text above
    rare-vocabulary noise, and be deterministic."""
    from yelp_business_data_pipeline_spark.operators.text import unigram_logprob_scores

    common = "the quick brown fox jumps over the lazy dog " * 5
    rows = [(i, common.strip()) for i in range(20)] + [
        (100, "zxqv wkjh qpzm vbnx lkjq zzyx qwer asdf"),  # garbled
        (101, "the quick brown fox naps under the lazy dog"),  # in-domain-ish
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.mean_logprob for r in unigram_logprob_scores(df, "doc_id", "text").collect()}
    # garbled doc scores far below the common docs and the near-domain doc
    assert got[100] < got[101] < got[0]
    # deterministic across runs
    again = {r.doc_id: r.mean_logprob for r in unigram_logprob_scores(df, "doc_id", "text").collect()}
    assert got == again


def test_chunk_tokens_invariants_property(spark):
    """Property (hypothesis): for any doc length and any valid
    (chunk_size, overlap), chunks cover every token in order, consecutive
    chunks overlap by exactly `overlap` (except a possibly-shorter tail),
    and no chunk exceeds chunk_size."""
    from hypothesis import given, settings, strategies as st

    from yelp_business_data_pipeline_spark.operators.text import chunk_tokens

    @settings(max_examples=12, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=400),
        chunk_size=st.integers(min_value=2, max_value=64),
        overlap_frac=st.floats(min_value=0.0, max_value=0.9),
    )
    def check(n, chunk_size, overlap_frac):
        overlap = min(int(chunk_size * overlap_frac), chunk_size - 1)
        stride = chunk_size - overlap
        words = [f"w{i}" for i in range(n)]
        df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
        rows = sorted(
            chunk_tokens(df, "doc_id", "text", chunk_size, overlap).collect(),
            key=lambda r: r.chunk_idx,
        )
        chunks = [r.chunk_text.split(" ") for r in rows]
        assert all(len(c) <= chunk_size for c in chunks)
        # reconstruction: chunk i starts at i*stride and is contiguous
        for i, c in enumerate(chunks):
            assert c == words[i * stride : i * stride + len(c)]
        # full coverage, in order
        flat = chunks[0] + [t for c in chunks[1:] for t in c[overlap:]]
        assert flat == words or (len(chunks) == 1 and chunks[0] == words[:chunk_size] and n <= chunk_size)
        covered = set()
        for c in chunks:
            covered.update(c)
        assert covered == set(words)

    check()


# ---------------------------------------------------------------------------
# Skewed-key stress: head-heavy variant buckets (round-3 VERDICT item 6)
# ---------------------------------------------------------------------------


def _insertion_neighborhood(base: str, alphabet: str) -> list[str]:
    return sorted({base[:p] + ch + base[p:] for p in range(len(base) + 1) for ch in alphabet})


def _lev_le1(a: str, b: str) -> bool:
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:  # one substitution
        return sum(x != y for x, y in zip(a, b)) <= 1
    if la > lb:
        a, b, la, lb = b, a, lb, la
    # one insertion: a must equal b with one char dropped
    for i in range(lb):
        if a == b[:i] + b[i + 1 :]:
            return True
    return False


def test_deletion_blocking_head_heavy_bucket(spark):
    """A corpus saturating ONE variant's full insertion neighborhood — the
    worst-case head bucket. The blocker must (a) stay within the documented
    (len+1)*|alphabet|+1 bound, (b) keep recall 1.0 for edit-distance<=1
    pairs even under maximal skew, and (c) produce exactly the head
    clique's pairs plus the smaller same-insertion-position buckets."""
    from yelp_business_data_pipeline_spark.operators.dedup import (
        deletion_neighborhood_candidates,
    )

    base, alphabet = "qqqqqq", "abcdefghijklmnopqrstuvwxyz"
    strings = _insertion_neighborhood(base, alphabet)
    n = len(strings)
    assert n <= (len(base) + 1) * len(alphabet) + 1  # the documented bound

    df = spark.createDataFrame(list(enumerate(strings)), "id long, s string")
    got = {
        (r.doc_a, r.doc_b)
        for r in deletion_neighborhood_candidates(df, "id", "s").collect()
    }
    # every corpus string shares the deletion variant 'qqqqqq' -> full clique
    clique = {(a, b) for a in range(n) for b in range(a + 1, n)}
    assert got >= clique
    # recall 1.0: every true distance<=1 pair is a candidate
    true_pairs = {
        (a, b)
        for a in range(n)
        for b in range(a + 1, n)
        if _lev_le1(strings[a], strings[b])
    }
    assert got >= true_pairs


def test_bucket_cap_degrades_loudly_not_oom(spark):
    """With max_bucket set below the head bucket's size the job must FAIL
    with the named guard message — never silently expand the mega-bucket."""
    from yelp_business_data_pipeline_spark.operators.dedup import (
        deletion_neighborhood_candidates,
    )

    strings = _insertion_neighborhood("qqqqqq", "abcdefghijklmnopqrstuvwxyz")
    df = spark.createDataFrame(list(enumerate(strings)), "id long, s string")
    capped = deletion_neighborhood_candidates(df, "id", "s", max_bucket=50)
    with pytest.raises(Exception, match="max_bucket=50"):
        capped.collect()
    # ...and a cap ABOVE the bound passes untouched
    ok = deletion_neighborhood_candidates(
        df, "id", "s", max_bucket=(len("qqqqqq") + 1) * 26 + 1
    )
    assert ok.count() > 0


def test_lsh_bucket_cap_threads_through(spark):
    """minhash_lsh_candidates exposes the same guard (band buckets can also
    go head-heavy on repetitive corpora)."""
    from yelp_business_data_pipeline_spark.operators.dedup import minhash_lsh_candidates

    # 40 near-identical documents -> every band bucket holds all 40
    docs = [(i, "the quick brown fox jumps over the lazy dog again and again") for i in range(40)]
    df = spark.createDataFrame(docs, "id long, s string")
    with pytest.raises(Exception, match="max_bucket=10"):
        minhash_lsh_candidates(df, "id", "s", max_bucket=10).collect()
    assert minhash_lsh_candidates(df, "id", "s", max_bucket=40).count() == 40 * 39 // 2


def test_arrow_and_cp_paths_tolerate_null_vectors(spark):
    """Regression: NULL embeddings crashed the Arrow kernels (np.array on
    a None row) while the JVM paths tolerated them — all paths must skip
    NULL vectors identically."""
    from yelp_business_data_pipeline_spark.operators.similarity import (
        arrow_cosine_topk,
        cosine_topk,
        embedding_near_dup_pairs,
    )

    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, None), (4, [0.0, 1.0])]
    corpus = spark.createDataFrame(rows, "c_id long, v array<double>")
    queries = spark.createDataFrame([(10, [1.0, 0.0]), (11, None)],
                                    "q_id long, v array<double>")
    jvm = cosine_topk(queries.filter("v IS NOT NULL"), corpus, "q_id", "c_id", "v", k=2)
    arrow = arrow_cosine_topk(queries, corpus, "q_id", "c_id", "v", k=2)
    assert sorted(map(tuple, jvm.collect())) == sorted(map(tuple, arrow.collect()))
    # cross-polytope near-dup on the same data must not crash either
    nd = embedding_near_dup_pairs(
        corpus, "c_id", "v", dim=2, threshold=0.5, family="crosspolytope",
        n_tables=4,
    )
    assert nd.count() >= 0


def test_arrow_cosine_zero_norm_ranks_last_like_jvm(spark):
    from yelp_business_data_pipeline_spark.operators.similarity import (
        arrow_cosine_topk,
        cosine_topk,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.5, 0.5])],
        "c_id long, v array<double>",
    )
    queries = spark.createDataFrame([(10, [1.0, 0.0])], "q_id long, v array<double>")
    jvm = sorted(map(tuple, cosine_topk(queries, corpus, "q_id", "c_id", "v", k=3).collect()))
    arrow = sorted(map(tuple, arrow_cosine_topk(queries, corpus, "q_id", "c_id", "v", k=3).collect()))
    assert jvm == arrow
    # the zero-norm vector is ranked LAST with a NULL cosine, never first
    by_rank = {r[2]: (r[1], r[3]) for r in arrow}
    assert by_rank[3][0] == 2 and by_rank[3][1] is None


def test_string_ids_on_cross_polytope_path(spark):
    from yelp_business_data_pipeline_spark.operators.similarity import (
        cross_polytope_ann_topk,
    )

    corpus = spark.createDataFrame(
        [(f"c{i}", [float(i), 1.0]) for i in range(1, 30)],
        "c_id string, v array<double>",
    )
    queries = spark.createDataFrame([("q1", [5.0, 1.0])], "q_id string, v array<double>")
    got = cross_polytope_ann_topk(
        queries, corpus, dim=2, query_id="q_id", corpus_id="c_id",
        vec_col="v", k=3, n_tables=8,
    ).collect()
    assert len(got) > 0 and all(isinstance(r[1], str) for r in got)


def test_lang_id_null_text_is_null(spark):
    from yelp_business_data_pipeline_spark.operators import text as tx

    df = spark.createDataFrame([(1, None), (2, "the of and is")], "id long, text string")
    got = {r.id: r.lang for r in df.select("id", tx.lang_id(F.col("text")).alias("lang")).collect()}
    assert got[1] is None and got[2] == "en"


def test_unigram_scores_empty_corpus_returns_empty(spark):
    from yelp_business_data_pipeline_spark.operators import text as tx

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string").filter(F.lit(False))
    out = tx.unigram_logprob_scores(df, "doc_id", "text")
    assert out.count() == 0
    assert set(out.columns) == {"doc_id", "n_tokens", "mean_logprob"}


def test_winnowing_xxhash64_large_kgram_falls_back(spark):
    """Regression: k-grams >= 29 ASCII bytes hit the 32-byte stripe
    boundary and crashed xxh64_rows; the scalar fallback must keep the
    kernel value-equal to the relational JVM form."""
    from yelp_business_data_pipeline_spark.operators import text as tx

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog repeatedly"),
         (2, "the quick brown fox jumps over the lazy dog differently")],
        "doc_id long, text string",
    )
    arrow = tx.winnowing_fingerprints_arrow(
        df, "doc_id", "text", k=30, window=3, hash_impl="xxhash64"
    )
    rel = tx.winnowing_fingerprints_long(
        df, "doc_id", "text", k=30, window=3, hash_impl="xxhash64"
    )
    assert sorted(map(tuple, arrow.collect())) == sorted(map(tuple, rel.collect()))


def test_blocker_guards_are_on_by_default():
    """VERDICT r7 item 7: the pair-generating blockers must ship with the
    loud candidate guard ENABLED — a skewed real corpus (large exact-dup
    clusters) must fail diagnosably, not silently expand mega-buckets.
    Pin the defaults so a refactor can't quietly revert them to None."""
    import inspect

    from yelp_business_data_pipeline_spark.operators.dedup import (
        deletion_neighborhood_candidates,
        minhash_lsh_candidates,
    )

    assert (
        inspect.signature(minhash_lsh_candidates).parameters["max_bucket"].default
        == 5_000
    )
    assert (
        inspect.signature(deletion_neighborhood_candidates)
        .parameters["max_bucket"]
        .default
        == 10_000
    )


# ---------------------------------------------------------------------------
# soft dedup (dedup.soft_dedup_weights)
# ---------------------------------------------------------------------------


def test_soft_dedup_weights_model_and_unit_mass(spark):
    from pyspark.sql import functions as F

    from yelp_business_data_pipeline_spark.operators.dedup import soft_dedup_weights

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, None), (6, None)],
        "i long, k string",
    )
    out = soft_dedup_weights(df, "k")
    rows = {r["i"]: (r["dup_cluster_size"], r["sample_weight"]) for r in out.collect()}
    third = math.floor((1 / 3) * 1e9 + 0.5) / 1e9
    assert rows[1] == rows[2] == rows[3] == (3, third)
    assert rows[4] == (1, 1.0)
    # NULL keys: no identity, never a cluster — each row stands alone
    assert rows[5] == rows[6] == (1, 1.0)
    # unit mass: every cluster contributes 1.0 (modulo the documented
    # 1e-9 rounding); NULL rows contribute 1.0 each
    total = out.agg(F.sum("sample_weight")).first()[0]
    assert abs(total - (2 + 2)) < 1e-6  # clusters a,b + two NULL rows


def test_soft_dedup_guards_and_layout(spark):
    import pytest
    from pyspark.sql import functions as F

    from yelp_business_data_pipeline_spark.operators.dedup import soft_dedup_weights

    df = spark.createDataFrame([(1, "a")], "i long, k string")
    with pytest.raises(ValueError, match="already exists"):
        soft_dedup_weights(df.withColumn("sample_weight", F.lit(1.0)), "k")
    big = spark.createDataFrame(
        [(i, f"k{i % 5}") for i in range(50)], "i long, k string"
    )
    a = sorted(map(tuple, soft_dedup_weights(big.repartition(7), "k").collect()))
    b = sorted(map(tuple, soft_dedup_weights(big.coalesce(1), "k").collect()))
    assert a == b


def test_soft_dedup_panel_matches_duckdb_twin(spark, sf_dir):
    from tests.oracle_harness import duck_con
    from yelp_business_data_pipeline_spark.plans import QUERIES
    from yelp_business_data_pipeline_spark.plans.extensions import SOFT_DEDUP_ORACLE

    srows = [
        tuple(r) for r in QUERIES["soft_dedup_panel"].spark(spark, sf_dir).collect()
    ]
    drows = [tuple(r) for r in duck_con(sf_dir).execute(SOFT_DEDUP_ORACLE).fetchall()]
    assert srows == drows
    # sum of weights == cluster count, size-bucket by size-bucket
    for _size, _n, n_clusters, total_w in srows:
        assert abs(total_w - n_clusters) < 1e-5
    # promoted into the 50-slot gate in the r10 rotation (swap_gate_slot)
    names = list(QUERIES)
    assert names.index("soft_dedup_panel") < 50
    assert QUERIES["soft_dedup_panel"].oracle == SOFT_DEDUP_ORACLE


def test_soft_dedup_internal_name_collision_raises(spark):
    import pytest
    from pyspark.sql import functions as F

    from yelp_business_data_pipeline_spark.operators.dedup import soft_dedup_weights

    df = spark.createDataFrame([(1, "a")], "i long, k string")
    with pytest.raises(ValueError, match="_sd_key"):
        soft_dedup_weights(df.withColumn("_sd_key", F.lit("x")), "k")
    with pytest.raises(ValueError, match="_sd_key"):
        soft_dedup_weights(df.withColumn("_n", F.lit(1)), "k")


def test_bag_fingerprint_semantics(spark):
    """Order- and multiplicity-invariant; NULL text -> NULL (not the
    empty-string hash concat_ws would silently produce)."""
    from pyspark.sql import functions as F

    from yelp_business_data_pipeline_spark.operators.text import bag_fingerprint

    df = spark.createDataFrame(
        [("b a a",), ("a b",), ("a c",), (None,), ("",)], "text string"
    )
    fps = [r[0] for r in df.select(bag_fingerprint(F.col("text"))).collect()]
    assert fps[0] == fps[1]          # reorder + repeat collide
    assert fps[2] != fps[0]          # different vocab does not
    assert fps[3] is None            # NULL text has no identity
    assert fps[4] is not None        # empty string is a real (degenerate) bag


def test_cross_source_mirrors_python_model(spark):
    from yelp_business_data_pipeline_spark.operators.dedup import cross_source_mirrors

    rows = [
        # mirrored across hosts, one copy reordered/repeated
        (1, "x y z", "h1"), (2, "z y x x", "h2"), (3, "x y z", "h2"),
        # duplicated WITHIN one host only -> excluded by the source bar
        (4, "p q", "h1"), (5, "p q", "h1"),
        # unique content
        (6, "solo doc", "h3"),
        # NULL text dropped
        (7, None, "h1"),
        # NULL source carries no host identity (ADVICE r11: Spark's
        # collect_set drops NULLs, DuckDB's list(DISTINCT) keeps them —
        # the contract is an explicit filter in BOTH engines), so this
        # copy must not widen the xyz mirror set
        (8, "x y z", None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    got = {r.bag_fp: r for r in cross_source_mirrors(df, "doc_id", "text", "source").collect()}
    assert len(got) == 1
    (only,) = got.values()
    assert (only.n_docs, only.n_sources, only.min_doc_id, only.sources_csv) == (3, 2, 1, "h1,h2")
    # min_sources=1 degenerates to the full duplication profile
    all_groups = cross_source_mirrors(df, "doc_id", "text", "source", min_sources=1)
    assert all_groups.count() == 3  # xyz-bag, pq-bag, solo-bag

    import pytest

    with pytest.raises(ValueError, match="min_sources"):
        cross_source_mirrors(df, "doc_id", "text", "source", min_sources=0)


def test_cross_source_mirrors_hash_agg_single_exchange(spark):
    """The scale pin: ONE hash exchange, and the aggregate stays
    hash-based (no countDistinct Expand + TypedImperative SortAggregate
    collapse — n_sources comes from the collected set)."""
    from yelp_business_data_pipeline_spark.operators.dedup import cross_source_mirrors

    df = spark.createDataFrame(
        [(1, "x y", "h1"), (2, "y x", "h2")], "doc_id bigint, text string, source string"
    )
    plan = (
        cross_source_mirrors(df, "doc_id", "text", "source")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortAggregate" not in plan and "Expand" not in plan


def test_mirror_detection_panel_matches_duckdb_twin(spark, sf_dir):
    """Rotation-queue twin pin: the registered panel must equal
    MIRROR_DETECTION_ORACLE row-for-row — bag fingerprint, copy/source
    counts, and the sorted mirror-set CSV re-derived in DuckDB."""
    from tests.oracle_harness import duck_con
    from yelp_business_data_pipeline_spark.plans import QUERIES
    from yelp_business_data_pipeline_spark.plans.extensions import MIRROR_DETECTION_ORACLE

    srows = sorted(
        tuple(r) for r in QUERIES["mirror_detection_panel"].spark(spark, sf_dir).collect()
    )
    drows = sorted(duck_con(sf_dir).execute(MIRROR_DETECTION_ORACLE).fetchall())
    assert srows == drows and len(srows) >= 10
    for _fp, n_docs, n_sources, _mid, csv in srows:
        assert n_docs >= n_sources >= 2
        assert len(csv.split(",")) == n_sources
    # promoted into the 50-slot gate by the seventh r11 swap (demoting the
    # 3-round-stable jaccard_pairs_panel — like-for-like dedup family)
    names = list(QUERIES)
    assert names.index("mirror_detection_panel") < 50
    assert QUERIES["mirror_detection_panel"].oracle == MIRROR_DETECTION_ORACLE


def test_near_dup_clusters_panel_python_model(spark, sf_dir):
    """The composed fuzzy-dedup tail recomputed from scratch: candidate
    pairs -> exact Jaccard >= 0.5 -> union-find -> size histogram. The
    Spark side must match the model EXACTLY (deterministic LSH + exact
    verification + label-free histogram)."""
    from pyspark.sql import functions as F

    from yelp_business_data_pipeline_spark.operators.dedup import minhash_lsh_candidates
    from yelp_business_data_pipeline_spark.plans import QUERIES

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    docs = {r.doc_id: set(r.text.split(" ")) for r in d.collect()}
    cands = [
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_candidates(d, "doc_id", "text", k=8, rows_per_band=2).collect()
    ]
    parent = {i: i for i in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n_verified = 0
    for a, b in cands:
        ta, tb = docs[a], docs[b]
        if round(len(ta & tb) / len(ta | tb), 6) >= 0.5:
            n_verified += 1
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    from collections import Counter

    sizes = Counter()
    for i in docs:
        sizes[find(i)] += 1
    hist = Counter(sizes.values())
    model = sorted(
        (sz, n, sz * n) for sz, n in hist.items()
    )
    got = sorted(
        tuple(r) for r in QUERIES["near_dup_clusters_panel"].spark(spark, sf_dir).collect()
    )
    assert got == model
    # live composition: some candidates verified, some clusters non-trivial
    assert n_verified > 0
    assert any(sz > 1 for sz, _, _ in got)
    # mass conservation: histogram covers every document exactly once
    assert sum(nd for _, _, nd in got) == len(docs)


def test_near_dup_clusters_panel_no_cartesian(spark):
    """The composition must stay equi-join end to end — candidate
    verification joins on ids, never a cross product."""
    from yelp_business_data_pipeline_spark.plans import QUERIES

    plan = (
        QUERIES["near_dup_clusters_panel"]
        .spark(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_dedup_clusters_operator_api(spark):
    """The reusable composition: labels + canonical selection on a
    handwritten near-dup corpus; NULL text rows pass through as their own
    singletons; threshold guard raises."""
    from yelp_business_data_pipeline_spark.operators.dedup import fuzzy_dedup_clusters

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),   # exact dup of 1
        (3, "alpha beta gamma delta epsilon zeta eta iota"),    # near-dup of 1
        (4, "completely different vocabulary set right here ok now"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in fuzzy_dedup_clusters(df, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3, 4, 5}                 # every row survives, labeled
    assert out[1].entity_id == out[2].entity_id == out[3].entity_id == 1
    assert out[4].entity_id == 4 and out[5].entity_id == 5
    canon = {i for i, r in out.items() if r.is_canonical}
    assert canon == {1, 4, 5}                          # min-id per cluster

    with pytest.raises(ValueError, match="jaccard_threshold"):
        fuzzy_dedup_clusters(df, "doc_id", "text", jaccard_threshold=1.5)


def test_minhash_band_kernel_cache_cap_and_null_ids(spark):
    """r13 (ADVICE r12): the kernel's per-task token-hash cache is
    BOUNDED — a tiny cap must change memory behaviour only, never a
    value — and NULL ids propagate through the kernel exactly like the
    expression path (band rows computed from the text, _id NULL), for
    integer AND string id columns."""
    rows = [
        (None, "alpha beta gamma delta epsilon zeta eta theta"),
        (7, "alpha beta gamma delta epsilon zeta eta iota"),
        (8, "completely different vocabulary set right here ok now"),
        (9, None),
    ]
    key = lambda t: (t[0] is None, str(t[0]), t[1], t[2])  # noqa: E731
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    exp = sorted(
        map(tuple, dd.minhash_band_rows(df, "doc_id", "text").collect()), key=key
    )
    ker = sorted(
        map(tuple, dd.minhash_band_rows_kernel(df, "doc_id", "text").collect()),
        key=key,
    )
    assert exp == ker and exp
    assert any(t[0] is None for t in ker)  # the NULL id's band rows survive
    # cap smaller than the vocabulary: identical rows (cache is memory-only)
    capped = sorted(
        map(
            tuple,
            dd.minhash_band_rows_kernel(
                df, "doc_id", "text", token_cache_cap=2
            ).collect(),
        ),
        key=key,
    )
    assert capped == exp

    srows = [(r[0] and f"id{r[0]}", r[1]) for r in rows]
    sdf = spark.createDataFrame(srows, "doc_id string, text string")
    sexp = sorted(
        map(tuple, dd.minhash_band_rows(sdf, "doc_id", "text").collect()), key=key
    )
    sker = sorted(
        map(tuple, dd.minhash_band_rows_kernel(sdf, "doc_id", "text").collect()),
        key=key,
    )
    assert sexp == sker and sexp


def test_simhash_kernel_equals_expression(spark):
    """r13: simhash_rows_kernel (the Arrow single-pass replacing the 16
    interpreted vote-folds) must produce EXACTLY with_simhash's values —
    both hash families, the real corpus, and the edge population (NULL
    text -> simhash 0, empty text, single token, repeated spaces,
    non-ASCII)."""
    sf = "/root/testdata/sf0.001"
    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "a"),
            (4, "x y x y x"),
            (5, "café  über  naïve one two three"),
        ],
        "doc_id long, text string",
    )
    for impl in ("md5", "xxhash64"):
        for frame in (d, edge):
            exp = sorted(
                (r.doc_id, r.simhash)
                for r in dd.with_simhash(frame, "text", "simhash", bits=16, hash_impl=impl)
                .select("doc_id", "simhash")
                .collect()
            )
            ker = sorted(
                (r.doc_id, r.simhash)
                for r in dd.simhash_rows_kernel(
                    frame, "doc_id", "text", bits=16, hash_impl=impl
                ).collect()
            )
            assert exp == ker and exp, impl
    # non-default width exercises the shift/pack loop bounds
    exp20 = sorted(
        (r.doc_id, r.simhash)
        for r in dd.with_simhash(edge, "text", "simhash", bits=20)
        .select("doc_id", "simhash")
        .collect()
    )
    ker20 = sorted(
        (r.doc_id, r.simhash)
        for r in dd.simhash_rows_kernel(edge, "doc_id", "text", bits=20).collect()
    )
    assert exp20 == ker20
