"""Deduplication operators (SURVEY.md §2.9; BASELINE.json north-star).

Scale design notes (the point of each algorithm at 100 TB):

- **Exact dedup** — hash groupBy on a content fingerprint: one shuffle on the
  fingerprint, no self-join, map-side partial agg shrinks first.
- **Token-set Jaccard join** — exact pairwise similarity via an inverted-index
  self-join on tokens. Cost is sum over tokens of df(t)^2, so it is the
  *verification* stage, run only on candidate pairs (or bounded subsets), not
  the whole corpus.
- **MinHash + LSH banding** — the scale path: k portable min-hashes per doc
  (computed per-row with higher-order functions — no explode, no shuffle),
  then band signatures, then an equi-join on (band, band_hash). Only docs
  sharing a band collide, so the join is output-bounded; AQE handles hot
  buckets. Hashes are md5-based so the DuckDB oracle reproduces them exactly.
- **SimHash** — per-doc bit-majority fingerprint; near-dups differ in few
  bits. Computed with higher-order functions per row; candidate pairs via
  equality on the fingerprint (or banded substrings at scale).

Every function returns column expressions / DataFrames and never collects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def portable_hash(s: Column | str, salt: str = "", impl: str = "md5") -> Column:
    """Deterministic 32-bit-range hash.

    ``impl="md5"`` (default, the ORACLE path): reproducible in ANSI SQL as
    ``bigint(hex_prefix_8(md5(salt || s)))``; DuckDB twin:
    ``('0x' || substr(md5(salt || s), 1, 8))::BIGINT``.

    ``impl="xxhash64"`` (the BENCH/production path): Spark's native xxHash64
    folded into the same [0, 2^32) range with pmod, so every downstream
    bound (minhash affine rehash < 2^62, shingle combine < 2^52) still
    holds. Not expressible in DuckDB — use only where oracle parity is not
    required; equal blocking power, measured speedup in BASELINE.md.
    """
    c = F.col(s) if isinstance(s, str) else s
    if salt:
        c = F.concat(F.lit(salt), c)
    if impl == "xxhash64":
        return F.pmod(F.xxhash64(c), F.lit(MINHASH_MOD)).cast("bigint")
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def exact_dedup(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """Deterministic keep-one-per-key (D1). ``dropDuplicates`` keeps an
    arbitrary row; this keeps the first under ``order_by`` — reproducible
    across runs/cluster sizes, required for oracle checks and sane pipelines.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def word_shingles(tokens: Column, n: int = 3) -> Column:
    """n-word shingles of a token array (empty if fewer than n tokens).

    Pure higher-order functions — evaluated per row inside codegen, no
    explode. DuckDB twin: ``list_transform(range(1, len(t)-n+2), i -> ...)``.
    """
    idx = F.sequence(F.lit(0), F.size(tokens) - n)
    sh = F.transform(idx, lambda i: F.concat_ws(" ", *[
        F.element_at(tokens, (i + j + 1).cast("int")) for j in range(n)
    ]))
    return F.when(F.size(tokens) >= n, sh).otherwise(F.array().cast("array<string>"))


#: Modulus for the affine rehash family (keeps products inside int64).
MINHASH_MOD = 1 << 32

#: Bound on the per-task distinct-token hash cache inside the Arrow
#: kernels (ADVICE r12): the dict grows with the task's distinct
#: vocabulary across ALL batches of a partition, so a pathological
#: high-vocabulary partition could push the Python worker toward its
#: memory limit at 100 TB. When an insert grows the cache past the cap
#: it is cleared wholesale — token frequency is Zipfian, so the hot
#: head repopulates within a batch and the hit rate barely moves, while
#: worst-case memory is bounded at ~cap x (avg token len + dict entry
#: overhead) ≈ low hundreds of MB. Values are unaffected (the cache is
#: a pure memoization of a deterministic hash).
TOKEN_CACHE_CAP = 1 << 20


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) affine-rehash constants, derived from md5 so
    the DuckDB oracle embeds the identical literals. a_j is odd (invertible
    mod 2^32) and < 2^30 so a*h+b stays below 2^62 (no int64 overflow)."""
    import hashlib

    params = []
    for j in range(k):
        a = (int(hashlib.md5(f"a{j}".encode()).hexdigest()[:8], 16) | 1) & 0x3FFFFFFF
        b = int(hashlib.md5(f"b{j}".encode()).hexdigest()[:8], 16)
        params.append((a, b))
    return params


def minhash_signature(shingles: Column, k: int = 8, impl: str = "md5") -> list[Column]:
    """k min-hash values over a shingle array, one column expression each.

    One md5 per shingle (``portable_hash`` base), then k affine rehashes
    ``sig_j = min over shingles of (a_j * h + b_j) mod 2^32`` — the standard
    universal-hash MinHash construction (Broder 1997): P[sig_j(A)==sig_j(B)]
    ~= J(A,B). Per-row array_min(transform(...)) over a shared base-hash
    array — no shuffle, and the expensive md5 runs once per shingle, not k
    times.
    """
    return minhash_rehash(base_hashes(shingles, impl), k)


def base_hashes(shingles: Column, impl: str = "md5") -> Column:
    """One portable md5 hash per shingle. Materialize this as its own column
    before computing the k rehashes: higher-order functions are interpreted
    (no common-subexpression elimination), so inlining it into each sig
    expression would recompute the md5 pass k times."""
    return F.transform(shingles, lambda s: portable_hash(s, salt="mh:", impl=impl))


#: Shingle-combination constants (mirrored literally in the SQL oracle).
SHINGLE_C1 = 1000003
SHINGLE_C2 = 8191


def shingle_hashes_from_tokens(token_hashes: Column, n: int = 3) -> Column:
    """n-gram shingle hashes combined arithmetically from per-token hashes:
    ``sh[i] = (th[i]*C1 + th[i+1]*C2 + th[i+2]) mod 2^32`` (for n=3).

    Equivalent blocking power to hashing the concatenated shingle string,
    at one md5 per TOKEN instead of one per shingle over a 3x longer
    string, and with no per-shingle string allocation. th < 2^32 and
    C1 < 2^20 keep every product under 2^52 — exact in int64 on any engine.
    """
    idx = F.sequence(F.lit(0), F.size(token_hashes) - n)

    def _combine(i: Column) -> Column:
        acc = None
        for j, c in zip(range(n), (SHINGLE_C1, SHINGLE_C2, 1)):
            term = F.element_at(token_hashes, (i + j + 1).cast("int")) * F.lit(c)
            acc = term if acc is None else acc + term
        return acc % F.lit(MINHASH_MOD)

    return F.when(F.size(token_hashes) >= n, F.transform(idx, _combine)).otherwise(
        F.array().cast("array<bigint>")
    )


def folded_shingle_hashes(token_hashes: Column, n: int) -> Column:
    """General-n shingle hashes via a Horner fold:
    ``h = th[i]; h = (h*C1 + th[i+j]) mod 2^32`` for j = 1..n-1.

    The n=3 fast path above uses two fixed multipliers; this fold extends
    to the longer n-grams decontamination needs (n=5..13) while keeping
    every intermediate below 2^52 (h < 2^32, C1 < 2^20 — exact int64 on
    any engine). DuckDB twin nests the identical expression literally.
    """
    idx = F.sequence(F.lit(0), F.size(token_hashes) - n)

    def _combine(i: Column) -> Column:
        acc = F.element_at(token_hashes, (i + 1).cast("int"))
        for j in range(1, n):
            acc = (acc * F.lit(SHINGLE_C1) + F.element_at(token_hashes, (i + j + 1).cast("int"))) % F.lit(MINHASH_MOD)
        return acc

    return F.when(F.size(token_hashes) >= n, F.transform(idx, _combine)).otherwise(
        F.array().cast("array<bigint>")
    )


def minhash_rehash(hashes: Column, k: int) -> list[Column]:
    """k affine min-rehashes of a base-hash array."""

    def _rehash_fn(a: int, b: int):
        # Closure-bound constants (pyspark HOF lambdas fill extra params
        # with lambda variables, so no default-arg binding).
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_MOD)

    return [F.array_min(F.transform(hashes, _rehash_fn(a, b))) for a, b in minhash_params(k)]


def lsh_bands(sig_cols: list[Column], rows_per_band: int = 2) -> list[Column]:
    """Band signatures: md5 over each group of ``rows_per_band`` signature
    values. Docs agreeing on ANY band become candidates (prob 1-(1-J^r)^b)."""
    bands = []
    for b in range(0, len(sig_cols), rows_per_band):
        group = sig_cols[b : b + rows_per_band]
        bands.append(F.md5(F.concat_ws(",", *[g.cast("string") for g in group])))
    return bands


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    hash_impl: str = "md5",
    max_bucket: int | None = 5_000,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via MinHash+LSH banding.

    Plan shape: project (signatures + band hashes, one pass per row) ->
    posexplode bands -> groupBy (band, band_hash) collecting the (small)
    bucket membership -> per-bucket pair expansion with higher-order
    functions -> distinct pairs. No self-join, so the signature computation
    runs exactly once; the only shuffles are the bucket groupBy and the
    final distinct, both keyed on uniform band hashes. Hot buckets are
    bounded by construction (a bucket = docs agreeing on a band) — for a
    NEAR-DUP corpus. A corpus with large EXACT-duplicate clusters (web
    boilerplate at 100 TB routinely has 100k+ byte-identical pages) puts
    the whole cluster in one bucket per band, and pair expansion is
    quadratic in the bucket: ``max_bucket`` therefore defaults to a loud
    executor-side failure at 5k ids per bucket (the ``max_bench_rows``
    pattern — candidate growth should be measured, never a silent
    blow-up). Run exact dedup first (it collapses those clusters), or
    raise/None the bound deliberately if your near-dup clusters are
    genuinely that large.

    The band rows come from :func:`minhash_band_rows_kernel` (vectorized
    Arrow pass, byte-identical to the expression twin
    :func:`minhash_band_rows`), its parallelism floored at the cluster's
    default parallelism: a small single-file corpus gets a tiny
    round-robin exchange up to cluster width, a real corpus with more
    input splits than cores repartitions nothing.
    """
    bands = minhash_band_rows_kernel(
        df, id_col, text_col, k, rows_per_band, shingle_n, hash_impl,
        min_partitions=df.sparkSession.sparkContext.defaultParallelism,
    )
    buckets = (
        bands.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_set("_id")).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    return bucket_pairs(buckets, max_bucket=max_bucket)


def minhash_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    hash_impl: str = "md5",
) -> DataFrame:
    """(_id, band, band_hash) — one row per (doc, LSH band): the shared
    signature layer under :func:`minhash_lsh_candidates` (within-corpus
    pairing) and :mod:`incdedup`'s persisted band index (cross-snapshot
    dedup). ONE definition so the band construction cannot drift between
    the self-join and the index-join consumers. Docs shorter than
    ``shingle_n`` tokens produce no rows (no shingles, no signature)."""
    toks = F.split(F.col(text_col), " ")
    token_hashed = df.filter(F.size(F.split(F.col(text_col), " ")) >= shingle_n).select(
        F.col(id_col).alias("_id"),
        F.transform(toks, lambda t: portable_hash(t, salt="mh:", impl=hash_impl)).alias("_th"),
    )
    hashed = token_hashed.select(
        "_id", shingle_hashes_from_tokens(F.col("_th"), shingle_n).alias("_hashes")
    )
    sigs = minhash_rehash(F.col("_hashes"), k)
    band_exprs = lsh_bands(sigs, rows_per_band)
    return hashed.select(
        "_id", F.posexplode(F.array(*band_exprs)).alias("band", "band_hash")
    )


def minhash_band_rows_kernel(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    hash_impl: str = "md5",
    min_partitions: int | None = None,
    token_cache_cap: int | None = None,
) -> DataFrame:
    """Arrow-kernel twin of :func:`minhash_band_rows` — same (_id, band,
    band_hash) rows, computed per partition in vectorized numpy instead
    of interpreted JVM higher-order functions (r12 optimization round;
    the :func:`text.winnowing_fingerprints_arrow` precedent).

    Why: the expression form evaluates ~(tokens + shingles x (k+1))
    interpreted lambda steps per document — HOFs don't participate in
    whole-stage codegen — which measured ~4.7 s of the fuzzy-dedup
    composition at sf0.1 (46k docs). Inside the kernel the same
    construction is: one md5 per DISTINCT token per task (dict-cached —
    the corpus vocabulary repeats heavily; the expression form hashes
    every token instance), one vectorized shingle combine, one (k x
    n_shingles) affine matrix rehash + row min, and ``k/rows_per_band``
    band md5s per doc. Values are BYTE-IDENTICAL to the expression form
    (hashlib md5 == Spark md5 on UTF-8 bytes; the numpy xxh64 mirror is
    bit-identical to ``F.xxhash64`` — both already pinned by the
    winnowing kernel) — re-pinned for this kernel in
    tests/test_dedup_similarity.py.

    ``min_partitions``: kernel parallelism equals input partitioning —
    pass the cluster core count for small single-file corpora (tiny
    round-robin exchange of raw rows); leave None at real scale where
    the input already has thousands of splits. The floor is BEST-EFFORT
    under AQE (ADVICE r12): the build-time partition count read here is
    the static pre-AQE number — an upstream shuffle reports
    spark.sql.shuffle.partitions even where AQE later coalesces — so a
    plan that AQE shrinks below the floor at runtime keeps its coalesced
    width. Acceptable by design: the floor targets the single-file
    local-corpus case (a leaf scan, where the static count IS the
    runtime count); repartitioning unconditionally would put a full
    round-robin exchange of the raw corpus into every at-scale plan to
    guard a local-mode edge.

    ``token_cache_cap``: bound on the per-task distinct-token hash cache
    (default :data:`TOKEN_CACHE_CAP`; values unaffected, memory only).
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ..functions.xxhash import xxh64

    if hash_impl not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_impl {hash_impl!r}")
    use_xx = hash_impl == "xxhash64"
    n = shingle_n
    # EXACT expression-path semantics: coefficient j gets the j-th entry
    # of (C1, C2, 1) and zip truncates at three terms (n > 3 combines
    # only the first three positions — replicated verbatim so the kernel
    # can never drift from shingle_hashes_from_tokens).
    coefs = list(zip(range(n), (SHINGLE_C1, SHINGLE_C2, 1)))
    params = minhash_params(k)
    a_vec = np.array([a for a, _ in params], dtype=np.int64).reshape(-1, 1)
    b_vec = np.array([b for _, b in params], dtype=np.int64).reshape(-1, 1)
    n_bands = (k + rows_per_band - 1) // rows_per_band

    id_field = df.schema[id_col]
    integral_id = isinstance(
        id_field.dataType, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    )
    schema = T.StructType(
        [
            T.StructField("_id", id_field.dataType),
            T.StructField("band", T.IntegerType()),
            T.StructField("band_hash", T.StringType()),
        ]
    )
    cache_cap = TOKEN_CACHE_CAP if token_cache_cap is None else token_cache_cap

    def _bands(batches):
        cache: dict = {}

        def tok_hash(t: str) -> int:
            h = cache.get(t)
            if h is None:
                if use_xx:
                    h = xxh64(("mh:" + t).encode("utf-8")) & 0xFFFFFFFF
                else:
                    h = int.from_bytes(
                        hashlib.md5(("mh:" + t).encode("utf-8")).digest()[:4], "big"
                    )
                if len(cache) >= cache_cap:
                    cache.clear()  # bounded memory; Zipfian head repopulates
                cache[t] = h
            return h

        for pdf in batches:
            idx_out: list = []  # input row positions, one per emitted doc row
            band_out: list = []
            hash_out: list = []
            for i, text in enumerate(pdf.iloc[:, 1]):
                if text is None:
                    continue  # upstream filter drops these; belt-and-braces
                toks = text.split(" ")
                m = len(toks) - n + 1
                if m < 1:
                    continue
                th = np.fromiter(
                    (tok_hash(t) for t in toks), dtype=np.int64, count=len(toks)
                )
                sh = np.zeros(m, dtype=np.int64)
                for j, c in coefs:
                    sh += th[j : j + m] * c
                sh %= MINHASH_MOD
                sigs = ((a_vec * sh + b_vec) % MINHASH_MOD).min(axis=1)
                for bidx in range(n_bands):
                    grp = sigs[bidx * rows_per_band : (bidx + 1) * rows_per_band]
                    hash_out.append(
                        hashlib.md5(
                            ",".join(str(int(s)) for s in grp).encode()
                        ).hexdigest()
                    )
                idx_out.extend([i] * n_bands)
                band_out.extend(range(n_bands))
            # _id built from the ORIGINAL pandas values by position (ADVICE
            # r12): a nullable numeric id column arrives as float64 with
            # NaN for NULLs — take() preserves that, and the Int64 cast
            # restores nullable-integer semantics so Arrow emits NULL ids
            # exactly like the expression path (which passes NULL _id rows
            # through). Non-null integral ids round-trip exactly (pandas
            # only widens to float when NULLs are PRESENT; ids < 2^53 —
            # the float64 mantissa — survive that widening losslessly).
            ids = pdf.iloc[:, 0].take(idx_out).reset_index(drop=True)
            if integral_id and ids.dtype.kind == "f":
                ids = ids.astype("Int64")
            yield pd.DataFrame(
                {
                    "_id": ids,
                    "band": pd.Series(band_out, dtype="int32"),
                    "band_hash": pd.Series(hash_out, dtype=object),
                }
            )

    rows = df.filter(
        F.size(F.split(F.col(text_col), " ")) >= shingle_n
    ).select(F.col(id_col), F.col(text_col))
    if min_partitions is not None and rows.rdd.getNumPartitions() < min_partitions:
        rows = rows.repartition(min_partitions)
    return rows.mapInPandas(_bands, schema=schema)


def bucket_pairs(
    buckets: DataFrame,
    ids_col: str = "_ids",
    max_bucket: int | None = None,
    distinct: bool = True,
    carry_cols: list[str] | None = None,
    guard_name: str = "max_bucket",
    guard_hint: str = "re-block or raise the cap",
) -> DataFrame:
    """All ordered (doc_a < doc_b) pairs within each bucket row's sorted id
    array — the shared pair-expansion tail of every blocking operator.
    ids is sorted, so pairing each element with its suffix yields
    doc_a < doc_b without a filter.

    ``max_bucket`` is the loud-degradation guard for skewed key
    distributions: pair expansion is quadratic in bucket size, so a head
    bucket that outgrows the blocker's design bound should FAIL with a
    diagnosable message (executor-side raise_error naming the size), never
    silently attempt an |bucket|^2 array build toward OOM. Unset by default
    because each blocker's bound differs (deletion-neighborhood buckets are
    bounded by construction; LSH band buckets by band width).

    ``carry_cols`` passes per-BUCKET columns through to every emitted pair
    row (e.g. a bucket weight a downstream aggregate sums — see
    graph.link_prediction_features); usually combined with
    ``distinct=False`` since distinct over carried values would conflate
    pair identity with bucket payload.

    ``guard_name``/``guard_hint`` let a wrapping operator keep the
    loud-failure message in ITS vocabulary (link_prediction_features
    names max_center_degree and suggests capping hubs) — a user must see
    the parameter they actually passed, not this kernel's internals."""
    if max_bucket is not None:
        ids = F.col(ids_col)
        buckets = buckets.withColumn(
            ids_col,
            F.when(
                F.size(ids) > max_bucket,
                F.raise_error(
                    F.concat(
                        F.lit("bucket_pairs: bucket of "),
                        F.size(ids).cast("string"),
                        F.lit(f" ids exceeds {guard_name}={max_bucket}; "),
                        F.lit(f"quadratic pair expansion refused — {guard_hint}"),
                    )
                ).cast(buckets.schema[ids_col].dataType.simpleString()),
            ).otherwise(ids),
        )
    pairs = F.flatten(
        F.transform(
            F.col(ids_col),
            lambda x, i: F.transform(
                F.slice(F.col(ids_col), i + 2, F.size(F.col(ids_col))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    carry = list(carry_cols or [])
    out = buckets.select(F.explode(pairs).alias("p"), *carry).select(
        F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"), *carry
    )
    # distinct=False keeps one row per (bucket, pair) co-occurrence — the
    # multiset a counting consumer (e.g. basket.item_cooccurrence) needs.
    return out.distinct() if distinct else out


def deletion_neighborhood_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hash_variants: bool = True,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Candidate pairs for edit distance <= 1 via deletion-neighborhood
    blocking (the SymSpell construction): each string generates itself plus
    every single-character-deletion variant; two strings within edit
    distance 1 (substitution, insertion, or deletion) NECESSARILY share a
    variant, so blocking on the variant is EXACT — recall 1.0 by
    construction, unlike probabilistic LSH.

    This is the right blocker when the verify predicate is edit distance:
    MinHash-LSH bounds Jaccard, and on near-identical corpora (e.g. the
    'Customer#000000042' name space) it either floods candidates or drops
    recall. Measured at sf0.01: char-3-gram MinHash-LSH gives 17-20% of all
    pairs as candidates at recall 0.57-0.65 (k=8..16, r=2) or 4% at recall
    0.17-0.32 (r=3..4); deletion blocking gives ~1.7% at recall 1.0.

    Plan shape: per-row variant array (length+1, deduped) -> posexplode ->
    groupBy variant -> in-bucket pair expansion -> distinct. One shuffle on
    uniform variant keys, no self-join, no crossJoin.

    Bucket bound: the bucket keyed by variant ``v`` holds ``v`` itself plus
    strings formed by inserting ONE character into ``v`` — at most
    ``(len(v)+1) * |alphabet| + 1`` members, INDEPENDENT of corpus row
    count. (On fixed-format key spaces like ``Customer#000000042`` the
    effective alphabet is the digit set, so real buckets run far below the
    bound.) A corpus engineered to saturate one variant's whole insertion
    neighborhood reaches the bound exactly — pinned in
    ``test_dedup_similarity.py`` — and pair expansion there is quadratic in
    the bound, not in corpus size. ``max_bucket`` defaults to 10k — above
    the insertion-neighborhood bound for any realistic key alphabet
    (ASCII alnum x ~100-char keys ~ 6.3k) — so an input that violates
    the model (EXACT-duplicate strings sharing every variant, the one
    shape the construction does not bound) fails loudly instead of
    silently expanding a mega-bucket; exact-dedup first, pass the
    formula above for your alphabet, or raise/None the bound
    deliberately.

    ``hash_variants`` (default) shuffles xxhash64(variant) longs instead of
    the variant strings — fixed 8-byte shuffle keys vs name-length strings,
    the right blocking-key shape at 100 TB. A hash collision can only MERGE
    two buckets, i.e. ADD candidate pairs, and the edit-distance verify
    stage removes them — recall stays 1.0 by the same argument as the
    construction itself (any true distance<=1 pair already shares a real
    variant). Set False only when the bucket keys themselves must be
    human-readable strings.
    """
    name = F.col(text_col)
    variants = F.array_distinct(
        F.concat(
            F.array(name),
            F.transform(
                F.sequence(F.lit(1), F.length(name)),
                lambda i: F.concat(
                    F.substr(name, F.lit(1), i - 1),
                    F.substr(name, i + 1, F.length(name)),
                ),
            ),
        )
    )
    if hash_variants:
        variants = F.transform(variants, lambda v: F.xxhash64(v))
    exploded = df.select(
        F.col(id_col).alias("_id"), F.explode(variants).alias("_v")
    )
    buckets = (
        exploded.groupBy("_v")
        .agg(F.sort_array(F.collect_set("_id")).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    return bucket_pairs(buckets, max_bucket=max_bucket)


def token_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5
) -> DataFrame:
    """Exact token-set Jaccard similarity join via inverted index.

    Returns (id_a, id_b, jaccard) for pairs >= threshold. The self-join on
    token is the inverted-index pattern: cost bounded by posting-list sizes,
    so at scale this runs AFTER LSH blocking (see minhash_lsh_candidates),
    or with frequent-token pruning.

    The exploded (id, tok) posting frame is consumed THREE times (doc
    sizes, both sides of the inverted-index self-join), so a lazy
    ``localCheckpoint`` computes it once instead of re-running the scan +
    tokenize + explode per appearance; the operator's documented regime
    (bounded/blocked windows) keeps the stored posting list small.
    """
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    ).localCheckpoint(eager=False)
    sizes = toks.groupBy("_id").agg(F.count(F.lit(1)).alias("n_tok"))
    a = toks.select(F.col("_id").alias("id_a"), "tok")
    b = toks.select(F.col("_id").alias("id_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("n_tok").alias("n_a"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("n_tok").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(tokens: Column, bits: int = 16, impl: str = "md5") -> Column:
    """SimHash fingerprint (Charikar 2002): for each bit position, sum +-1
    votes of each token's hash bit; the sign vector packs into an int.

    Per-row higher-order functions; near-duplicate docs land within small
    Hamming distance. 16 bits keeps the expression tree small while
    demonstrating the operator; widen via multiple 16-bit words at scale.
    """
    return simhash_from_hashes(
        F.transform(tokens, lambda t: portable_hash(t, salt="sh:", impl=impl)), bits
    )


def simhash_from_hashes(token_hashes: Column, bits: int = 16) -> Column:
    """SimHash from a pre-hashed token array. Prefer materializing the hash
    array in its own projection first (see :func:`with_simhash`): inlined,
    the md5 pass would be re-evaluated once per bit."""

    def _vote_fn(i: int):
        # Closure-bound bit index (see minhash_signature note on lambda arity).
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_cols = []
    for i in range(bits):
        votes = F.aggregate(token_hashes, F.lit(0), _vote_fn(i))
        bit_cols.append(F.when(votes > 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out + c
    return out.cast("bigint")


def with_simhash(
    df: DataFrame, text_col: str, out_col: str = "simhash", bits: int = 16,
    hash_impl: str = "md5",
) -> DataFrame:
    """Add a SimHash fingerprint column: token md5s materialize once in a
    separate projection, then ``bits`` vote-folds read the shared array
    (Catalyst keeps the non-cheap alias un-inlined across the 16 uses)."""
    hashed = df.withColumn(
        "_token_hashes",
        F.transform(F.split(F.col(text_col), " "), lambda t: portable_hash(t, salt="sh:", impl=hash_impl)),
    )
    return hashed.withColumn(out_col, simhash_from_hashes(F.col("_token_hashes"), bits)).drop(
        "_token_hashes"
    )


def simhash_rows_kernel(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "simhash",
    bits: int = 16,
    hash_impl: str = "md5",
    min_partitions: int | None = None,
    token_cache_cap: int | None = None,
) -> DataFrame:
    """(id, simhash) rows via a vectorized Arrow kernel — byte-identical
    to :func:`with_simhash`'s fingerprints (r13 optimization round; the
    :func:`minhash_band_rows_kernel` precedent).

    Why: the expression form folds ``bits`` separate interpreted
    ``aggregate()`` passes over the shared token-hash array — HOFs do
    not participate in whole-stage codegen, so every document pays
    16 x n_tokens interpreted lambda steps even though the md5 pass is
    shared. Inside the kernel the same construction is: one md5 (or
    numpy XXH64) per DISTINCT token per task (bounded dict cache), ONE
    (total_tokens x bits) bit-matrix, and a per-document segmented vote
    reduction (``np.add.reduceat``) — exact int64 arithmetic, so the
    votes and the packed fingerprint are bit-identical (pinned for both
    hash families, non-default widths and the NULL/empty/short edges in
    tests/test_dedup_similarity.py). NULL text -> simhash 0, matching
    the expression path (NULL votes fall through every when() to the
    0-bit branch).

    ``min_partitions`` / ``token_cache_cap``: same semantics (and the
    same best-effort-under-AQE caveat) as
    :func:`minhash_band_rows_kernel`.
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ..functions.xxhash import xxh64

    if hash_impl not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_impl {hash_impl!r}")
    use_xx = hash_impl == "xxhash64"

    id_field = df.schema[id_col]
    integral_id = isinstance(
        id_field.dataType, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    )
    schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType),
            T.StructField(out_col, T.LongType()),
        ]
    )
    cache_cap = TOKEN_CACHE_CAP if token_cache_cap is None else token_cache_cap
    shifts = np.arange(bits, dtype=np.int64)

    def _simhash(batches):
        cache: dict = {}

        def tok_hash(t: str) -> int:
            h = cache.get(t)
            if h is None:
                if use_xx:
                    h = xxh64(("sh:" + t).encode("utf-8")) & 0xFFFFFFFF
                else:
                    h = int.from_bytes(
                        hashlib.md5(("sh:" + t).encode("utf-8")).digest()[:4], "big"
                    )
                if len(cache) >= cache_cap:
                    cache.clear()  # bounded memory; Zipfian head repopulates
                cache[t] = h
            return h

        for pdf in batches:
            texts = pdf.iloc[:, 1]
            sims = np.zeros(len(pdf), dtype=np.int64)  # NULL text -> 0
            hashes: list = []
            rows: list = []  # (row position, token count) per non-null doc
            for i, text in enumerate(texts):
                if text is None:
                    continue
                toks = text.split(" ")
                hashes.extend(tok_hash(t) for t in toks)
                rows.append((i, len(toks)))
            if rows:
                h_all = np.fromiter(hashes, dtype=np.int64, count=len(hashes))
                # (total_tokens x bits) +-1 vote matrix, segment-summed per
                # doc: exact int64 throughout, identical to the fold.
                contrib = (((h_all[:, None] >> shifts) & 1) * 2 - 1).astype(np.int64)
                counts = np.array([c for _, c in rows], dtype=np.int64)
                offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
                votes = np.add.reduceat(contrib, offsets, axis=0)
                packed = ((votes > 0).astype(np.int64) << shifts).sum(axis=1)
                sims[np.array([i for i, _ in rows], dtype=np.int64)] = packed
            ids = pdf.iloc[:, 0].reset_index(drop=True)
            if integral_id and ids.dtype.kind == "f":
                ids = ids.astype("Int64")  # NULL ids survive (kernel parity)
            yield pd.DataFrame({id_col: ids, out_col: pd.Series(sims)})

    rows_in = df.select(F.col(id_col), F.col(text_col))
    if min_partitions is not None and rows_in.rdd.getNumPartitions() < min_partitions:
        rows_in = rows_in.repartition(min_partitions)
    return rows_in.mapInPandas(_simhash, schema=schema)


def soft_dedup_weights(
    df: DataFrame,
    key: Column | str,
    weight_col: str = "sample_weight",
    size_col: str = "dup_cluster_size",
) -> DataFrame:
    """The SOFT alternative to hard dedup: keep every copy, down-weight
    each row by its duplicate-cluster size so the CLUSTER contributes
    unit sampling mass (`weight = 1/n`). Where hard dedup throws away
    ordering/provenance variation between copies, soft dedup preserves
    it for the sampler/loss-weighting stage — the trade-off the dedup
    literature discusses against Lee et al. 2022's removal (repetition's
    training cost, Muennighoff et al. 2023, is paid by WEIGHT here, not
    by epochs).

    ``key`` is the duplicate-cluster key — typically ``text.fingerprint``
    for exact identity or the connected-component label from the
    near-dup stack for fuzzy clusters. NULL keys get weight 1.0 and size
    1 (no identity — never a cluster, the frontier rule).

    Invariant (pinned): ``sum(weight)`` over the corpus ==
    ``countDistinct(key) + count(NULL keys)`` exactly in rounded space —
    every cluster contributes 1.0.

    One hash aggregate + one equi-join on the cluster key (the
    fingerprint-store shape; bucket the frame on the key to make the
    join exchange-free). Weights round to 9 decimals (the
    rounded-before-threshold rule) so downstream engine-portable
    samplers see identical values."""
    k = F.col(key) if isinstance(key, str) else key
    if weight_col in df.columns or size_col in df.columns:
        raise ValueError("soft_dedup_weights: output column already exists")
    if "_sd_key" in df.columns or "_n" in df.columns:
        raise ValueError(
            "soft_dedup_weights: input carries the internal column name "
            "'_sd_key' or '_n' — rename it first (silent overwrite would "
            "corrupt the echoed-back columns)"
        )
    keyed = df.withColumn("_sd_key", k)
    sizes = keyed.groupBy("_sd_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    out = keyed.join(sizes, "_sd_key", "left")
    size = F.when(F.col("_sd_key").isNull(), F.lit(1)).otherwise(F.col("_n"))
    return out.select(
        *df.columns,
        size.cast("bigint").alias(size_col),
        F.round(F.lit(1.0) / size.cast("double"), 9).alias(weight_col),
    )


def cross_source_mirrors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    min_sources: int = 2,
) -> DataFrame:
    """Mirror / syndication detection: the cross-host duplication profile
    a web corpus needs BEFORE a dedup policy is chosen (keep the canonical
    host? down-weight? drop all-but-one?). Groups documents by
    :func:`text.bag_fingerprint` (order- and multiplicity-invariant, so
    reordered mirror pages still collide) and keeps fingerprints seen on
    at least ``min_sources`` DISTINCT sources — within-host duplication
    is ordinary dedup territory, not mirroring, and is excluded by the
    source-count bar rather than by a second scan.

    Output per mirrored fingerprint: ``bag_fp``, ``n_docs`` (copies),
    ``n_sources`` (distinct hosts), ``min_doc_id`` (deterministic
    representative), ``sources_csv`` (sorted host list — the mirror set).

    NULL text has no content identity and is dropped (the frontier rule,
    same as NULL keys in :func:`soft_dedup_weights`).

    Scale shape: ONE fingerprint groupBy (the exact-dedup shuffle) with
    map-side partial aggregation; ``n_sources`` comes from the collected
    source set instead of ``countDistinct`` so the aggregate stays
    hash-based (countDistinct's Expand plan alongside a
    TypedImperativeAggregate buffer drops to SortAggregate — pinned
    elsewhere). ``collect_set(source)`` is bounded by the mirror-set
    size (distinct hosts carrying one content group), not by corpus
    size — the output row itself carries the same list.
    """
    if min_sources < 1:
        raise ValueError(f"cross_source_mirrors: min_sources must be >= 1, got {min_sources}")
    from .text import bag_fingerprint

    keyed = (
        # NULL source carries no host identity: Spark's collect_set drops
        # NULLs while DuckDB's list(DISTINCT) keeps a NULL element, so the
        # contract is explicit — sourceless rows don't count toward the
        # mirror set (filtered in BOTH engines, see MIRROR_DETECTION_ORACLE).
        df.filter(F.col(text_col).isNotNull() & F.col(source_col).isNotNull())
        .select(
            bag_fingerprint(F.col(text_col)).alias("bag_fp"),
            # native id type — a bigint cast would silently NULL string ids
            F.col(id_col).alias("_id"),
            F.col(source_col).alias("_src"),
        )
    )
    grouped = keyed.groupBy("bag_fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("_id").alias("min_doc_id"),
        F.array_sort(F.collect_set("_src")).alias("_srcs"),
    )
    return (
        grouped.select(
            "bag_fp",
            "n_docs",
            F.size("_srcs").cast("bigint").alias("n_sources"),
            "min_doc_id",
            F.concat_ws(",", F.col("_srcs")).alias("sources_csv"),
        )
        .filter(F.col("n_sources") >= min_sources)
    )


def fuzzy_dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float = 0.5,
    k: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    hash_impl: str = "md5",
    max_bucket: int | None = 5_000,
) -> DataFrame:
    """End-to-end fuzzy dedup — the composition a pipeline actually runs:
    :func:`minhash_lsh_candidates` -> EXACT token-Jaccard verification on
    the candidate pairs only (array_intersect/union over two id-keyed
    joins, bounded by candidate count — never the all-pairs inverted
    index of :func:`token_jaccard_pairs`) -> connected components ->
    every input row labeled with ``entity_id`` (min member id) and
    ``is_canonical`` (the deterministic survivor). Keep canonicals for
    hard dedup, or feed ``entity_id`` to :func:`soft_dedup_weights` for
    the weighting alternative.

    NULL text rows are their own singletons (no content identity — the
    frontier rule): they pass through with ``entity_id = id``.

    Shuffle budget: LSH's band groupBy + pair distinct (uniform hash
    keys), two id-keyed joins bounded by duplicated mass, then connected
    components on the verified-pair graph: one bounded Arrow collect,
    and a driver-side union-find when the graph has at most 100k edges
    (the usual case — a 2,000-doc corpus with 10 % planted near-dups
    yields 48 candidate pairs); above that, a per-partition contraction
    plus diameter-bounded hash-min rounds (dup clusters are shallow). The quadratic
    exact-cluster hazard is guarded by ``max_bucket`` (run exact dedup
    first on boilerplate-heavy corpora).
    """
    from .components import resolve_entities

    if not 0.0 <= jaccard_threshold <= 1.0:
        raise ValueError(
            f"fuzzy_dedup_clusters: jaccard_threshold must be in [0, 1], got {jaccard_threshold}"
        )
    cands = minhash_lsh_candidates(
        df, id_col, text_col, k, rows_per_band, shingle_n, hash_impl, max_bucket
    )
    # r13 (VERDICT r12 item 2): the tokenized verify frame feeds BOTH
    # sides of the candidate join (different join keys, so exchange
    # reuse never dedupes them) — each side re-ran scan + tokenize +
    # array_distinct per CC materialization. Lazy localCheckpoint: the
    # first executing job computes it once, the other side reads
    # executor-local blocks (storage policy: SCALE.md "Reused-frame
    # materialization").
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.array_distinct(F.split(F.col(text_col), " ")).alias("_toks")
    ).localCheckpoint(eager=False)
    paired = cands.join(
        toks.select(F.col(id_col).alias("doc_a"), F.col("_toks").alias("_ta")), "doc_a"
    ).join(
        toks.select(F.col(id_col).alias("doc_b"), F.col("_toks").alias("_tb")), "doc_b"
    )
    jac = F.round(
        F.size(F.array_intersect("_ta", "_tb")).cast("double")
        / F.size(F.array_union("_ta", "_tb")),
        6,
    )
    verified = paired.filter(jac >= jaccard_threshold).select("doc_a", "doc_b")
    return resolve_entities(df, verified, id_col, src="doc_a", dst="doc_b")
