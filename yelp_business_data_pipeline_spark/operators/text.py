"""Text-analysis operators for large-scale training-data pipelines
(SURVEY.md §2.9 extension surface; BASELINE.json north-star).

All pure JVM-side column expressions (codegen'd, no UDFs): token counting,
quality scoring, stopword-based language ID, document fingerprinting. Each
has an exact ANSI twin used by the DuckDB oracles in ``plans.extensions``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the heuristic language identifier.
#: Frozen so oracle SQL can embed them literally.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est"),
    "de": ("der", "die", "das", "und", "ein", "ist", "nicht", "mit"),
    "es": ("el", "la", "los", "y", "de", "un", "una", "es"),
}

#: Deterministic preference order for argmax ties.
LANG_ORDER: tuple[str, ...] = ("en", "fr", "de", "es")


def tokens_col(text: Column) -> Column:
    """Whitespace tokens (documents table text is pre-normalized lowercase)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text))


def ws_tokens(text: Column) -> Column:
    """Whitespace tokens with empty segments stripped (space runs,
    leading/trailing spaces) — THE shared tokenizer of the gram/LM/
    retrieval operators (dsir gram stream, BPE word frequencies, the
    perplexity token stream, BM25 postings). ONE definition so token
    semantics cannot drift between those operators and their pinned
    twins; DuckDB twin: ``list_filter(string_split(text, ' '), x -> x
    != '')``. Distinct from :func:`tokens_col`, which keeps empties to
    match the oracle pack's plain ``string_split`` TOKS."""
    return F.array_remove(F.split(text, " "), "")


#: BPE-ish pre-tokenization pattern: letter runs, single digits,
#: punctuation-run singletons — the GPT-2-style split shape reduced to a
#: class-based regex identical under Java regex (Spark) and RE2 (DuckDB).
#: Counting these pieces approximates subword token counts far better than
#: whitespace words (digits and punctuation each cost a token).
BPE_ISH_PATTERN = "[a-z]+|[0-9]|[^a-z0-9 ]"


def bpe_ish_token_count(text: Column) -> Column:
    """Token-budget estimate with a BPE-ish regex (see BPE_ISH_PATTERN).
    DuckDB twin: ``len(regexp_extract_all(text, pattern))``."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


def punct_ratio(text: Column) -> Column:
    """Punctuation density: non-alphanumeric non-space chars / chars —
    boilerplate, ASCII art and markup skew high (a C4-style filter
    signal). Case-insensitive (uppercase letters are NOT punctuation);
    empty/null text scores 0.0 rather than dividing by zero."""
    stripped = F.regexp_replace(text, "[a-zA-Z0-9 ]", "")
    return F.when(
        text.isNull() | (F.length(text) == 0), F.lit(0.0)
    ).otherwise(F.round(F.length(stripped).cast("double") / F.length(text), 6))


def top_token_ratio(text: Column) -> Column:
    """Most-frequent-token share of the document (Gopher-style repetition
    signal: templated/spammy docs concentrate mass on one token).

    Per-row sorted run-length fold — O(n log n) per doc: sort the token
    array once, then ONE aggregate() pass tracking the longest
    equal-token run, which in a sorted array IS the max token
    multiplicity. Values identical to the r12 count-per-distinct-token
    form (array_max over per-distinct-token filter counts), which was
    O(distinct x n) per doc and measured as doc_stats_panel's dominant
    per-row term (r13 optimization round; equality pinned incl. the
    NULL -> NULL / '' -> 1.0 edges in tests/test_gopher.py). For
    book-length docs the explode -> groupBy -> max/sum relational form
    remains the one-shuffle alternative.
    """
    toks = tokens_col(text)
    zero = F.lit(0)
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"),
        zero.alias("best"),
    )

    def _step(acc: Column, t: Column) -> Column:
        run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    best = F.aggregate(F.array_sort(toks), acc0, _step, lambda a: a["best"])
    return F.round(best.cast("double") / F.size(toks), 6)


def distinct_token_ratio(text: Column) -> Column:
    """Lexical diversity: distinct tokens / tokens — a standard quality signal
    (boilerplate and spam skew low)."""
    toks = tokens_col(text)
    return F.round(
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6
    )


def stopword_hits(text: Column, words: tuple[str, ...]) -> Column:
    lex = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens_col(text), lambda t: F.array_contains(lex, t)))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    """Stopword density — classic fluency/quality heuristic (C4-style corpus
    filters keep docs with healthy stopword ratios)."""
    return F.round(
        stopword_hits(text, STOPWORDS[lang]).cast("double") / token_count(text), 6
    )


#: Unicode script ranges as PORTABLE \x{...} character classes — the
#: same escape parses identically under Java regex (Spark) and RE2
#: (DuckDB), verified by the SCRIPT_MIX_ORACLE twin. Basic-plane core
#: blocks per script (the routing tiers a multilingual crawl needs
#: before stopword lang-ID means anything): extend the dict for more.
SCRIPT_RANGES: dict[str, str] = {
    "latin": r"[A-Za-z\x{00C0}-\x{024F}]",
    "cyrillic": r"[\x{0400}-\x{04FF}]",
    "greek": r"[\x{0370}-\x{03FF}]",
    "arabic": r"[\x{0600}-\x{06FF}]",
    "hebrew": r"[\x{0590}-\x{05FF}]",
    "devanagari": r"[\x{0900}-\x{097F}]",
    "cjk": r"[\x{4E00}-\x{9FFF}\x{3400}-\x{4DBF}\x{3040}-\x{30FF}]",
    "hangul": r"[\x{AC00}-\x{D7AF}\x{1100}-\x{11FF}]",
}

#: Deterministic dominant-script tie order (dict order above).
SCRIPT_ORDER: tuple[str, ...] = tuple(SCRIPT_RANGES)


def script_counts(text: Column) -> Column:
    """Per-script character counts as a struct of ints — one codegen'd
    ``regexp_count`` per script, zero shuffles, NULL text -> NULL struct
    fields. The routing layer UNDER :func:`lang_id`: stopword lang-ID is
    meaningless on CJK/Arabic text, so a multilingual pipeline buckets
    by dominant script FIRST and runs per-script identifiers after (the
    fastText-LID replacement tier a 100-TB crawl screens with)."""
    return F.struct(
        *[
            F.regexp_count(text, F.lit(pat)).alias(f"n_{name}")
            for name, pat in SCRIPT_RANGES.items()
        ]
    )


def dominant_script(text: Column, min_chars: int = 1) -> Column:
    """Name of the script with the most characters (ties break in
    SCRIPT_ORDER — stable, engine-portable); ``'none'`` when fewer than
    ``min_chars`` script characters exist (digits/punctuation-only
    rows are a real crawl population and must not pick a script by tie
    accident); NULL text -> NULL."""
    c = script_counts(text)
    total = None
    for name in SCRIPT_ORDER:
        col = c[f"n_{name}"]
        total = col if total is None else total + col
    expr = F.lit(SCRIPT_ORDER[-1])
    for i in range(len(SCRIPT_ORDER) - 2, -1, -1):
        name = SCRIPT_ORDER[i]
        cond = None
        for other in SCRIPT_ORDER[i + 1 :]:
            k = c[f"n_{name}"] >= c[f"n_{other}"]
            cond = k if cond is None else (cond & k)
        expr = F.when(cond, F.lit(name)).otherwise(expr)
    return F.when(
        text.isNotNull(), F.when(total >= min_chars, expr).otherwise(F.lit("none"))
    )


def lang_id(text: Column) -> Column:
    """Argmax-stopword-hits language guess, deterministic tie order
    en > fr > de > es. NULL text identifies as NULL — without the guard
    every NULL comparison would fall through the when-chain to the final
    otherwise and silently label null documents with the LAST language."""
    hits = {lang: stopword_hits(text, STOPWORDS[lang]) for lang in LANG_ORDER}
    expr = F.lit(LANG_ORDER[-1])
    # Build the when-chain back to front so earlier languages win ties.
    for i in range(len(LANG_ORDER) - 2, -1, -1):
        lang = LANG_ORDER[i]
        cond = None
        for other in LANG_ORDER[i + 1 :]:
            c = hits[lang] >= hits[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return F.when(text.isNotNull(), expr)


def unigram_logprob_scores(df, id_col: str, text_col: str):
    """CCNet-style language-model quality scoring with the corpus itself as
    the LM: per-document mean log10 unigram probability (add-one smoothed
    against the corpus vocabulary). Out-of-distribution documents (rare
    vocabulary, garbled text) score strongly negative; fluent in-domain
    text scores near the corpus mode — threshold on the score to filter,
    exactly like CCNet buckets by LM perplexity.

    Relational shape: one explode + token-count groupBy builds the LM,
    PERSISTED so the totals pass and the scoring join reuse it (not two
    corpus scans); the score join shuffles on tok — the vocabulary is
    unbounded (typos, ids), so it is NOT broadcast. The result is
    materialized (localCheckpoint) before returning so the cached LM can
    be released immediately. Returns (id, n_tokens, mean_logprob).
    """
    toks = df.select(F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("tok"))
    lm = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok")).persist()
    try:
        totals = lm.agg(
            F.sum("n_tok").alias("n_total"), F.count(F.lit(1)).alias("n_vocab")
        ).collect()[0]
        if totals.n_total is None:
            # empty corpus (or all-null/empty text): no LM exists — return
            # the empty result frame instead of a driver TypeError
            return (
                df.select(F.col(id_col))
                .limit(0)
                .withColumn("n_tokens", F.lit(0).cast("bigint"))
                .withColumn("mean_logprob", F.lit(None).cast("double"))
            )
        denom = float(totals.n_total + totals.n_vocab)  # add-one smoothing
        scored = toks.join(lm, "tok", "left").withColumn(
            "_lp", F.log10((F.coalesce(F.col("n_tok"), F.lit(0)) + 1) / F.lit(denom))
        )
        return scored.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("_lp"), 6).alias("mean_logprob"),
        ).localCheckpoint()
    finally:
        lm.unpersist()


def chunk_tokens(
    df, id_col: str, text_col: str, chunk_size: int = 128, overlap: int = 16
):
    """Split documents into overlapping token-window chunks — the standard
    context-window prep for training/embedding pipelines.

    Per-row HOF slicing (stride = chunk_size - overlap) then posexplode:
    (id, chunk_idx, chunk_text, n_tokens) rows. A document shorter than
    one chunk yields a single chunk. Zero shuffle — pure per-row fan-out;
    at 100 TB chunking is embarrassingly parallel projection work and the
    chunk stream feeds straight into dedup/embedding stages.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    stride = chunk_size - overlap
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)).cast("double") / stride).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, (i * stride + 1).cast("int"), chunk_size)),
    )
    # Null/empty/whitespace-only documents yield ZERO chunks (split('')
    # is [''], which would otherwise emit a phantom chunk inflating the
    # corpus token budget); posexplode drops the empty array row.
    valid = F.col(text_col).isNotNull() & (F.length(F.trim(F.col(text_col))) > 0)
    chunks = F.when(valid, chunks).otherwise(F.array().cast("array<string>"))
    out = df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
    )
    return out.withColumn("n_tokens", F.size(F.split("chunk_text", " ")))


#: PII patterns for training-data scrubbing — deliberately conservative,
#: class-based regexes that behave identically under Java regex and RE2.
#: Order matters: URLs before emails (an email inside a URL query string
#: would otherwise split), and the greedy phone pattern LAST — dotted IPs
#: and dashed SSNs both match it, so the specific patterns must fire first.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    # separators between digits: up to two of space/dash/paren (real
    # formats pair them, ') '), or a single dot — but never dot-space, so
    # two unrelated numbers at a sentence boundary ('12345678. 87654321')
    # are no longer glued into one giant match
    ("phone", r"\+?[0-9](?:(?:[()\- ]{0,2}|\.)[0-9]){7,}", "<PHONE>"),
)


def redact_pii(text: Column, kinds: tuple[str, ...] | None = None) -> Column:
    """Scrub PII spans (URL / email / phone / IPv4 / SSN) with typed
    placeholder tokens — the standard pre-training scrubbing stage.

    Chained JVM-side regexp_replace (one codegen'd pass per pattern, no
    UDF); ``kinds`` selects a subset in PII_PATTERNS order. At 100 TB this
    is embarrassingly parallel projection work — zero shuffle.
    """
    out = text
    selected = {k for k in kinds} if kinds is not None else None
    for kind, pattern, token in PII_PATTERNS:
        if selected is None or kind in selected:
            out = F.regexp_replace(out, pattern, token)
    return out


def pii_counts(text: Column, kinds: tuple[str, ...] | None = None) -> Column:
    """Map of PII kind -> match count per document (audit companion to
    :func:`redact_pii`: measure before you scrub).

    Counts are taken SEQUENTIALLY on the progressively-redacted text —
    the same precedence as redact_pii — so an SSN or dotted IP is counted
    once under its specific kind, never double-reported by the greedy
    phone pattern. Pass the SAME ``kinds`` subset you pass to redact_pii
    and the audit totals reconcile exactly with what redaction replaces
    (a full-chain count does not describe a subset redaction run)."""
    selected = {k for k in kinds} if kinds is not None else None
    out_kinds, counts = [], []
    cur = text
    for kind, pattern, token in PII_PATTERNS:
        if selected is not None and kind not in selected:
            continue
        out_kinds.append(F.lit(kind))
        counts.append(F.size(F.regexp_extract_all(cur, F.lit(pattern), 0)))
        cur = F.regexp_replace(cur, pattern, token)
    return F.map_from_arrays(F.array(*out_kinds), F.array(*counts))


def repetition_ratio(text: Column, n: int = 3) -> Column:
    """Duplicate word-n-gram fraction: 1 - distinct_ngrams/total_ngrams
    (Gopher / RefinedWeb repetition filter — looped or templated text
    repeats its own n-grams; prose doesn't). 0.0 for docs shorter than n
    tokens. Per-row HOF over the shared shingle machinery, zero shuffle;
    DuckDB twin: 1 - len(list_distinct(g))/len(g) over the same folded
    shingle hashes."""
    from .dedup import folded_shingle_hashes, portable_hash

    toks = tokens_col(text)
    th = F.transform(toks, lambda t: portable_hash(t, salt="mh:"))
    grams = folded_shingle_hashes(th, n)
    return F.when(
        F.size(grams) < 1, F.lit(0.0)
    ).otherwise(
        F.round(
            1 - F.size(F.array_distinct(grams)).cast("double") / F.size(grams), 6
        )
    )


def fingerprint(text: Column, n_tokens: int = 2) -> Column:
    """Prefix-token document fingerprint: md5 of the first ``n_tokens``
    whitespace tokens. A cheap rolling-hash stand-in for near-dup blocking;
    identical in DuckDB (md5 + list_slice + array_to_string)."""
    prefix = F.concat_ws(" ", F.slice(tokens_col(text), 1, n_tokens))
    return F.md5(prefix)


def bag_fingerprint(text: Column) -> Column:
    """Bag-of-words document fingerprint: md5 of the sorted DISTINCT
    whitespace tokens. Order- and multiplicity-invariant, so two docs
    that shuffle or repeat the same vocabulary (mirror pages, syndicated
    boilerplate with reordered blocks) share a fingerprint where the
    prefix :func:`fingerprint` and exact full-text hashes both miss.
    Identical in DuckDB: ``md5(array_to_string(list_sort(list_distinct(
    string_split(text, ' '))), ' '))``. NULL text yields NULL (no
    content identity — never a cluster key; ``concat_ws`` would silently
    fold NULL to the empty-string hash, so the guard is explicit)."""
    bag = F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(text, " "))))
    return F.when(text.isNotNull(), F.md5(bag))


def char_kgram_hashes(text: Column, k: int = 8, impl: str = "md5") -> Column:
    """Portable hash of every character k-gram (empty array for short text).

    The k-gram hash is recomputed per position — O(n*k) instead of the
    sequential rolling-hash O(n): the right trade for a data-parallel
    engine (no cross-position dependency), and md5-portable so the DuckDB
    oracle reproduces the values exactly.
    """
    from .dedup import portable_hash

    n_grams = F.length(text) - (k - 1)
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: portable_hash(F.substring(text, i, F.lit(k)), salt="wn:", impl=impl),
    )
    return F.when(n_grams >= 1, grams).otherwise(F.array().cast("array<bigint>"))


def winnowing_from_hashes(gram_hashes: Column, window: int = 4) -> Column:
    """Winnowing fingerprint selection (Schleimer et al. 2003, the MOSS
    algorithm): the minimum hash of each sliding window of ``window``
    consecutive k-gram hashes, distinct + sorted. Any shared substring of
    length >= k + window - 1 contributes a shared fingerprint — the robust
    containment/near-dup detector a prefix fingerprint can't provide.

    Materialize ``gram_hashes`` in its own projection first (it is
    referenced by both size() and every window slice)."""
    n_windows = F.size(gram_hashes) - (window - 1)
    mins = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda j: F.array_min(F.slice(gram_hashes, j, window)),
    )
    return F.array_sort(
        F.array_distinct(F.when(n_windows >= 1, mins).otherwise(F.array().cast("array<bigint>")))
    )


def winnowing_fingerprints_long(
    df, id_col: str, text_col: str, k: int = 8, window: int = 4,
    hash_impl: str = "md5",
):
    """Winnowing fingerprints in long form: one (id, fp) row per distinct
    fingerprint per document — pure-JVM relational formulation.

    Posexplode the gram hashes to (id, pos, h) rows, take the min over
    each full sliding window with a window frame (ROWS BETWEEN CURRENT
    AND window-1 FOLLOWING), drop tail windows, distinct. Linear, unlike
    the array-typed :func:`winnowing_from_hashes` which re-evaluates the
    gram-hash array per window once Catalyst collapses projections
    (measured 100x slower) — but it pays a doc-id shuffle + sort for a
    computation that is per-document: :func:`winnowing_fingerprints_arrow`
    does the same work shuffle-free (measured 3x faster end-to-end) and
    is the registered-query implementation; this form is the UDF-free
    fallback and the equivalence test's second witness.
    """
    from pyspark.sql import Window

    # max window start = n_grams - window + 1, computable per row from the
    # text length (posexplode emits 0-based pos) — no second window pass.
    grams = df.select(
        F.col(id_col),
        (F.length(text_col) - (k - 1) - window).alias("_last_start"),
        F.posexplode(char_kgram_hashes(F.col(text_col), k, hash_impl)).alias("_pos", "_h"),
    )
    w_frame = Window.partitionBy(id_col).orderBy("_pos").rowsBetween(0, window - 1)
    return (
        grams.withColumn("_wm", F.min("_h").over(w_frame))
        .filter(F.col("_pos") <= F.col("_last_start"))
        .select(F.col(id_col), F.col("_wm").alias("fp"))
        .distinct()
    )


def winnowing_fingerprints_arrow(
    df, id_col: str, text_col: str, k: int = 8, window: int = 4,
    min_partitions: int | None = None, hash_impl: str = "md5",
):
    """Winnowing fingerprints via an Arrow kernel — the zero-shuffle shape.

    Winnowing is per-DOCUMENT computation and a document is one row, so
    the relational form's partitionBy(doc_id) window shuffle+sort moves
    1M+ exploded gram rows only to bring each doc's hashes back together
    — pure overhead. This kernel streams Arrow batches through
    mapInPandas and does hash -> sliding-window min (numpy stride view)
    -> distinct entirely inside the partition. Values are EXACTLY the
    md5 construction the DuckDB oracle reproduces (hashlib md5 ==
    Spark/DuckDB md5; int.from_bytes(digest[:4]) == conv(substr(md5,1,8),16,10),
    cheaper than hexdigest+parse) — pinned
    equal to the relational form in pytest. Measured 3x end-to-end at
    sf0.1 (6.0s -> 2.0s).

    Spark's substring is character-based, so non-ASCII docs take the
    char-slice path; ASCII (the common case) slices bytes directly.

    ``min_partitions``: the kernel's parallelism equals the INPUT
    partitioning — a small corpus in one parquet file runs the whole
    hash pass in a single Python worker. Passing the cluster's core
    count round-robins the raw (id, text) rows first: a tiny exchange
    (the un-exploded rows) that unlocks full-width hashing. At real
    scale the input already has thousands of splits — leave it None and
    the kernel stays literally zero-shuffle.

    ``hash_impl``: the ``portable_hash`` family. ``"md5"`` (default) is
    the oracle-reproducible construction above; ``"xxhash64"`` is the
    production family — reproduced in-kernel by the numpy-vectorized
    XXH64 (``functions/xxhash.py``, bit-identical to ``F.xxhash64``;
    the pmod-2^32 fold is a mask because 2^64 ≡ 0 mod 2^32). Both pinned
    equal to the relational ``winnowing_fingerprints_long`` in pytest.
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ..functions.xxhash import xxh64, xxh64_rows

    if hash_impl not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_impl {hash_impl!r}")
    use_xx = hash_impl == "xxhash64"
    salt = b"wn:"

    id_field = df.schema[id_col]
    schema = T.StructType(
        [T.StructField(id_col, id_field.dataType), T.StructField("fp", T.LongType())]
    )

    def _hash_ascii(b: bytes, n: int) -> np.ndarray:
        if use_xx:
            # (n, len(salt)+k) byte matrix: salt prefix + sliding k-gram view
            arr = np.frombuffer(b, dtype=np.uint8)
            grams = np.lib.stride_tricks.sliding_window_view(arr, k)[:n]
            mat = np.empty((n, len(salt) + k), dtype=np.uint8)
            mat[:, : len(salt)] = np.frombuffer(salt, dtype=np.uint8)
            mat[:, len(salt) :] = grams
            return (xxh64_rows(mat) & np.uint64(0xFFFFFFFF)).astype(np.int64)
        return np.fromiter(
            (int.from_bytes(hashlib.md5(salt + b[i : i + k]).digest()[:4], "big") for i in range(n)),
            dtype=np.int64,
            count=n,
        )

    def _hash_chars(text: str, n: int) -> np.ndarray:
        if use_xx:
            return np.fromiter(
                (xxh64(salt + text[i : i + k].encode("utf-8")) & 0xFFFFFFFF for i in range(n)),
                dtype=np.int64,
                count=n,
            )
        return np.fromiter(
            (
                int.from_bytes(hashlib.md5(salt + text[i : i + k].encode("utf-8")).digest()[:4], "big")
                for i in range(n)
            ),
            dtype=np.int64,
            count=n,
        )

    def _doc_fps(text: str) -> np.ndarray:
        if text is None:  # match the relational form: null text -> no rows
            return np.empty(0, dtype=np.int64)
        if text.isascii():
            b = text.encode("utf-8")
            n = len(b) - k + 1
            if n < window:
                return np.empty(0, dtype=np.int64)
            h = _hash_ascii(b, n)
        else:
            n = len(text) - k + 1
            if n < window:
                return np.empty(0, dtype=np.int64)
            h = _hash_chars(text, n)
        wins = np.lib.stride_tricks.sliding_window_view(h, window).min(axis=1)
        return np.unique(wins)

    def _winnow(batches):
        for pdf in batches:
            ids: list = []
            fps: list = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                u = _doc_fps(text)
                ids.extend([doc_id] * len(u))
                fps.extend(u.tolist())
            yield pd.DataFrame({id_col: ids, "fp": fps})

    rows = df.select(id_col, text_col)
    if min_partitions is not None and rows.rdd.getNumPartitions() < min_partitions:
        rows = rows.repartition(min_partitions)
    return rows.mapInPandas(_winnow, schema=schema)


#: Gopher repetition thresholds (Rae et al. 2021, "Scaling Language
#: Models: Methods, Analysis & Insights from Training Gopher", table A1):
#: a document FAILS when the fraction of characters in the most common
#: word n-gram exceeds the top threshold, or the fraction of characters
#: in duplicated word n-grams exceeds the dup threshold.
GOPHER_TOP_NGRAM_THRESHOLDS: dict[int, float] = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_THRESHOLDS: dict[int, float] = {
    5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10,
}


def _gopher_rows_python(texts, top_ns, dup_ns):
    """Per-doc reference kernel (Counter-based) — the readable spec the
    vectorized kernel is pinned against. Returns {col: list} without the
    id column."""
    from collections import Counter

    out: dict = {c: [] for c in _gopher_cols(top_ns, dup_ns)}
    for text in texts:
        text = text or ""
        words = [w for w in text.split(" ") if w]
        pref = [0]
        for w in words:
            pref.append(pref[-1] + len(w))
        row = {"n_words": len(words), "total_word_chars": pref[-1]}
        for n in top_ns + dup_ns:
            counts: Counter = Counter()
            chars: dict = {}
            for i in range(len(words) - n + 1):
                g = tuple(words[i : i + n])
                counts[g] += 1
                if g not in chars:
                    chars[g] = pref[i + n] - pref[i]
            if n in top_ns:
                row[f"top_{n}gram_chars"] = max(
                    (c * chars[g] for g, c in counts.items()), default=0
                )
            else:
                row[f"dup_{n}gram_chars"] = sum(
                    c * chars[g] for g, c in counts.items() if c > 1
                )
        _gopher_line_row(text, row)
        for c in out:
            out[c].append(row[c])
    return out


def _gopher_line_row(text, row):
    from collections import Counter

    lines = text.split("\n")
    lc = Counter(lines)
    row["n_lines"] = len(lines)
    row["dup_line_count"] = sum(c for c in lc.values() if c > 1)
    row["dup_line_chars"] = sum(c * len(l) for l, c in lc.items() if c > 1)
    row["total_line_chars"] = sum(len(l) for l in lines)


def _gopher_cols(top_ns, dup_ns):
    return (
        ["n_words", "total_word_chars"]
        + [f"top_{n}gram_chars" for n in top_ns]
        + [f"dup_{n}gram_chars" for n in dup_ns]
        + ["n_lines", "dup_line_count", "dup_line_chars", "total_line_chars"]
    )


def _gopher_rows_numpy(texts, top_ns, dup_ns):
    """Batch-vectorized kernel: ONE vocabulary pass over the whole Arrow
    batch, then per-n gram grouping as numpy lexsort + run-length segment
    reduces — no per-position Python tuples/Counter ops (the per-doc
    reference spends ~9 hash-and-count interpreter ops per word; this
    spends one dict op per word plus C sorts). Exact-integer semantics
    identical to :func:`_gopher_rows_python` (fuzz-pinned in
    tests/test_gopher.py; the DuckDB twin and the oracle gate hold it to
    the independent SQL construction).

    Grouping key is the word-CODE sequence (codes from one batch-level
    dict), so gram identity is exact — no hashing collisions. Grams
    never cross documents: position i carries an n-gram iff position
    i+n-1 lies in the same document (vectorized boundary mask)."""
    import numpy as np

    n_docs = len(texts)
    out = {c: None for c in _gopher_cols(top_ns, dup_ns)}
    words_all: list = []
    n_words_per_doc = np.zeros(n_docs, dtype=np.int64)
    line_rows: dict = {
        c: [] for c in ("n_lines", "dup_line_count", "dup_line_chars", "total_line_chars")
    }
    for i, text in enumerate(texts):
        text = text or ""
        ws = [w for w in text.split(" ") if w]
        words_all.extend(ws)
        n_words_per_doc[i] = len(ws)
        row: dict = {}
        _gopher_line_row(text, row)
        for c in line_rows:
            line_rows[c].append(row[c])
    total = len(words_all)
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), n_words_per_doc)
    wlens = np.fromiter((len(w) for w in words_all), dtype=np.int64, count=total)
    cs = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(wlens, out=cs[1:])
    doc_starts = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(n_words_per_doc, out=doc_starts[1:])
    out["n_words"] = n_words_per_doc
    out["total_word_chars"] = cs[doc_starts[1:]] - cs[doc_starts[:-1]]
    vocab: dict = {}
    codes = np.empty(total, dtype=np.int64)
    for i, w in enumerate(words_all):
        codes[i] = vocab.setdefault(w, len(vocab))
    n_codes = max(len(vocab), 1)
    ns = tuple(top_ns) + tuple(dup_ns)
    # exact incremental gram ids, collision-free by construction: the
    # length-k gram at position i is the PAIR (length-(k-1) id at i,
    # word code at i+k-1), packed into one int64 (prev_id * n_codes +
    # code — exact because prev_id < n_prev and code < n_codes) and
    # re-densified with one single-key np.unique sort per k. One sort of
    # <= batch-words int64s per gram length, instead of an n-key lexsort
    # per n — the packing is what makes the vectorized path actually
    # beat the Counter reference (the first cut lost to lexsort cost).
    gid_by_n: dict = {1: (codes, n_codes)}
    cur, n_prev = codes, n_codes
    for k in range(2, (max(ns) if ns else 1) + 1):
        m = total - k + 1
        if m <= 0:
            break
        if n_prev * n_codes >= (1 << 62):
            # Zeroed counters here would falsely PASS maximally repetitive
            # docs through the threshold gate — fail loudly like every
            # other limit in this engine (max_pattern_bytes, max_bench_rows)
            raise ValueError(
                f"gopher repetition kernel: gram-id packing would overflow "
                f"int64 at n={k} ({n_prev} ids x {n_codes} codes); lower "
                "spark.sql.execution.arrow.maxRecordsPerBatch so batches "
                "carry fewer distinct words"
            )
        packed = cur[:m] * n_codes + codes[k - 1 :]
        uniq, inv = np.unique(packed, return_inverse=True)
        cur, n_prev = inv, len(uniq)
        gid_by_n[k] = (cur, n_prev)
    for n in ns:
        col = f"top_{n}gram_chars" if n in top_ns else f"dup_{n}gram_chars"
        res = np.zeros(n_docs, dtype=np.int64)
        out[col] = res
        m = total - n + 1
        if m <= 0 or n not in gid_by_n:
            continue
        gid, n_ids = gid_by_n[n]
        # position i starts an n-gram iff i..i+n-1 stay in one doc
        pos = np.nonzero(doc_idx[:m] == doc_idx[n - 1 :])[0]
        if len(pos) == 0:
            continue
        if n_ids * n_docs >= (1 << 62):
            raise ValueError(
                f"gopher repetition kernel: doc-major key packing would "
                f"overflow int64 at n={n} ({n_ids} gram ids x {n_docs} "
                "docs); lower arrow.maxRecordsPerBatch"
            )
        # doc-major packing -> unique output is sorted by doc, so the
        # per-doc rollup is one reduceat over contiguous segments
        key = doc_idx[pos] * n_ids + gid[pos]
        uq, first_idx, cnts = np.unique(key, return_index=True, return_counts=True)
        p = pos[first_idx]
        mass = cnts * (cs[p + n] - cs[p])
        gdoc = uq // n_ids
        seg_mask = np.zeros(len(uq), dtype=bool)
        seg_mask[0] = True
        seg_mask[1:] = gdoc[1:] != gdoc[:-1]
        seg = np.nonzero(seg_mask)[0]
        present = gdoc[seg]
        if n in top_ns:
            res[present] = np.maximum.reduceat(mass, seg)
        else:
            res[present] = np.add.reduceat(np.where(cnts > 1, mass, 0), seg)
    for c, v in line_rows.items():
        out[c] = v
    return out


def gopher_repetition_metrics(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
    carry: tuple[str, ...] = (),
):
    """Per-document repetition counters behind the Gopher repetition
    filters (Rae et al. 2021 §A1.1): most-common-n-gram character mass,
    duplicated-n-gram character mass, duplicate-line mass.

    Emits raw INTEGER counters, not fractions — cross-engine float
    division is the oracle-drift trap this repo's determinism rules ban;
    derive fractions with :func:`gopher_repetition_flags` (or any
    consumer's own thresholds) from exact ints.

    Definitions (words = non-empty segments between single spaces, the
    documents-table normalization; lines = ``\\n`` segments):

    - ``total_word_chars`` — sum of word lengths (spaces excluded).
    - ``top_{n}gram_chars`` — max over n-grams of count x n-gram word
      chars: the character mass of the most repeated n-gram.
    - ``dup_{n}gram_chars`` — sum over n-grams occurring >1 time of
      count x word chars. Overlapping occurrences double-count (the
      standard public-reproduction relaxation of Gopher's
      position-union definition — may exceed total_word_chars; the
      flags helper clamps via the fraction threshold only).
    - ``n_lines`` / ``dup_line_count`` / ``dup_line_chars`` /
      ``total_line_chars`` — occurrences of lines whose text appears
      more than once (the C4/Gopher duplicate-line family).

    Scale shape: repetition is per-DOCUMENT computation and a document
    is one row, so this is an Arrow ``mapInPandas`` kernel — ZERO
    shuffle, the winnowing_fingerprints_arrow precedent (the relational
    explode+groupBy form would shuffle every n-gram occurrence only to
    regroup rows that never left their document). The kernel is the
    batch-vectorized :func:`_gopher_rows_numpy` (one vocab pass + per-n
    lexsort/segment reduces), fuzz-pinned against the per-doc Counter
    reference :func:`_gopher_rows_python`. Batch memory is O(batch
    words), never corpus-bound. Exact DuckDB twin pinned in
    tests/test_gopher.py.
    """
    import pandas as pd
    from pyspark.sql import types as T

    ns = tuple(top_ns) + tuple(dup_ns)
    if len(set(ns)) != len(ns) or any(n < 1 for n in ns):
        raise ValueError(
            f"gopher_repetition_metrics: n values must be distinct and >= 1, "
            f"got top_ns={top_ns}, dup_ns={dup_ns}"
        )
    id_field = df.schema[id_col]
    cols = _gopher_cols(top_ns, dup_ns)
    # ``carry`` rides extra per-doc columns through the kernel output so
    # panel consumers (source rollups, threshold gates over the text)
    # need NO corpus-on-corpus rejoin to recover them — the kernel
    # already holds the whole row, and a doc_id join of two corpus-sized
    # sides would be the dominant (and undocumented) shuffle at scale.
    schema = T.StructType(
        [T.StructField(id_col, id_field.dataType)]
        + [T.StructField(c, df.schema[c].dataType) for c in carry]
        + [T.StructField(c, T.LongType()) for c in cols]
    )
    top_t, dup_t = tuple(top_ns), tuple(dup_ns)
    carry_t = tuple(carry)

    def _metrics(batches):
        for pdf in batches:
            out = _gopher_rows_numpy(pdf[text_col].tolist(), top_t, dup_t)
            yield pd.DataFrame(
                {id_col: pdf[id_col], **{c: pdf[c] for c in carry_t}, **out}
            )

    in_cols = [id_col, *[c for c in carry_t if c != id_col]]
    if text_col not in in_cols:
        in_cols.append(text_col)
    return df.select(*in_cols).mapInPandas(_metrics, schema=schema)


def gopher_repetition_flags(
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
    thresholds: dict[int, float] | None = None,
) -> Column:
    """``passes_gopher_repetition`` expression over the counter columns of
    :func:`gopher_repetition_metrics` — JVM-side, codegen'd: a document
    passes when EVERY per-n character fraction is at or under its Gopher
    threshold (empty documents pass; 0/0 counts as 0). Compose with the
    other quality columns (stopword_ratio, punct_ratio, repetition_ratio)
    for a full quality gate.

    The published Gopher thresholds only cover top_ns (2,3,4) and dup_ns
    (5..10); ``gopher_repetition_metrics`` accepts arbitrary n, so a
    caller using other n values must supply their own ``thresholds``
    mapping (n -> max allowed character fraction) — n values with no
    threshold raise a ValueError here rather than a bare KeyError."""
    cond = F.lit(True)
    for n in top_ns:
        thr = (thresholds or {}).get(n, GOPHER_TOP_NGRAM_THRESHOLDS.get(n))
        if thr is None:
            raise ValueError(
                f"gopher_repetition_flags: no threshold for top n={n} — the "
                f"published Gopher table covers {sorted(GOPHER_TOP_NGRAM_THRESHOLDS)}; "
                "pass thresholds={n: fraction} for other n values"
            )
        cond = cond & (
            F.col(f"top_{n}gram_chars")
            <= F.lit(thr) * F.col("total_word_chars")
        )
    for n in dup_ns:
        thr = (thresholds or {}).get(n, GOPHER_DUP_NGRAM_THRESHOLDS.get(n))
        if thr is None:
            raise ValueError(
                f"gopher_repetition_flags: no threshold for dup n={n} — the "
                f"published Gopher table covers {sorted(GOPHER_DUP_NGRAM_THRESHOLDS)}; "
                "pass thresholds={n: fraction} for other n values"
            )
        cond = cond & (
            F.col(f"dup_{n}gram_chars")
            <= F.lit(thr) * F.col("total_word_chars")
        )
    return cond


#: Gopher QUALITY-filter stopwords (Rae et al. 2021 A1.1: "contains at
#: least two of the following English words" — the must-have-prose tell).
GOPHER_QUALITY_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_quality_flags(
    text: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> Column:
    """The Gopher QUALITY filters (Rae et al. 2021 A1.1 — the
    non-repetition half; :func:`gopher_repetition_flags` is the other) as
    ONE struct of pure JVM expressions — no UDF, no shuffle, codegen'd:

    - ``ok_word_count`` — word count in [min_words, max_words].
    - ``ok_mean_word_len`` — mean word length in [3, 10] chars.
    - ``ok_symbol_ratio`` — (# of ``#`` chars + non-overlapping ``...``
      occurrences) / words <= 0.1 (the hash/ellipsis symbol screen).
    - ``ok_bullet_lines`` / ``ok_ellipsis_lines`` — at most 90% of lines
      start with a bullet (``-``, ``*``); at most 30% end with an
      ellipsis.
    - ``ok_alpha_words`` — >= 80% of words contain an alphabetic char.
    - ``ok_stopwords`` — >= 2 distinct :data:`GOPHER_QUALITY_STOPWORDS`
      present (word-exact, not substring).
    - ``passes_gopher_quality`` — the conjunction.

    Conventions shared with the repetition kernel: words are non-empty
    single-space segments (so they may carry newlines — char counts use
    ``replace(text, ' ', '')``), lines are ``\\n`` segments. NULL/empty
    text FAILS (zero words is below ``min_words``) — unlike the
    repetition gate, where an empty doc trivially passes; Gopher's
    quality table is explicitly a length gate among other things. Ratios
    compare as ``count <= frac * n`` in integers-times-double, the exact
    cross-engine-safe form the repetition flags use.
    """
    t = F.coalesce(text, F.lit(""))
    words = F.filter(F.split(t, " "), lambda w: w != "")
    n_words = F.size(words)
    word_chars = F.length(F.regexp_replace(t, " ", ""))
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    n_hash = F.length(t) - F.length(F.regexp_replace(t, "#", ""))
    n_ellipsis = F.floor(
        (F.length(t) - F.length(F.replace(t, F.lit("...")))) / F.lit(3)
    )
    n_bullet = F.size(
        F.filter(lines, lambda l: F.ltrim(l).rlike("^[-*•]"))
    )
    n_ell_end = F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("...")))
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    sw_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_QUALITY_STOPWORDS]),
            lambda s: F.array_contains(words, s),
        )
    )
    ok_word_count = (n_words >= min_words) & (n_words <= max_words)
    # mean-word-len bounds as integer cross-multiplication: no division
    ok_mwl = (word_chars >= F.lit(min_mean_word_len) * n_words) & (
        word_chars <= F.lit(max_mean_word_len) * n_words
    )
    ok_symbol = (n_hash + n_ellipsis) <= F.lit(max_symbol_word_ratio) * n_words
    ok_bullet = n_bullet <= F.lit(max_bullet_line_frac) * n_lines
    ok_ell = n_ell_end <= F.lit(max_ellipsis_line_frac) * n_lines
    ok_alpha = n_alpha >= F.lit(min_alpha_word_frac) * n_words
    ok_sw = sw_hits >= min_stopword_hits
    return F.struct(
        n_words.alias("n_words"),
        ok_word_count.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_symbol.alias("ok_symbol_ratio"),
        ok_bullet.alias("ok_bullet_lines"),
        ok_ell.alias("ok_ellipsis_lines"),
        ok_alpha.alias("ok_alpha_words"),
        ok_sw.alias("ok_stopwords"),
        (
            ok_word_count & ok_mwl & ok_symbol & ok_bullet & ok_ell & ok_alpha & ok_sw
        ).alias("passes_gopher_quality"),
    )


#: C4 policy-boilerplate phrases (Raffel et al. 2020 §2.2 — pages whose
#: lines carry these are cookie/ToS boilerplate, not prose).
C4_POLICY_PHRASES: tuple[str, ...] = (
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
)

#: Line terminators C4 treats as "ends in terminal punctuation".
C4_TERMINAL = ('.', '!', '?', '"')


def c4_kept_lines(text: Column, min_words: int = 5) -> Column:
    """The C4 line filter (Raffel et al. 2020 §2.2) as a pure JVM
    expression: of the document's ``\\n``-separated lines, keep those
    that end in terminal punctuation (``. ! ? "``), contain at least
    ``min_words`` whitespace words, and do not contain the word
    "javascript" (lowercase input assumed — the documents-table
    normalization; wrap with ``F.lower`` otherwise). Returns the kept
    ARRAY of lines — join with ``array_join(.., '\\n')`` to rebuild the
    cleaned text, or ``size()`` it for the sentence-count gate.

    Codegen'd filter over a split — no UDF, no shuffle; the DuckDB twin
    is the same list_filter construction (pinned in tests/test_c4.py).
    """
    lines = F.split(text, "\n")
    trimmed = lambda l: F.rtrim(l)  # noqa: E731 — shared by both predicates
    return F.filter(
        lines,
        lambda l: (
            F.substring(trimmed(l), -1, 1).isin(*C4_TERMINAL)
            & (F.size(F.filter(F.split(F.trim(l), " +"), lambda w: w != "")) >= min_words)
            & ~F.contains(l, F.lit("javascript"))
        ),
    )


def blocklist_pattern(words: list[str] | tuple[str, ...]) -> str:
    """Compile a word blocklist into ONE portable whole-word regex —
    class-based boundaries (``[a-z0-9]``), no lookaround, no ``\\b``, so
    the same pattern means the same thing under Java regex (Spark) and
    RE2 (DuckDB) — the TRACKING_PARAM_RE portability rule. Lowercase
    input assumed (the c4-family convention). Regex metacharacters in
    words are escaped conservatively; multi-word entries match across
    their literal spaces (the LDNOOBW list has such entries)."""
    if not words:
        raise ValueError("blocklist_pattern: empty word list — pass None "
                         "to c4_doc_flags instead of an empty blocklist")
    esc = []
    for w in words:
        if not w:
            raise ValueError("blocklist_pattern: empty string in blocklist")
        esc.append("".join(c if c.isalnum() or c == " " else "\\" + c for c in w))
    return "(^|[^a-z0-9])(" + "|".join(esc) + ")($|[^a-z0-9])"


def blocklist_hit(text: Column, words: list[str] | tuple[str, ...]) -> Column:
    """True when the text contains any blocklist word as a WHOLE word
    (``class`` never trips an ``ass`` entry — C4's documented filter is
    word-level, not substring). One codegen'd rlike per row; a ~400-word
    list (the published C4 recipe uses the LDNOOBW list — PUBLIC data
    this engine deliberately does not ship; deployments pass the list
    they vendor) compiles to one alternation scanned C-side."""
    return text.rlike(blocklist_pattern(words))


def c4_doc_flags(
    text: Column,
    min_kept_lines: int = 3,
    min_words: int = 5,
    blocklist: list[str] | tuple[str, ...] | None = None,
) -> Column:
    """C4 document-level gate as a struct of booleans (all JVM exprs):

    - ``has_lorem_ipsum`` / ``has_curly_brace`` — C4 drops any page with
      the placeholder text or a ``{`` (source-code tell).
    - ``has_policy_phrase`` — any :data:`C4_POLICY_PHRASES` hit.
    - ``n_kept_lines`` — surviving :func:`c4_kept_lines` count; C4 keeps
      pages with at least ``min_kept_lines`` (its 3-sentence floor).
    - ``has_blocklist_word`` (only when ``blocklist`` is supplied — the
      field is ABSENT otherwise so existing consumers' struct schemas
      are byte-stable): the C4 recipe's bad-words page filter
      (:func:`blocklist_hit`; the engine ships no list — the PSL-table
      convention).
    - ``passes_c4`` — the combined verdict (includes the blocklist leg
      when supplied).

    Lowercase input assumed, as in :func:`c4_kept_lines`.
    """
    lorem = F.contains(text, F.lit("lorem ipsum"))
    curly = F.contains(text, F.lit("{"))
    policy = F.lit(False)
    for p in C4_POLICY_PHRASES:
        policy = policy | F.contains(text, F.lit(p))
    kept = F.size(c4_kept_lines(text, min_words))
    fields = [
        lorem.alias("has_lorem_ipsum"),
        curly.alias("has_curly_brace"),
        policy.alias("has_policy_phrase"),
        kept.alias("n_kept_lines"),
    ]
    verdict = ~lorem & ~curly & ~policy & (kept >= F.lit(min_kept_lines))
    if blocklist is not None:
        bad = blocklist_hit(text, blocklist)
        fields.append(bad.alias("has_blocklist_word"))
        verdict = verdict & ~bad
    return F.struct(*fields, verdict.alias("passes_c4"))


def c4_span_dedup(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_lines: int = 3,
    out_col: str = "clean",
):
    """C4's corpus-wide span deduplication (Raffel et al. 2020 §2.2:
    "we discarded all but one of any three-[sentence] span occurring more
    than once in the data set") — the other half of the C4 stage next to
    :func:`c4_kept_lines`. Sentence proxy: the document's ``\\n`` lines,
    the same unit the rest of the c4 family uses.

    Semantics (deterministic, layout-free):

    - every run of ``span_lines`` consecutive lines is a span; its key is
      the full md5 of the joined lines (no truncated-hash collisions);
    - for each span text occurring more than once in the CORPUS, the
      single occurrence with the smallest ``(id, start)`` wins and keeps
      its lines; every other occurrence marks its lines for removal;
    - a doc's cleaned text drops the union of its marked line indexes
      (overlapping losing spans union, the ExactSubstr interval rule),
      so one pass never leaves a partial duplicate behind.

    Single pass by design, like C4 itself: removal can create NEW
    adjacencies whose spans were never compared — C4 does not iterate,
    and neither does this.

    Spark shape at 100 TB: one posexplode carries only ``(id, start,
    md5)`` — never span text — into a partial-agg'd groupBy(hash) that
    keeps ONLY hashes with 2+ occurrences (the duplicated fraction, tiny
    on a deduped corpus); losers join back on the hash, collapse to a
    per-doc drop-index set (bounded by the doc's own line count), and one
    final join rebuilds the text with an indexed ``F.filter`` — JVM
    expressions end to end, no UDF, no window over the corpus. DuckDB
    twin: C4_SPAN_DEDUP_ORACLE (plans/extensions.py), re-deriving spans,
    winners, and the rebuilt text from scratch.

    Returns ``df`` + ``out_col`` (cleaned text) + ``lines_removed``.
    ``id_col`` must be non-null and orderable (the winner rule).
    """
    if span_lines < 1:
        raise ValueError(f"c4_span_dedup: span_lines must be >= 1, got {span_lines}")
    if out_col in df.columns or "lines_removed" in df.columns:
        raise ValueError("c4_span_dedup: output column already exists")
    lines = F.split(F.col(text_col), "\n")
    d = df.withColumn("_lines", lines)
    # span start indexes 0..n_lines-span_lines (empty when too short;
    # NEVER F.sequence with start > stop — Spark generates DESCENDING)
    starts = F.when(
        F.size("_lines") >= span_lines,
        F.sequence(F.lit(0), F.size("_lines") - span_lines),
    ).otherwise(F.array().cast("array<int>"))
    span_hashes = F.transform(
        starts,
        lambda i: F.md5(F.array_join(F.slice("_lines", i + 1, span_lines), "\n")),
    )
    occ = d.select(
        F.col(id_col).alias("_id"),
        F.posexplode(span_hashes).alias("_pos", "_h"),
    )
    dup_winners = (
        occ.groupBy("_h")
        .agg(
            F.min(F.struct(F.col("_id").alias("i"), F.col("_pos").alias("p"))).alias("_win"),
            F.count(F.lit(1)).alias("_n"),
        )
        .filter(F.col("_n") > 1)
        .select("_h", "_win")
    )
    losers = occ.join(dup_winners, "_h").filter(
        ~((F.col("_id") == F.col("_win.i")) & (F.col("_pos") == F.col("_win.p")))
    )
    drops = (
        losers.select(
            "_id",
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + F.lit(span_lines - 1))
            ).alias("_li"),
        )
        .groupBy("_id")
        .agg(F.collect_set("_li").alias("_drop"))
    )
    joined = d.join(
        drops, on=F.col(id_col) == F.col("_id"), how="left"
    )
    kept = F.filter(
        F.col("_lines"), lambda l, i: ~F.array_contains(F.col("_drop"), i)
    )
    return joined.select(
        *df.columns,
        F.when(F.col("_drop").isNull(), F.col(text_col))
        .otherwise(F.array_join(kept, "\n"))
        .alias(out_col),
        F.coalesce(F.size("_drop"), F.lit(0)).alias("lines_removed"),
    )


def compression_signal(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
    carry: tuple[str, ...] = (),
):
    """Per-document DEFLATE compressibility — the RedPajama-V2 / Dolma
    quality signal the ratio-based heuristics can't substitute: highly
    compressible text is templated/repetitive boilerplate, while
    near-incompressible "text" is usually minified code, base64 blobs, or
    binary junk. Both tails are what a pretrain screen wants to route out.

    Emits raw integers — ``utf8_bytes`` (encoded length) and
    ``deflate_bytes`` (``zlib.compress(_, level)`` length) — plus the raw
    ``compress_ratio`` division (no Python-side rounding, per the
    determinism rules; consumers threshold on the integer pair when they
    need engine-portable cuts). NULL text carries no signal: all three
    outputs are NULL (the row survives — absence is visible, not dropped).
    Empty text compresses to the 8-byte DEFLATE header; its ratio is NULL
    (0/0), never infinity.

    Scale shape: compression is per-document work on a single row, so
    this is an Arrow ``mapInPandas`` kernel — ZERO shuffle (the
    gopher_repetition_metrics precedent), batch memory O(batch bytes).
    ``carry`` rides grouping columns through so panel rollups need no
    corpus-on-corpus rejoin. DEFLATE output is deterministic for a fixed
    (level, zlib build) but has no SQL form — verification is the
    python-model recompute pin in tests/test_compression.py, and the
    registered panel is rows-only by design (documented, not hidden).
    """
    import pandas as pd
    import zlib

    from pyspark.sql import types as T

    if not 0 <= level <= 9:
        raise ValueError(f"compression_signal: zlib level must be in [0, 9], got {level}")
    reserved = {"utf8_bytes", "deflate_bytes", "compress_ratio"}
    clash = reserved & ({id_col, *carry})
    if clash:
        raise ValueError(
            f"compression_signal: id/carry columns collide with output columns: {sorted(clash)}"
        )
    id_field = df.schema[id_col]
    schema = T.StructType(
        [T.StructField(id_col, id_field.dataType)]
        + [T.StructField(c, df.schema[c].dataType) for c in carry]
        + [
            T.StructField("utf8_bytes", T.LongType()),
            T.StructField("deflate_bytes", T.LongType()),
            T.StructField("compress_ratio", T.DoubleType()),
        ]
    )
    carry_t = tuple(carry)
    lvl = int(level)

    def _signal(batches):
        for pdf in batches:
            ub, db, ratio = [], [], []
            for t in pdf[text_col]:
                if t is None:
                    ub.append(None), db.append(None), ratio.append(None)
                    continue
                raw = t.encode("utf-8")
                comp = len(zlib.compress(raw, lvl))
                ub.append(len(raw))
                db.append(comp)
                ratio.append(comp / len(raw) if raw else None)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    **{c: pdf[c] for c in carry_t},
                    "utf8_bytes": pd.array(ub, dtype="Int64"),
                    "deflate_bytes": pd.array(db, dtype="Int64"),
                    "compress_ratio": pd.array(ratio, dtype="Float64"),
                }
            )

    in_cols = [id_col, *[c for c in carry_t if c != id_col]]
    if text_col not in in_cols:
        in_cols.append(text_col)
    return df.select(*in_cols).mapInPandas(_signal, schema=schema)


def compression_rollup(
    sig,
    group_cols: tuple[str, ...] = ("lang",),
    lo_pct: int = 45,
    hi_pct: int = 85,
):
    """Per-group rollup of a :func:`compression_signal` frame — the
    SQL-expressible HALF of the compressibility profile, factored out so
    it can be exactness-gated independently of the DEFLATE kernel (the
    pca_apply_panel precedent: eigh stays model-pinned, the distributed
    halves get exact twins). Input needs ``utf8_bytes`` / ``deflate_bytes``
    plus the group columns; emits per-group doc count, exact BIGINT byte
    sums, both tail buckets cut on integer cross-products
    (``deflate*100 < utf8*lo_pct`` / ``> utf8*hi_pct`` — engine- and
    layout-portable, no float thresholds), and ONE corpus-ratio division
    over the exact sums (never an order-dependent float mean). Empty text
    is ABSENCE (the kernel's NULL-ratio policy): both cuts require
    ``utf8_bytes > 0``, so empty docs land in neither tail; an all-empty
    group's ``corpus_ratio`` is NULL for the same reason.

    Shuffle budget: one tiny groupBy over the group columns — scales.
    """
    if not 0 < lo_pct < hi_pct < 100:
        raise ValueError(
            f"compression_rollup: need 0 < lo_pct < hi_pct < 100, got ({lo_pct}, {hi_pct})"
        )
    nonempty = F.col("utf8_bytes") > 0
    return (
        sig.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("utf8_bytes").cast("bigint").alias("utf8_bytes"),
            F.sum("deflate_bytes").cast("bigint").alias("deflate_bytes"),
            F.sum(
                (nonempty & (F.col("deflate_bytes") * 100 < F.col("utf8_bytes") * lo_pct)).cast("long")
            ).cast("bigint").alias("n_too_compressible"),
            F.sum(
                (nonempty & (F.col("deflate_bytes") * 100 > F.col("utf8_bytes") * hi_pct)).cast("long")
            ).cast("bigint").alias("n_incompressible"),
        )
        .withColumn(
            "corpus_ratio",
            F.when(
                F.col("utf8_bytes") > 0,
                F.col("deflate_bytes").cast("double") / F.col("utf8_bytes"),
            ),
        )
    )
