"""LLM-data-pipeline query pack (SURVEY.md §2.9; BASELINE.json north-star):
dedup (exact / MinHash-LSH / SimHash / Jaccard), similarity search, text
analysis — over the driver's ``documents`` and ``embeddings`` tables.

Oracle parity: sketch hashes use ``operators.dedup.portable_hash`` (md5-based)
so even MinHash/SimHash are exactly reproducible in DuckDB; only the
LSH-bucketed ANN variant ships without an oracle (rows-only check) because
its hyperplane literals would bloat the SQL — its recall is pytest-verified
against the brute-force oracle instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sentiment import sentiment_label_expr, sentiment_oracle_sql, sentiment_score_expr
from ..operators import dedup as dd
from ..operators import similarity as sim
from ..operators import text as tx
from .registry import query, swap_gate_slot, tbl

# ---------------------------------------------------------------------------
# SQL helpers (DuckDB dialect) mirroring the operators' portable expressions
# ---------------------------------------------------------------------------

TOKS = "string_split(text, ' ')"


def _sql_hash(expr: str, salt: str) -> str:
    return f"(('0x' || substr(md5('{salt}' || {expr}), 1, 8))::BIGINT)"


def _sql_shingle_hashes() -> str:
    from ..operators.dedup import MINHASH_MOD, SHINGLE_C1, SHINGLE_C2

    return (
        f"list_transform(range(1, len(th) - 1), "
        f"i -> (th[i] * {SHINGLE_C1} + th[i+1] * {SHINGLE_C2} + th[i+2]) % {MINHASH_MOD})"
    )


def _sql_folded_shingles(n: int) -> str:
    """DuckDB twin of ``dedup.folded_shingle_hashes`` — generated by the
    same Horner fold so the nesting cannot drift from the operator."""
    from ..operators.dedup import MINHASH_MOD, SHINGLE_C1

    acc = "th[i]"
    for j in range(1, n):
        acc = f"(({acc}) * {SHINGLE_C1} + th[i+{j}]) % {MINHASH_MOD}"
    return f"list_transform(range(1, len(th) - {n - 2}), i -> {acc})"


def _sql_duplicate_spans(k: int = 5, min_count: int = 2) -> str:
    """DuckDB twin of ``selfdedup.duplicate_spans`` (spans CTE chain, no
    final SELECT) — generated from the same Horner fold and the same
    interval-union window so neither can drift from the operator."""
    return f"""
    WITH tokh AS (
      SELECT doc_id,
             list_transform({TOKS}, tok -> {_sql_hash('tok', 'mh:')}) AS th
      FROM documents WHERE len({TOKS}) >= {k}
    ), grams AS (
      SELECT doc_id,
             unnest(range(1, len(th) - {k - 2})) - 1 AS pos,
             unnest({_sql_folded_shingles(k)}) AS gh
      FROM tokh
    ), occ AS (
      SELECT gh, count(*) AS occ FROM grams GROUP BY gh
      HAVING count(*) >= {min_count}
    ), marked AS (
      SELECT g.doc_id, g.pos, o.occ FROM grams g JOIN occ o USING (gh)
    ), flagged AS (
      SELECT doc_id, pos, occ,
             CASE WHEN max(pos + {k}) OVER w IS NULL
                    OR pos > max(pos + {k}) OVER w THEN 1 ELSE 0 END AS _new
      FROM marked
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), sp AS (
      SELECT doc_id, pos, occ,
             sum(_new) OVER (PARTITION BY doc_id ORDER BY pos) AS _span
      FROM flagged
    ), spans AS (
      SELECT doc_id, min(pos) AS span_start, max(pos) + {k} AS span_end,
             max(pos) + {k} - min(pos) AS span_tokens,
             count(*) AS n_grams, max(occ) AS max_occurrences
      FROM sp GROUP BY doc_id, _span
    )"""


def _sql_band_ctes(src: str = "documents", p: str = "", k: int = 8, rows_per_band: int = 2) -> str:
    """CTE chain ending in ``{p}bands(doc_id, band, band_hash)`` over the
    relation ``src`` — the DuckDB mirror of ``dedup.minhash_band_rows``,
    shared by the within-corpus minhash twin and the incremental-dedup
    twin so the band construction cannot drift between them."""
    from ..operators.dedup import MINHASH_MOD, SHINGLE_C1, SHINGLE_C2, minhash_params

    sigs = ",\n      ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_MOD})) AS s{j}"
        for j, (a, b) in enumerate(minhash_params(k))
    )
    band_selects = []
    for bi, b in enumerate(range(0, k, rows_per_band)):
        cols = " || ',' || ".join(f"s{j}::VARCHAR" for j in range(b, b + rows_per_band))
        band_selects.append(
            f"SELECT doc_id, {bi} AS band, md5({cols}) AS band_hash FROM {p}sig"
        )
    bands = "\n      UNION ALL\n      ".join(band_selects)
    shingle = (
        f"(th[i] * {SHINGLE_C1} + th[i+1] * {SHINGLE_C2} + th[i+2]) % {MINHASH_MOD}"
    )
    return f"""{p}toks AS (
      SELECT doc_id, {TOKS} AS t FROM {src} WHERE len({TOKS}) >= 3
    ), {p}tokh AS (
      SELECT doc_id, list_transform(t, tok -> {_sql_hash('tok', 'mh:')}) AS th FROM {p}toks
    ), {p}hsh AS (
      SELECT doc_id, list_transform(range(1, len(th) - 1), i -> {shingle}) AS hs FROM {p}tokh
    ), {p}sig AS (
      SELECT doc_id,
      {sigs}
      FROM {p}hsh
    ), {p}bands AS (
      {bands}
    )"""


def _sql_minhash_bands(k: int = 8, rows_per_band: int = 2) -> str:
    return f"""
    WITH {_sql_band_ctes('documents', '', k, rows_per_band)}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    """


def _sql_simhash(bits: int = 16) -> str:
    words = []
    for i in range(bits):
        vote = (
            f"list_sum(list_transform({TOKS}, t -> "
            f"CASE WHEN ({_sql_hash('t', 'sh:')} >> {i}) & 1 = 1 THEN 1 ELSE -1 END))"
        )
        words.append(f"CASE WHEN {vote} > 0 THEN {1 << i} ELSE 0 END")
    total = " + ".join(words)
    return f"SELECT doc_id, CAST({total} AS BIGINT) AS simhash FROM documents"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def _sql_lang_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in tx.STOPWORDS[lang])
    return f"len(list_filter({TOKS}, t -> list_contains([{words}], t)))"


def _sql_guessed_lang() -> str:
    """Stopword-hit argmax with the deterministic en>fr>de>es tie order —
    the SQL twin of ``tx.lang_id``. NULL text guards to NULL explicitly:
    without it, every WHEN comparison is NULL (falsy) and the CASE would
    fall through to ``ELSE 'es'`` while Spark's lang_id returns NULL —
    exactly the hazard tx.lang_id's docstring names."""
    return f"""CASE
               WHEN text IS NULL THEN NULL
               WHEN {_sql_lang_hits('en')} >= {_sql_lang_hits('fr')}
                AND {_sql_lang_hits('en')} >= {_sql_lang_hits('de')}
                AND {_sql_lang_hits('en')} >= {_sql_lang_hits('es')} THEN 'en'
               WHEN {_sql_lang_hits('fr')} >= {_sql_lang_hits('de')}
                AND {_sql_lang_hits('fr')} >= {_sql_lang_hits('es')} THEN 'fr'
               WHEN {_sql_lang_hits('de')} >= {_sql_lang_hits('es')} THEN 'de'
               ELSE 'es'
             END"""


@query(
    "doc_stats_panel",
    _sql_duplicate_spans(5, 2)
    + f""", ds AS (
      SELECT doc_id, count(*) AS n_spans, sum(span_tokens) AS dup_tokens
      FROM spans GROUP BY doc_id
    ), q AS (
      SELECT doc_id, lang, n_chars,
             {_sql_guessed_lang()} AS guessed_lang,
             len({TOKS}) AS n_tokens,
             len(regexp_extract_all(text, '{tx.BPE_ISH_PATTERN}')) AS n_bpe,
             round(len(list_distinct({TOKS}))::DOUBLE / len({TOKS}), 6) AS distinct_ratio,
             round(len(list_filter({TOKS}, t -> list_contains(['the','a','of','and','to','in','is','it'], t)))::DOUBLE
                   / len({TOKS}), 6) AS stopword_ratio,
             CASE WHEN text IS NULL OR length(text) = 0 THEN 0.0
                  ELSE round(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
                             / length(text), 6) END AS punct_ratio,
             round(list_max(list_transform(list_distinct({TOKS}),
                   u -> len(list_filter({TOKS}, t -> t = u))))::DOUBLE
                   / len({TOKS}), 6) AS top_token_ratio
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_tokens) AS BIGINT)::DOUBLE / COUNT(*) AS avg_tokens,
           round(CAST(CAST(SUM(CAST(distinct_ratio AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
             AS avg_distinct_ratio,
           round(CAST(CAST(SUM(CAST(stopword_ratio AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
             AS avg_stopword_ratio,
           round(CAST(CAST(SUM(CAST(punct_ratio AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
             AS avg_punct_ratio,
           round(CAST(CAST(SUM(CAST(top_token_ratio AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
             AS avg_top_token_ratio,
           CAST(COUNT(*) FILTER (distinct_ratio >= 0.3) AS BIGINT) AS n_quality_pass,
           CAST(COUNT(*) FILTER (guessed_lang = 'en') AS BIGINT) AS n_guessed_en,
           CAST(COUNT(*) FILTER (guessed_lang = 'fr') AS BIGINT) AS n_guessed_fr,
           CAST(COUNT(*) FILTER (guessed_lang = 'de') AS BIGINT) AS n_guessed_de,
           CAST(COUNT(*) FILTER (guessed_lang = 'es') AS BIGINT) AS n_guessed_es,
           CAST(COALESCE(SUM(ds.n_spans), 0) AS BIGINT) AS total_dup_spans,
           CAST(COALESCE(SUM(ds.dup_tokens), 0) AS BIGINT) AS total_dup_tokens,
           CAST(COUNT(*) FILTER (ds.n_spans > 0) AS BIGINT) AS n_docs_with_dups
    FROM q LEFT JOIN ds USING (doc_id) GROUP BY lang
    """,
    doc="Token counting AND quality scoring AND language-ID per corpus "
    "slice in ONE scan (round-2 registered token/quality as two queries, "
    "merged r3; the round-3 lang_id_confusion query merged here in r7 to "
    "free an oracle slot for gopher_repetition_panel — its full confusion "
    "matrix survives as the pivoted n_guessed_{{en,fr,de,es}} columns, true "
    "lang = row, guessed lang = column). One pass is the right 100 TB "
    "shape anyway: every per-doc stat shares the same tokenization. Two "
    "tokenizers (whitespace words + BPE-ish regex, identical semantics "
    "under Java regex and RE2), the standard corpus-cleaning panel — "
    "lexical diversity, stopword density, punctuation density (C4-style "
    "boilerplate signal), top-token concentration (Gopher-style "
    "repetition) — plus the stopword-hit-argmax lang-ID guess "
    "(tx.lang_id, deterministic tie order), aggregated per lang with "
    "decimal-routed double sums plus the quality-gate pass count. "
    "Per-doc ratios are rounded before summing so both engines "
    "aggregate identical doubles. r7: the within-corpus duplicate-span "
    "rollup (selfdedup.duplicate_span_stats, Lee et al. 2022) joins in "
    "as three integer columns (total_dup_spans / total_dup_tokens / "
    "n_docs_with_dups), putting the ExactSubstr machinery through the "
    "driver's oracle gate; the span-grain tracker duplicate_spans_panel "
    "keeps per-doc visibility.",
)
def doc_stats_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.selfdedup import duplicate_spans

    d = tbl(spark, sf_dir, "documents")
    raw_ratio = (
        F.size(F.array_distinct(tx.tokens_col(F.col("text")))).cast("double")
        / F.size(tx.tokens_col(F.col("text")))
    )
    # Per-doc duplicate-span rollup (docs without spans absent -> LEFT
    # join + coalesce, mirroring the oracle's LEFT JOIN ds).
    span_rollup = (
        duplicate_spans(d, "doc_id", "text", k=5, min_count=2)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("_ds_n_spans"),
            F.sum("span_tokens").alias("_ds_dup_tokens"),
        )
    )

    def _avg6(col: str) -> F.Column:
        return F.round(
            F.sum(F.col(col).cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), 6
        )

    return (
        d.join(span_rollup, "doc_id", "left")
        .withColumn("n_tokens", tx.token_count(F.col("text")))
        .withColumn("n_bpe", tx.bpe_ish_token_count(F.col("text")))
        .withColumn("distinct_ratio", tx.distinct_token_ratio(F.col("text")))
        .withColumn("stopword_ratio", tx.stopword_ratio(F.col("text"), "en"))
        .withColumn("punct_ratio", tx.punct_ratio(F.col("text")))
        .withColumn("top_token_ratio", tx.top_token_ratio(F.col("text")))
        .withColumn("quality_pass", (raw_ratio >= 0.3).cast("int"))
        .withColumn("guessed_lang", tx.lang_id(F.col("text")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            _avg6("distinct_ratio").alias("avg_distinct_ratio"),
            _avg6("stopword_ratio").alias("avg_stopword_ratio"),
            _avg6("punct_ratio").alias("avg_punct_ratio"),
            _avg6("top_token_ratio").alias("avg_top_token_ratio"),
            F.sum("quality_pass").alias("n_quality_pass"),
            *[
                F.sum((F.col("guessed_lang") == lang).cast("long")).alias(
                    f"n_guessed_{lang}"
                )
                for lang in ("en", "fr", "de", "es")
            ],
            F.coalesce(F.sum("_ds_n_spans"), F.lit(0)).cast("bigint").alias("total_dup_spans"),
            F.coalesce(F.sum("_ds_dup_tokens"), F.lit(0)).cast("bigint").alias("total_dup_tokens"),
            F.coalesce(
                F.sum((F.col("_ds_n_spans") > 0).cast("long")), F.lit(0)
            ).cast("bigint").alias("n_docs_with_dups"),
        )
    )


# Exact twin for bloom_membership_panel (IN THE GATE since the r10
# rotation): the filter is
# REBUILT from scratch in DuckDB SQL — same Kirsch-Mitzenmacher position
# arithmetic over the same salted md5 hashes, same 63-bit word layout
# (bit 63 untouched: DuckDB raises on BIGINT 1 << 63), bit_or/bool_and
# aggregates — so any single-bit divergence flips set_bits or a
# confusion cell. Membership set: even doc_ids; probes: every doc_id.
BLOOM_MEMBERSHIP_ORACLE = """
WITH keyed AS (
  SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS v, doc_id % 2 = 0 AS is_member
  FROM documents
), hashed AS (
  SELECT v, is_member,
         ('0x' || substr(md5('blf1:' || v), 1, 8))::BIGINT AS h1,
         ('0x' || substr(md5('blf2:' || v), 1, 8))::BIGINT AS h2
  FROM keyed
), mpos AS (
  SELECT (h1 + i * h2) % 516096 AS p
  FROM hashed, range(5) t(i) WHERE is_member
), bloom AS (
  SELECT p // 63 AS word_idx,
         bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS word
  FROM mpos GROUP BY 1
), ppos AS (
  SELECT v, is_member, (h1 + i * h2) % 516096 AS p
  FROM hashed, range(5) t(i)
), checks AS (
  SELECT v, is_member,
         bool_and(word IS NOT NULL
                  AND (word & (1::BIGINT << CAST(p % 63 AS INT))) <> 0)
           AS may_contain
  FROM ppos LEFT JOIN bloom ON ppos.p // 63 = bloom.word_idx
  GROUP BY v, is_member
)
SELECT 'confusion' AS family, is_member, may_contain, COUNT(*) AS n
FROM checks GROUP BY 2, 3
UNION ALL
SELECT 'set_bits', NULL, NULL, CAST(SUM(bit_count(word)) AS BIGINT) FROM bloom
UNION ALL
SELECT 'words', NULL, NULL, COUNT(*) FROM bloom
ORDER BY family, is_member, may_contain
"""

# Fixed build parameters for the gate panel: 8192 words (63 bits each) =
# ~1 MB of filter at any SF; at sf1's ~25k members that is ~20 bits/key,
# k=5 -> design FPR ~5e-4 (the confusion matrix stays all-true-positive
# at gate SFs while the set_bits/words rows pin every build bit).
BLOOM_PANEL_BITS = 63 * 8192
BLOOM_PANEL_HASHES = 5


@query(
    "bloom_membership_panel",
    BLOOM_MEMBERSHIP_ORACLE,  # promoted into the 50-slot gate r10
    # (slot from demoting the long-stable sentiment_by_source); also
    # row-exact-pinned in tests/test_bloom.py at sf0.001/sf0.01.
    doc="Distributed Bloom filter (operators/bloom.py — membership as a "
    "DataFrame of sparse 63-bit words; JVM bit_or/bool_and end to end, "
    "no UDF). Builds the filter over even-doc_id keys, probes every "
    "doc_id, and reports the member/non-member x may_contain confusion "
    "counts plus the filter's word count and total set bits — the "
    "no-false-negative guarantee and every build bit are twin-checked.",
)
def bloom_membership_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import bloom_may_contain, build_bloom

    d = tbl(spark, sf_dir, "documents")
    keyed = d.select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("v"),
        (F.col("doc_id") % 2 == 0).alias("is_member"),
    )
    # r12 optimization: the filter word table is consumed THREE times
    # (membership join, set_bits agg, words agg) and each appearance
    # re-ran the full build (member scan + position explode + bit_or
    # shuffle) — plan had 5 corpus scans / 7 exchanges. The lazy
    # checkpoint builds it once (~bits/63 rows); values unchanged.
    bl = build_bloom(
        keyed.filter("is_member").select("v"),
        "v",
        BLOOM_PANEL_BITS,
        BLOOM_PANEL_HASHES,
    ).localCheckpoint(eager=False)
    ann = bloom_may_contain(
        keyed, bl, "v", BLOOM_PANEL_BITS, BLOOM_PANEL_HASHES
    )
    nb = F.lit(None).cast("boolean")
    confusion = (
        ann.groupBy("is_member", "may_contain")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("confusion").alias("family"), "is_member", "may_contain", "n")
    )
    set_bits = bl.agg(
        F.sum(F.bit_count("word")).cast("bigint").alias("n")
    ).select(F.lit("set_bits").alias("family"), nb.alias("is_member"),
             nb.alias("may_contain"), "n")
    words = bl.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("words").alias("family"), nb.alias("is_member"),
        nb.alias("may_contain"), "n"
    )
    return (
        confusion.unionByName(set_bits)
        .unionByName(words)
        .coalesce(1)
        .sortWithinPartitions("family", "is_member", "may_contain")
    )

# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


@query(
    "fingerprint_dup_groups",
    f"""
    SELECT md5(array_to_string(list_slice({TOKS}, 1, 2), ' ')) AS fp,
           COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
    FROM documents
    GROUP BY 1 HAVING COUNT(*) > 1
    """,
    doc="Exact-dedup blocking: md5 prefix fingerprint -> hash groupBy -> "
    "duplicate groups with deterministic keeper (min id). One shuffle on "
    "the fingerprint; no self-join (the scalable exact-dedup shape).",
)
def fingerprint_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    return (
        d.withColumn("fp", tx.fingerprint(F.col("text"), 2))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query(
    "jaccard_pairs_panel",
    f"""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 80),
    toks AS (
      SELECT doc_id, unnest(list_distinct({TOKS})) AS tok FROM docs
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), tok_pairs AS (
      SELECT id_a, id_b,
             round(n_inter::DOUBLE / (sa.n_tok + sb.n_tok - n_inter), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON inter.id_a = sa.doc_id
      JOIN sizes sb ON inter.id_b = sb.doc_id
      WHERE round(n_inter::DOUBLE / (sa.n_tok + sb.n_tok - n_inter), 6) >= 0.5
    ),
    ndocs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
    tokh AS (
      SELECT doc_id, list_transform({TOKS}, tok -> {_sql_hash('tok', 'mh:')}) AS th
      FROM ndocs WHERE len({TOKS}) >= 3
    ), nsh AS (
      SELECT doc_id, unnest(list_distinct({_sql_shingle_hashes()})) AS shingle
      FROM tokh
    ), nsizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM nsh GROUP BY doc_id
    ), ninter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM nsh a JOIN nsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), ngram_pairs AS (
      SELECT id_a, id_b,
             round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
      FROM ninter
      JOIN nsizes sa ON ninter.id_a = sa.doc_id
      JOIN nsizes sb ON ninter.id_b = sb.doc_id
      WHERE round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.02
    )
    SELECT 'token' AS family, * FROM tok_pairs
    UNION ALL
    SELECT 'ngram3' AS family, * FROM ngram_pairs
    UNION ALL
    SELECT 'minhash_lsh' AS family, doc_a AS id_a, doc_b AS id_b,
           CAST(NULL AS DOUBLE) AS jaccard
    FROM ({_sql_minhash_bands(k=8, rows_per_band=2)})
    """,
    doc="The near-dup pair family in one result (round-2 registered these "
    "as three queries; merged for the 50-slot gate — the r7 merge folds "
    "minhash_lsh_candidate_pairs in to free a slot for "
    "exact_substring_decontam): family='token' is distinct-token-set "
    "Jaccard >= 0.5 on a bounded doc window — the verification stage of "
    "near-dup dedup; family='ngram3' is word-3-gram Jaccard >= 0.02 over "
    "shingle hashes shared with the MinHash pipeline (doc_id < 200, "
    "measured ~57 pairs at sf0.001 / ~58 at sf0.01 with max J ~0.98 — "
    "non-vacuous at both SFs); family='minhash_lsh' is the full-table "
    "MinHash (k=8, md5-portable hashes) + LSH banding (4 bands x 2 rows) "
    "candidate set, jaccard=NULL (candidates are pre-verification by "
    "definition), oracle reproducing the exact signatures in SQL. The "
    "exact families are inverted-index self-joins on bounded windows; "
    "the LSH family is the 100 TB dedup shape — per-row signatures via "
    "higher-order functions (no explode), band equi-join shuffling only "
    "uniform band hashes, no self-join, distinct pairs.",
)
def jaccard_pairs_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d80 = tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    tok_pairs = dd.token_jaccard_pairs(d80, "doc_id", "text", threshold=0.5)

    d200 = tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = F.split(F.col("text"), " ")
    hashed = d200.filter(F.size(toks) >= 3).select(
        "doc_id",
        F.transform(toks, lambda t: dd.portable_hash(t, salt="mh:")).alias("_th"),
    )
    sh = hashed.select(
        "doc_id",
        F.explode(
            F.array_distinct(dd.shingle_hashes_from_tokens(F.col("_th"), 3))
        ).alias("shingle"),
        # r13: consumed three times below (sizes + both self-join sides),
        # each re-running the md5 token-hash + shingle combine + explode
        # on the window — lazy checkpoint computes it once (bounded
        # doc_id < 200 window, tiny stored frame).
    ).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    ngram_pairs = (
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
        .filter(F.col("jaccard") >= 0.02)
        .select("id_a", "id_b", "jaccard")
    )
    lsh_pairs = dd.minhash_lsh_candidates(
        tbl(spark, sf_dir, "documents"), "doc_id", "text", k=8, rows_per_band=2, shingle_n=3
    ).select(
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.lit(None).cast("double").alias("jaccard"),
    )
    return (
        tok_pairs.withColumn("family", F.lit("token"))
        .select("family", "id_a", "id_b", "jaccard")
        .unionAll(
            ngram_pairs.withColumn("family", F.lit("ngram3")).select(
                "family", "id_a", "id_b", "jaccard"
            )
        )
        .unionAll(
            lsh_pairs.withColumn("family", F.lit("minhash_lsh")).select(
                "family", "id_a", "id_b", "jaccard"
            )
        )
    )


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprints (16-bit, portable hash): bit-majority
    vote over token hashes, zero shuffle. Near-dups differ in few bits;
    pair generation at scale = equality or banded-prefix join.
    Oracle-gated as the ``simhash`` branch of ``text_fingerprints_panel``.

    r13: computed by the Arrow kernel (one bit-matrix + segmented vote
    reduction per batch) instead of the 16 interpreted vote-fold
    expressions — byte-identical values (tests/test_dedup_similarity.py),
    same min_partitions rationale as the winnowing branch below."""
    d = tbl(spark, sf_dir, "documents")
    return dd.simhash_rows_kernel(
        d, "doc_id", "text", bits=16,
        min_partitions=spark.sparkContext.defaultParallelism,
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@query(
    "embedding_similarity_panel",
    """
    WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv, sqrt(list_dot_product(v, v)) AS qn
          FROM e0 WHERE vec_id < 5),
    c AS (SELECT vec_id AS c_id, v AS cv, sqrt(list_dot_product(v, v)) AS cn
          FROM e0 WHERE vec_id >= 5),
    topk AS (
      SELECT q_id, c_id, rnk, cosine FROM (
        SELECT q_id, c_id,
               round(list_dot_product(qv, cv) / (qn * cn), 6) AS cosine,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY q_id
                 ORDER BY round(list_dot_product(qv, cv) / (qn * cn), 6) DESC, c_id) AS INTEGER) AS rnk
        FROM c, q
      ) WHERE rnk <= 10
    ), nd AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
      FROM embeddings WHERE vec_id < 120
    )
    SELECT 'brute_topk' AS family, q_id AS id_a, c_id AS id_b, rnk, cosine
    FROM topk
    UNION ALL
    SELECT 'near_dup' AS family, a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(NULL AS INTEGER) AS rnk,
           round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) AS cosine
    FROM nd a, nd b
    WHERE a.vec_id < b.vec_id
      AND round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) >= 0.30
    """,
    doc="Embedding-similarity panel — the r9 merge of the two formerly "
    "separate gate slots (freeing one for the rotation queue, the "
    "sessionize->event_lifecycle precedent), both branches still "
    "oracle-exact. family='brute_topk': brute-force cosine top-k over "
    "array<float> embeddings (broadcast query set x partitioned corpus, "
    "higher-order-function dot product — JVM, no UDF — per-query window "
    "top-k; the exactness baseline for ANN, LSH/IVF/PQ are the scale "
    "paths). family='near_dup': embedding-cosine near-duplicate pairs "
    "(exact all-pairs on a bounded window — constant cost across SFs; "
    "the scale path is the same operator with LSH sign-bucket blocking, "
    "recall-verified in pytest).",
)
def embedding_similarity_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    topk = ann_cosine_topk(spark, sf_dir).select(
        F.lit("brute_topk").alias("family"),
        F.col("q_id").alias("id_a"),
        F.col("c_id").alias("id_b"),
        "rnk",
        "cosine",
    )
    e = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", sim.as_double_vec(F.col("embedding")).alias("v")
    )
    nd = sim.embedding_near_dup_pairs(
        e.filter(F.col("vec_id") < 120), "vec_id", "v", threshold=0.30
    ).select(
        F.lit("near_dup").alias("family"),
        "id_a",
        "id_b",
        F.lit(None).cast("int").alias("rnk"),
        "cosine",
    )
    return topk.unionAll(nd)


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k (q_id, c_id, rnk, cosine) — the
    ground truth every ANN recall pin (LSH/IVF/PQ tests) compares
    against. Oracle-gated as the ``brute_topk`` branch of
    ``embedding_similarity_panel`` since the r9 slot merge."""
    e = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", sim.as_double_vec(F.col("embedding")).alias("v")
    )
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "v")
    c = e.filter(F.col("vec_id") >= 5).select(F.col("vec_id").alias("c_id"), "v")
    return sim.cosine_topk(q, c, "q_id", "c_id", "v", k=10)




def _sql_winnowing(k: int = 8, window: int = 4) -> str:
    gh = f"list_transform(range(1, length(text) - {k - 1} + 1), i -> {_sql_hash(f'substr(text, i, {k})', 'wn:')})"
    return f"""
    WITH gh AS (
      SELECT doc_id, {gh} AS g FROM documents WHERE length(text) >= {k}
    ), fp AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(g) - {window - 1} + 1),
               j -> list_min(list_slice(g, j, j + {window - 1}))))) AS fp
      FROM gh WHERE len(g) >= {window}
    )
    SELECT fp, COUNT(*) AS n_docs
    FROM fp GROUP BY fp HAVING COUNT(*) > 1
    """


def winnowing_shared_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprinting (Schleimer et al. 2003 rolling-
    hash selection): per-doc char-8-gram hashes -> min of each 4-window
    -> distinct fingerprints; shared fingerprints across docs flag
    substring-level containment/near-dup. Winnowing is per-document
    work, so the Arrow kernel computes it shuffle-free inside each
    partition (3x the relational window form, which moved 1M+ exploded
    gram rows through a doc-id sort just to reunite each doc); the only
    shuffle is the final cross-doc fingerprint groupBy. The oracle
    reproduces the identical md5 hash selection; the kernel is pinned
    value-equal to the pure-JVM relational form in pytest. Oracle-gated
    as the ``winnowing_shared`` branch of ``text_fingerprints_panel``."""
    d = tbl(spark, sf_dir, "documents").filter(F.length("text") >= 8)
    fps = tx.winnowing_fingerprints_arrow(
        d, "doc_id", "text", k=8, window=4,
        # One parquet file would mean ONE Python worker hashes the whole
        # corpus; round-robin the raw rows to cluster width first (tiny
        # exchange, 32x kernel parallelism — see operator docstring).
        min_partitions=spark.sparkContext.defaultParallelism,
    )
    return (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


@query(
    "text_fingerprints_panel",
    f"""
    WITH sh AS ({_sql_simhash(bits=16)}),
    wn AS ({_sql_winnowing(k=8, window=4)})
    SELECT 'simhash' AS op, doc_id AS key_id, simhash AS val FROM sh
    UNION ALL
    SELECT 'winnowing_shared' AS op, fp AS key_id, n_docs AS val FROM wn
    """,
    doc="Document-fingerprint panel, op-tagged: 16-bit SimHash per doc "
    "(bit-majority vote over token hashes, per-row fold, zero shuffle — "
    "``simhash`` branch) and winnowing shared fingerprints (Schleimer "
    "2003 rolling-hash selection via the shuffle-free Arrow kernel, one "
    "cross-doc groupBy — ``winnowing_shared`` branch). Merged from the "
    "round-2/3 ``simhash_fingerprints`` + ``winnowing_shared_fingerprints`` "
    "registrations to keep every oracle-backed query inside the driver's "
    "50-slot gate while freeing slots for the funnel/retention oracles — "
    "both fingerprint plans survive verbatim as the panel's branches.",
)
def text_fingerprints_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = simhash_fingerprints(spark, sf_dir).select(
        F.lit("simhash").alias("op"),
        F.col("doc_id").alias("key_id"),
        F.col("simhash").alias("val"),
    )
    wn = winnowing_shared_fingerprints(spark, sf_dir).select(
        F.lit("winnowing_shared").alias("op"),
        F.col("fp").alias("key_id"),
        F.col("n_docs").alias("val"),
    )
    return sh.unionAll(wn)


@query(
    "hypertable_rollup_events",
    """
    WITH b AS (
      SELECT event_type,
             strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M') AS bucket_day,
             strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS bucket_hour,
             value
      FROM events
    )
    SELECT event_type, bucket_day, bucket_hour,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS value_sum
    FROM b
    GROUP BY GROUPING SETS ((event_type, bucket_day), (event_type, bucket_day, bucket_hour))
    """,
    doc="Hypertable-style continuous-aggregate rollup (TimescaleDB's "
    "time_bucket cascade): hour- and day-granularity aggregates of the "
    "event stream in ONE pass via grouping sets — no second scan for the "
    "coarser tier. Buckets rendered as strings (UTC pinned) for "
    "cross-engine comparability.",
)
def hypertable_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tbl(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd HH:mm").alias("bucket_day"),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm").alias("bucket_hour"),
        "value",
    )
    return (
        b.groupingSets(
            [["event_type", "bucket_day"], ["event_type", "bucket_day", "bucket_hour"]],
            "event_type", "bucket_day", "bucket_hour",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
    )


@query(
    "timeseries_gapfill_locf",
    """
    WITH r AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             COUNT(*) AS n_events,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS value_sum
      FROM events
      WHERE event_id % 97 = 0
      GROUP BY 1, 2
    ), span AS (
      SELECT event_type, MIN(bucket) AS mn, MAX(bucket) AS mx FROM r GROUP BY 1
    ), spine AS (
      SELECT event_type, UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
      FROM span
    )
    SELECT s.event_type,
           strftime(s.bucket, '%Y-%m-%d %H:%M') AS bucket_hour,
           COALESCE(r.n_events, 0) AS n_events,
           r.value_sum AS value_sum,
           (r.n_events IS NULL) AS is_gap,
           LAST_VALUE(r.value_sum IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_sum_locf
    FROM spine s LEFT JOIN r ON r.event_type = s.event_type AND r.bucket = s.bucket
    """,
    doc="TimescaleDB time_bucket_gapfill + locf semantics over the event "
    "stream (operators/timeseries.py): hourly rollup of a deterministically "
    "thinned series (event_id % 97 keeps the series gap-rich at every SF — "
    "at sf0.1 the raw hourly series has zero gaps), densified per "
    "event_type over its own [min, max] span via executor-side sequence()/"
    "explode (the spine never touches the driver and its size is groups x "
    "span buckets, independent of raw row count), left-joined with an "
    "explicit _present marker so a present-but-NULL-sum row is NOT a gap, "
    "counts coalesced to 0 on gaps, sums kept NULL, LOCF carry via "
    "last(ignorenulls) over the per-group bucket order.",
)
def timeseries_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import timeseries as ts

    ev = tbl(spark, sf_dir, "events").filter(F.col("event_id") % 97 == 0)
    rollup = ev.groupBy(
        "event_type", ts.time_bucket("ts", "hour").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
    )
    dense = ts.gapfill_locf(
        rollup,
        group_cols=["event_type"],
        bucket_col="bucket",
        value_cols=["value_sum"],
        step=ts.GRAIN_STEPS["hour"],
        count_cols=["n_events"],
    )
    return dense.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm").alias("bucket_hour"),
        "n_events",
        "value_sum",
        "is_gap",
        "value_sum_locf",
    )


def _sql_fake_features() -> str:
    # mirror multimodal._fake_features on utf-8 text payloads:
    # f_i = round(sum(byte[i::8]) / n, 6) — ascii() == the utf-8 byte for
    # the documents table's ascii text
    cols = []
    for i in range(8):
        s = (
            f"list_sum(list_transform(range({i + 1}, length(text) + 1, 8), "
            f"p -> ascii(substr(text, p, 1))))::DOUBLE / length(text)"
        )
        cols.append(f"{s} AS f{i}")
    return ",\n           ".join(cols)


@query(
    "multimodal_feature_roundtrip",
    f"""
    SELECT doc_id,
           {_sql_fake_features()}
    FROM documents WHERE doc_id < 50 AND length(text) > 0
    """,
    doc="The Arrow mapInPandas path under the exact oracle gate: document "
    "text re-encoded as a binary payload, run through the multimodal "
    "feature extractor (byte-histogram moments in Python), values matched "
    "bit-for-bit against DuckDB's arithmetic twin — proof the Python/Arrow "
    "roundtrip computes exactly what the operator claims.",
)
def multimodal_feature_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import _fake_features, extract_media_features, media_meta_expr

    d = (
        tbl(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 50) & (F.length("text") > 0))
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "UTF-8").alias("payload"),
        )
        .withColumn("media_meta", media_meta_expr(F.col("payload"), "image"))
    )
    feats = extract_media_features(d, decoders={"image": _fake_features})
    return feats.select(
        F.col("media_id").alias("doc_id"),
        *[F.col("features").getItem(i).cast("double").alias(f"f{i}") for i in range(8)],
    )


# ---------------------------------------------------------------------------
# Corpus composition (round 3): deterministic mixing/budgeting, sequence
# packing, benchmark decontamination — operators/{sampling,packing,decontam}
# ---------------------------------------------------------------------------


@query(
    "corpus_mix_budget",
    f"""
    WITH d AS (
      SELECT doc_id, source, len({TOKS}) AS tok,
             CAST(substr(source, 4) AS INTEGER) AS src_idx,
             ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 AS u
      FROM documents
    ), s AS (
      SELECT * FROM d WHERE u < 0.2 + 0.15 * (src_idx % 5)
    ), r AS (
      SELECT *, SUM(tok) OVER (PARTITION BY source ORDER BY tok DESC, doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
      FROM s
    )
    SELECT source,
           COUNT(*) AS n_sampled,
           CAST(COUNT(*) FILTER (cum - tok < 300) AS BIGINT) AS n_selected,
           CAST(COALESCE(SUM(tok) FILTER (cum - tok < 300), 0) AS BIGINT) AS tok_selected
    FROM r GROUP BY source
    """,
    doc="Corpus mixing + token budgeting (operators/sampling.py), the "
    "training-data composition step: per-source deterministic hash "
    "sampling (portable md5 unit draws — the decision survives "
    "repartitioning and engine swap; rates 0.2-0.8 derived per source), "
    "then largest-doc-first selection up to a 300-token budget per source "
    "via one windowed running sum. Sampling is shuffle-free; budgeting "
    "shuffles once on the stratum key. Oracle reproduces the identical "
    "hash doubles and integer running sums.",
)
def corpus_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling as smp

    d = (
        tbl(spark, sf_dir, "documents")
        .withColumn("tok", tx.token_count(F.col("text")))
        .withColumn("src_idx", F.substring("source", 4, 10).cast("int"))
    )
    rate = F.lit(0.2) + F.lit(0.15) * (F.col("src_idx") % 5)
    sampled = smp.stratified_sample(d, "doc_id", rate, salt="mix:")
    # An unreachable budget keeps every sampled row while still attaching
    # the operator's running sum; the 300-token cut becomes a flag so the
    # report covers selected AND rejected rows in one aggregation.
    ranked = smp.select_to_token_budget(
        sampled, "tok", 1 << 62, order_by=[F.desc("tok"), F.col("doc_id")]
    )
    sel = F.col("_cum_tokens") - F.col("tok") < 300
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(sel.cast("int")).cast("bigint").alias("n_selected"),
        F.coalesce(F.sum(F.when(sel, F.col("tok"))), F.lit(0)).cast("bigint").alias("tok_selected"),
    )


@query(
    "sequence_packing_offsets",
    f"""
    WITH d AS (
      SELECT doc_id, source, len({TOKS}) AS tok FROM documents
      WHERE len({TOKS}) > 0
    ), r AS (
      SELECT *, SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
      FROM d
    )
    SELECT source, doc_id, CAST(tok AS BIGINT) AS tok,
           CAST(cum - tok AS BIGINT) AS start_offset,
           CAST((cum - tok) // 256 AS BIGINT) AS bin_start,
           CAST((cum - 1) // 256 AS BIGINT) AS bin_end,
           CAST((cum - 1) // 256 - (cum - tok) // 256 + 1 AS INTEGER) AS n_bins_spanned
    FROM r
    """,
    doc="Concat-split sequence packing (operators/packing.py): each "
    "source's token stream laid end-to-end and cut every 256 tokens; "
    "per-document placement (start offset, first/last context window, "
    "straddle span). Pure window arithmetic — one shuffle on the stream "
    "key, integer-exact, no UDF — the 100 TB packing shape. The no-split "
    "next-fit variant (applyInPandas) is pytest-pinned against a "
    "pure-python reference.",
)
def sequence_packing_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_concat_split

    d = tbl(spark, sf_dir, "documents").withColumn("tok", tx.token_count(F.col("text")))
    placed = pack_concat_split(d, "tok", 256, order_by=[F.col("doc_id")])
    return placed.select(
        "source",
        "doc_id",
        F.col("tok").cast("bigint").alias("tok"),
        F.col("start_offset").cast("bigint").alias("start_offset"),
        "bin_start",
        "bin_end",
        "n_bins_spanned",
    )


@query(
    "decontam_ngram_overlap",
    f"""
    WITH tokh AS (
      SELECT doc_id,
             list_transform({TOKS}, tok -> {_sql_hash('tok', 'mh:')}) AS th
      FROM documents WHERE len({TOKS}) >= 5
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct({_sql_folded_shingles(5)})) AS shingle
      FROM tokh
    ), bench AS (
      SELECT DISTINCT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 19 = 0
    ), train AS (
      SELECT doc_id, shingle FROM sh WHERE doc_id % 19 != 0
    )
    SELECT t.doc_id,
           COUNT(DISTINCT t.shingle) AS n_shared_shingles,
           COUNT(DISTINCT b.bench_id) AS n_bench_docs
    FROM train t JOIN bench b ON t.shingle = b.shingle
    GROUP BY t.doc_id
    """,
    doc="Benchmark decontamination (operators/decontam.py, GPT-3-appendix-C "
    "style): training docs sharing any word-5-gram with the held-out "
    "benchmark slice (doc_id % 19 = 0 stands in for an eval set), with "
    "shared-shingle and benchmark-doc evidence counts. The bench shingle "
    "set broadcasts, so the training corpus is never shuffled for the "
    "join — the 100 TB decontamination shape. Horner-fold shingle hashes "
    "(exact int64) shared with the MinHash family; flags the corpus' "
    "template near-dups (4-5 docs at sf0.01), not common phrases.",
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.decontam import ngram_contamination

    d = tbl(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 19 == 0)
    train = d.filter(F.col("doc_id") % 19 != 0)
    return ngram_contamination(train, bench, "doc_id", "text", n=5)


# url_canonical_panel's exact twin — DRIVER-GATED since the r9 fourth
# rotation swap (slot from demoting weighted_sample_orders, whose twin
# is pinned in test_demoted_twins_still_match): the synthesis AND
# the canonicalization are re-derived in DuckDB SQL from scratch — list
# ops for param sorting, RE2 regexes (every pattern class-based, the
# cross-engine portability rule operators/urls.py documents).
URL_CANONICAL_ORACLE = """
WITH synth AS (
  SELECT
    CASE WHEN doc_id % 11 = 0 THEN 'plain text line ' || CAST(doc_id AS VARCHAR)
    ELSE
      (CASE doc_id % 3 WHEN 0 THEN 'HTTP://' WHEN 1 THEN 'https://' ELSE 'Ftp://' END)
      || (CASE WHEN doc_id % 13 = 0 THEN 'bot:pw@' ELSE '' END)
      || 'WWW.' || source || '.Example.COM'
      || (CASE WHEN doc_id % 5 = 0 THEN '.' ELSE '' END)
      || (CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443' WHEN 2 THEN ':8080' ELSE '' END)
      || '//a//' || lang || '/' || CAST(doc_id % 7 AS VARCHAR)
      || '?utm_source=feed&b=2&a=1'
      || (CASE WHEN doc_id % 2 = 0 THEN '&fbclid=x' || CAST(doc_id AS VARCHAR) ELSE '' END)
      || '#sec' || CAST(doc_id % 3 AS VARCHAR)
    END AS url
  FROM documents
), parts AS (
  SELECT
    url,
    lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM synth
), auth AS (
  SELECT
    url, scheme, rest,
    regexp_replace(regexp_extract(rest, '^([^/?#]*)', 1), '^.*@', '') AS no_user,
    regexp_replace(rest, '#.*$', '') AS no_frag
  FROM parts
), comp AS (
  SELECT
    url, scheme, no_frag,
    regexp_replace(lower(regexp_extract(no_user, '^([^:]*)', 1)), '[.]+$', '') AS host,
    regexp_extract(no_user, ':([0-9]+)$', 1) AS port,
    regexp_replace(regexp_extract(regexp_replace(no_frag, '^[^/?#]*', ''), '^([^?]*)', 1),
                   '/{2,}', '/', 'g') AS path0,
    regexp_extract(no_frag, '[?](.*)$', 1) AS query
  FROM auth
), canon AS (
  SELECT
    CASE WHEN scheme = '' THEN NULL ELSE host END AS host,
    CASE WHEN scheme = '' THEN NULL ELSE
      scheme || '://' || host
      || (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                 OR (scheme = 'https' AND port = '443')
          THEN '' ELSE ':' || port END)
      || (CASE WHEN path0 = '' THEN '/' ELSE path0 END)
      || (CASE WHEN q = '' THEN '' ELSE '?' || q END)
    END AS canonical
  FROM (
    SELECT *,
      array_to_string(
        list_sort(list_filter(string_split(query, '&'),
          p -> p <> '' AND NOT regexp_matches(p,
            '^([uU][tT][mM]_[a-zA-Z0-9_]*|[gG][cC][lL][iI][dD]|[fF][bB][cC][lL][iI][dD]|[mM][sS][cC][lL][kK][iI][dD])='))),
        '&') AS q
    FROM comp
  )
)
SELECT
  host,
  COUNT(*) AS n_urls,
  COUNT(canonical) AS n_canonical,
  COUNT(DISTINCT canonical) AS n_distinct_canonical,
  MIN(canonical) AS first_canonical,
  MIN(CASE WHEN host IS NULL THEN NULL
      ELSE regexp_extract(host, '([^.]+[.][^.]+)$', 1) END) AS domain
FROM canon
GROUP BY host
ORDER BY host
"""


@query(
    "url_canonical_panel",
    URL_CANONICAL_ORACLE,  # promoted into the 50-slot gate in the r9
    # fourth rotation swap — row-exact at sf0.001/sf0.01/sf1 in
    # tests/test_urls.py before promotion.
    doc="URL canonicalization (operators/urls.py — the crawl frontier's "
    "dedup key, RFC 3986 normalization reduced to its engine-portable "
    "core; JVM expressions only, no UDF). The panel synthesizes URLs "
    "from the documents table in-plan (mixed-case schemes/hosts, "
    "userinfo, default and explicit ports, duplicate slashes, tracking "
    "params, fragments, plus non-URL rows), canonicalizes, and accounts "
    "per host: url/canonical/distinct counts and min canonical/domain "
    "strings — every column exact-twin-able.",
)
def url_canonical_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.urls import canonical_url, registrable_domain, url_host

    d = tbl(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = did.cast("string")
    url = F.when(
        did % 11 == 0, F.concat(F.lit("plain text line "), s)
    ).otherwise(
        F.concat(
            F.when(did % 3 == 0, F.lit("HTTP://"))
            .when(did % 3 == 1, F.lit("https://"))
            .otherwise(F.lit("Ftp://")),
            F.when(did % 13 == 0, F.lit("bot:pw@")).otherwise(F.lit("")),
            F.lit("WWW."),
            F.col("source"),
            F.lit(".Example.COM"),
            F.when(did % 5 == 0, F.lit(".")).otherwise(F.lit("")),
            F.when(did % 4 == 0, F.lit(":80"))
            .when(did % 4 == 1, F.lit(":443"))
            .when(did % 4 == 2, F.lit(":8080"))
            .otherwise(F.lit("")),
            F.lit("//a//"),
            F.col("lang"),
            F.lit("/"),
            (did % 7).cast("string"),
            F.lit("?utm_source=feed&b=2&a=1"),
            F.when(did % 2 == 0, F.concat(F.lit("&fbclid=x"), s)).otherwise(
                F.lit("")
            ),
            F.lit("#sec"),
            (did % 3).cast("string"),
        )
    )
    u = d.select(url.alias("url"))
    sel = u.select(
        url_host(F.col("url")).alias("host"),
        canonical_url(F.col("url")).alias("canonical"),
    )
    return (
        sel.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.count("canonical").alias("n_canonical"),
            F.countDistinct("canonical").alias("n_distinct_canonical"),
            F.min("canonical").alias("first_canonical"),
            F.min(registrable_domain(F.col("host"))).alias("domain"),
        )
        .coalesce(1)
        .sortWithinPartitions("host")
    )


def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / CDC reconciliation (operators/diff.py:table_diff —
    the complement of sources.writers.merge_upsert): two deterministic
    snapshots derived from orders (old drops keys %7=0, new drops %5=0
    and bumps o_totalprice for %3=0) diffed into added/removed/changed
    rows with the exact differing columns. ONE full-outer sort-merge
    join keyed on the diff key, null-safe JVM comparisons, unchanged
    rows dropped before the caller — output scales with churn, not
    corpus. Oracle-gated as the ``snapshot_diff`` branch of
    ``dedup_panel`` (plans/core.py) since round 5 — the standalone
    registration was merged to free an oracle slot for
    triangle_count_friend_graph."""
    from ..operators.diff import table_diff

    o = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old = o.filter(F.col("o_orderkey") % 7 != 0)
    new = o.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    return table_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )


# Exact twin for c4_span_dedup_panel (IN THE GATE since the r10
# rotation): spans, winners,
# the union drop rule, and the rebuilt text are all re-derived in DuckDB
# from scratch (struct-min winner, 1-based list indexing vs Spark's
# 0-based filter index — the twin proves the arithmetic, content_sum
# pins the rebuilt BYTES, not just line counts).
C4_SPAN_DEDUP_ORACLE = """
WITH synth AS (
  SELECT doc_id, source,
    CASE WHEN doc_id % 4 = 0 THEN
      text || chr(10) || 'please accept our cookie policy'
           || chr(10) || 'this site uses cookies'
           || chr(10) || 'see the terms of use'
           || chr(10) || 'sig ' || lang || chr(10) || 'more about ' || lang
    ELSE
      text || chr(10) || 'unique line ' || CAST(doc_id AS VARCHAR)
           || chr(10) || 'sig ' || lang || chr(10) || 'more about ' || lang
    END AS text
  FROM documents
), lined AS (
  SELECT doc_id, source, text, string_split(text, chr(10)) AS ls
  FROM synth
), occ AS (
  SELECT doc_id, i - 1 AS pos,
         md5(ls[i] || chr(10) || ls[i+1] || chr(10) || ls[i+2]) AS h
  FROM (SELECT doc_id, ls, unnest(range(1, len(ls) - 1)) AS i
        FROM lined WHERE len(ls) >= 3)
), dup AS (
  SELECT h, min((doc_id, pos)) AS win
  FROM occ GROUP BY h HAVING COUNT(*) > 1
), drops AS (
  SELECT o.doc_id, list(DISTINCT li) AS dl
  FROM (
    SELECT o.doc_id, o.pos + j AS li
    FROM occ o JOIN dup d USING (h),
         (SELECT unnest(range(3)) AS j)
    WHERE (o.doc_id, o.pos) <> d.win
  ) o GROUP BY o.doc_id
), rebuilt AS (
  SELECT l.doc_id, l.source, l.ls,
    CASE WHEN d.dl IS NULL THEN l.text
    ELSE array_to_string(
      list_transform(
        list_filter(range(1, len(l.ls) + 1), i -> NOT list_contains(d.dl, i - 1)),
        i -> l.ls[i]),
      chr(10))
    END AS clean,
    COALESCE(len(d.dl), 0) AS lines_removed
  FROM lined l LEFT JOIN drops d USING (doc_id)
)
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(len(ls)) AS BIGINT) AS lines_in,
  CAST(SUM(len(string_split(clean, chr(10)))) AS BIGINT) AS lines_out,
  CAST(SUM(CASE WHEN lines_removed > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_changed,
  CAST(SUM(('0x' || substr(md5(clean), 1, 8))::BIGINT) AS BIGINT) AS content_sum
FROM rebuilt
GROUP BY source
ORDER BY source
"""


@query(
    "c4_span_dedup_panel",
    C4_SPAN_DEDUP_ORACLE,  # promoted into the 50-slot gate r10
    # (slot from demoting the long-stable item_cooccurrence_pairs); also
    # row-exact-pinned in tests/test_c4.py at sf0.001/sf0.01.
    doc="C4 corpus-wide three-line span deduplication (operators/text.py:"
    "c4_span_dedup — Raffel et al. 2020 §2.2's 'discard all but one of "
    "any three-sentence span'; smallest-(id,start) winner, union drop "
    "rule, JVM expressions end to end). The panel synthesizes multi-line "
    "docs in-plan (shared boilerplate block for doc_id%4==0, per-lang "
    "signature lines, unique fillers), dedups, and accounts per source: "
    "line counts in/out, docs changed, and an md5 content checksum of "
    "every rebuilt doc.",
)
def c4_span_dedup_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import c4_span_dedup

    d = tbl(spark, sf_dir, "documents")
    did = F.col("doc_id")
    synth = F.when(
        did % 4 == 0,
        F.concat(
            F.col("text"),
            F.lit(
                "\nplease accept our cookie policy"
                "\nthis site uses cookies"
                "\nsee the terms of use"
                "\nsig "
            ),
            F.col("lang"),
            F.lit("\nmore about "),
            F.col("lang"),
        ),
    ).otherwise(
        F.concat(
            F.col("text"),
            F.lit("\nunique line "),
            did.cast("string"),
            F.lit("\nsig "),
            F.col("lang"),
            F.lit("\nmore about "),
            F.col("lang"),
        )
    )
    out = c4_span_dedup(
        d.select("doc_id", "source", synth.alias("text")), "doc_id", "text"
    )
    return (
        out.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", "\n"))).cast("bigint").alias("lines_in"),
            F.sum(F.size(F.split("clean", "\n"))).cast("bigint").alias("lines_out"),
            F.sum(F.when(F.col("lines_removed") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_changed"),
            F.sum(F.conv(F.substring(F.md5("clean"), 1, 8), 16, 10).cast("bigint"))
            .alias("content_sum"),
        )
        .coalesce(1)
        .sortWithinPartitions("source")
    )


@query(
    "event_lifecycle_panel",
    """
    WITH e AS (
      SELECT user_id, event_type, ts FROM events WHERE user_id IS NOT NULL
    ), t0 AS (
      SELECT user_id, MIN(ts) AS t FROM e WHERE event_type = 'signup'
      GROUP BY user_id
    ), t1 AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM e JOIN t0 ON e.user_id = t0.user_id
      WHERE e.event_type = 'view' AND e.ts > t0.t
        AND e.ts <= t0.t + INTERVAL 7 DAY
      GROUP BY e.user_id
    ), t2 AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM e
      JOIN t1 ON e.user_id = t1.user_id
      JOIN t0 ON e.user_id = t0.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t1.t
        AND e.ts <= t0.t + INTERVAL 7 DAY
      GROUP BY e.user_id
    ), n AS (
      SELECT (SELECT COUNT(*) FROM t0) AS n0,
             (SELECT COUNT(*) FROM t1) AS n1,
             (SELECT COUNT(*) FROM t2) AS n2
    ), funnel AS (
      SELECT 1 AS step, 'signup' AS step_name, n0 AS n,
             CASE WHEN n0 > 0 THEN round(n0 / n0, 6) END AS pct FROM n
      UNION ALL
      SELECT 2, 'view', n1, CASE WHEN n0 > 0 THEN round(n1 / n0, 6) END FROM n
      UNION ALL
      SELECT 3, 'purchase', n2, CASE WHEN n0 > 0 THEN round(n2 / n0, 6) END FROM n
    ), f AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM e GROUP BY user_id
    ), act AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST((CAST(date_trunc('week', e.ts) AS DATE) - f.cohort_week) // 7
                  AS INTEGER) AS week_offset
      FROM e JOIN f ON e.user_id = f.user_id
    ), cnt AS (
      SELECT cohort_week, week_offset, COUNT(*) AS n_active
      FROM act WHERE week_offset <= 26 GROUP BY 1, 2
    ), sz AS (
      SELECT cohort_week, COUNT(*) AS cohort_size FROM f GROUP BY 1
    ), sg AS (
      SELECT user_id,
             CASE WHEN ts > LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            + INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), su AS (
      SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
             COUNT(*) AS n_events
      FROM sg GROUP BY user_id
    ), sh AS (
      SELECT CAST(n_sessions AS INTEGER) AS n_sessions,
             COUNT(*) AS n_users,
             CAST(SUM(n_events) AS BIGINT) AS total_events
      FROM su GROUP BY 1
    )
    SELECT 'funnel' AS op, step, step_name,
           CAST(NULL AS DATE) AS cohort_week, CAST(NULL AS INTEGER) AS week_offset,
           n, CAST(NULL AS BIGINT) AS denom, pct
    FROM funnel
    UNION ALL
    SELECT 'retention' AS op, CAST(NULL AS INTEGER) AS step,
           CAST(NULL AS VARCHAR) AS step_name, c.cohort_week, c.week_offset,
           c.n_active AS n, s.cohort_size AS denom,
           round(c.n_active / s.cohort_size, 6) AS pct
    FROM cnt c JOIN sz s ON c.cohort_week = s.cohort_week
    UNION ALL
    SELECT 'sessionize' AS op, CAST(NULL AS INTEGER) AS step,
           CAST(NULL AS VARCHAR) AS step_name, CAST(NULL AS DATE) AS cohort_week,
           n_sessions AS week_offset, n_users AS n, total_events AS denom,
           round(n_users / SUM(n_users) OVER (), 6) AS pct
    FROM sh
    """,
    doc="Event-lifecycle panel, op-tagged (merged round 5 from the round-4 "
    "standalone funnel_conversion_events + retention_cohorts_events to "
    "free an oracle slot for yelp_unified_panel; both plans survive "
    "verbatim as branches). funnel: ordered signup->view->purchase "
    "within 7 days — k chained min-when window expressions over ONE "
    "partitionBy(user_id) window, a per-user collapse, then a 1-row "
    "aggregate exploded to k step rows; strictly-after semantics pinned "
    "against a python model in tests/test_funnel.py. retention: weekly "
    "cohorts — per-user first-activity week, user-keyed join back, "
    "collapse to (cohort, offset, user) grain BEFORE the wide count, "
    "broadcast cohort sizes; diagonal invariant pinned. Week offsets are "
    "whole 7-day periods between week-truncated dates. sessionize "
    "(merged round 8 from the standalone sessionize_events to free an "
    "oracle slot for semantic_decontam_report): lag + 30-min gap flag + "
    "per-user session count, rolled up to the session-count histogram "
    "(week_offset carries n_sessions, n = users at that count, denom = "
    "their event mass, pct = user share) — any drift in the gap/flag "
    "semantics moves the histogram; the per-user grain survives as a "
    "rows-only tracker with its twin pytest-pinned.",
)
def event_lifecycle_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    fun = funnel_conversion_events(spark, sf_dir).select(
        F.lit("funnel").alias("op"),
        "step",
        "step_name",
        F.lit(None).cast("date").alias("cohort_week"),
        F.lit(None).cast("int").alias("week_offset"),
        F.col("n_users").alias("n"),
        F.lit(None).cast("bigint").alias("denom"),
        F.col("pct_of_first").alias("pct"),
    )
    ret = retention_cohorts_events(spark, sf_dir).select(
        F.lit("retention").alias("op"),
        F.lit(None).cast("int").alias("step"),
        F.lit(None).cast("string").alias("step_name"),
        "cohort_week",
        "week_offset",
        F.col("n_active").alias("n"),
        F.col("cohort_size").alias("denom"),
        F.col("retention_pct").alias("pct"),
    )
    from pyspark.sql import Window

    from .core import sessionize_events

    hist = (
        sessionize_events(spark, sf_dir)
        .groupBy(F.col("n_sessions").cast("int").alias("week_offset"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_events").cast("bigint").alias("denom"),
        )
    )
    ses = hist.select(
        F.lit("sessionize").alias("op"),
        F.lit(None).cast("int").alias("step"),
        F.lit(None).cast("string").alias("step_name"),
        F.lit(None).cast("date").alias("cohort_week"),
        "week_offset",
        "n",
        "denom",
        # histogram is tiny (distinct session counts), so the single-
        # partition total window is a no-op at any scale
        F.round(F.col("n") / F.sum("n").over(Window.partitionBy()), 6).alias("pct"),
    )
    return fun.unionAll(ret).unionAll(ses)


def funnel_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel branch builder (oracle-gated inside event_lifecycle_panel)."""
    from ..operators.funnel import funnel_conversion

    return funnel_conversion(
        tbl(spark, sf_dir, "events"),
        ["signup", "view", "purchase"],
        within="7 days",
    )


def retention_cohorts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention branch builder (oracle-gated inside event_lifecycle_panel)."""
    from ..operators.funnel import retention_matrix

    return retention_matrix(tbl(spark, sf_dir, "events"), max_offset=26)


from .yelp_fixture import yelp_oracle_sql as _yelp_oracle_sql  # noqa: E402


@query(
    "yelp_unified_panel",
    _yelp_oracle_sql(),
    doc="End-to-end Yelp-semantics oracle (VERDICT r4 item 7): the full "
    "reference pipeline — business_etl (from_json raw parse, try_cast "
    "attribute flags with null-on-'None', hours overnight wrap + "
    "close==open edge, trim->split->explode->trim category grain, "
    "Business_ETL.py:61-150), review_etl (engagement sum, lexicon "
    "sentiment + +-0.05 labels, Review_ETL.py:60-85), user_etl (elite "
    "count, friends explode_outer, User_ETL.py:70-95), and the unified "
    "star join with prefix renames and its row-multiplying grain "
    "(join/unified_data_analytics.py:23-47) — over deterministic "
    "Yelp-shaped literal rows (plans/yelp_fixture.py), aggregated to an "
    "op-tagged panel: per-(state, category) business stats (hour sums "
    "are exact binary quarters by fixture design, decimal-summed) and "
    "per-state unified stats (row counts at the multiplied grain, "
    "engagement, positive-label and elite-row counts, business-stars "
    "sum). The DuckDB twin re-derives EVERYTHING from the same VALUES "
    "rows — both engines parse, flatten, wrap, explode, score, join, "
    "and aggregate independently.",
)
def yelp_unified_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.business import business_etl
    from ..operators.review import review_etl
    from ..operators.unified import unified_analytics
    from ..operators.user import user_etl
    from ..schemas import BUSINESS_RAW_SCHEMA, REVIEW_RAW_SCHEMA, USER_RAW_SCHEMA
    from .yelp_fixture import fixture_json_lines

    bl, rl, ul = fixture_json_lines()

    def parse(lines: list[str], schema) -> DataFrame:
        raw = spark.createDataFrame([(ln,) for ln in lines], "value string")
        return raw.select(F.from_json("value", schema).alias("r")).select("r.*")

    # NOTE on cost: with ~30 fixture rows this query is ~100% planning +
    # one-time codegen of the ETL expression trees (14 try_cast flags, 7
    # hours parsers, the sentiment when-chain) — measured: checkpointing
    # the parsed frames to deduplicate the trees saves only ~10% while
    # hiding the genuine ETL plan from EXPLAIN, so the plan stays lazy.
    biz = business_etl(parse(bl, BUSINESS_RAW_SCHEMA))
    rev = review_etl(parse(rl, REVIEW_RAW_SCHEMA))
    usr = user_etl(parse(ul, USER_RAW_SCHEMA))

    nulls = {
        "engagement_sum": F.lit(None).cast("bigint"),
        "n_positive": F.lit(None).cast("bigint"),
        "n_elite": F.lit(None).cast("bigint"),
        "bstars_sum": F.lit(None).cast("double"),
    }
    business_branch = (
        biz.groupBy("state", "category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("weekly_open_hours").cast("decimal(18,6)"))
            .cast("double")
            .alias("hours_sum"),
            F.sum("days_open").cast("bigint").alias("days_open_sum"),
            F.sum(F.when(F.col("accepts_credit_cards"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_credit"),
        )
        .select(
            F.lit("business").alias("op"), "state", "category", "n",
            "hours_sum", "days_open_sum", "n_credit",
            *[v.alias(k) for k, v in nulls.items()],
        )
    )
    uni = unified_analytics(rev, usr, biz)
    unified_branch = (
        uni.groupBy("state")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("engagement_score").cast("bigint").alias("engagement_sum"),
            F.sum(F.when(F.col("sentiment_label") == "positive", 1).otherwise(0))
            .cast("bigint")
            .alias("n_positive"),
            F.sum(F.when(F.col("elite_years_count") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_elite"),
            F.sum(F.col("business_stars").cast("decimal(18,6)"))
            .cast("double")
            .alias("bstars_sum"),
        )
        .select(
            F.lit("unified").alias("op"), "state",
            F.lit(None).cast("string").alias("category"), "n",
            F.lit(None).cast("double").alias("hours_sum"),
            F.lit(None).cast("bigint").alias("days_open_sum"),
            F.lit(None).cast("bigint").alias("n_credit"),
            "engagement_sum", "n_positive", "n_elite", "bstars_sum",
        )
    )
    return business_branch.unionAll(unified_branch)


def _friend_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward edges of the deterministic sparse friendship graph shared
    with friends_of_friends_recommendations (plans/core.py): each customer
    links to the next two in its nation's (acctbal, custkey) order, so
    degree is bounded (<= 4 after closure) at any corpus scale."""
    from pyspark.sql import Window

    c = tbl(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    leads = c.select(
        F.col("c_custkey").alias("src"),
        F.lead("c_custkey", 1).over(w).alias("d1"),
        F.lead("c_custkey", 2).over(w).alias("d2"),
    )
    return leads.select("src", F.explode(F.array("d1", "d2")).alias("dst")).filter(
        F.col("dst").isNotNull()
    )


@query(
    "triangle_count_friend_graph",
    """
    WITH fwd AS (
      SELECT src, unnest([d1, d2]) AS dst FROM (
        SELECT c_custkey AS src,
               lead(c_custkey, 1) OVER w AS d1,
               lead(c_custkey, 2) OVER w AS d2
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
      )
    ), und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM fwd WHERE dst IS NOT NULL AND src <> dst
    ), tris AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ), pv AS (
      SELECT id, COUNT(*) AS n_triangles FROM (
        SELECT x AS id FROM tris
        UNION ALL SELECT y FROM tris
        UNION ALL SELECT z FROM tris
      ) GROUP BY id
    ), dist AS (
      SELECT n_triangles, COUNT(*) AS n_vertices FROM pv GROUP BY n_triangles
    )
    SELECT 'global' AS scope,
           CAST(SUM(n_triangles * n_vertices) AS BIGINT) // 3 AS n_triangles,
           CAST(NULL AS BIGINT) AS n_vertices
    FROM dist
    UNION ALL
    SELECT 'per_vertex_dist' AS scope, n_triangles, n_vertices FROM dist
    """,
    doc="Triangle count over the friendship graph via degree-ordered "
    "orientation (Suri & Vassilvitskii 2011): every edge oriented from its "
    "lower-(degree,id) endpoint, so wedge fan-out is O(sqrt(m)) per vertex "
    "even on power-law graphs; wedge self-join + closing-edge equi-join, "
    "no cartesian (plan-pinned). Returns the per-vertex triangle-count "
    "distribution plus the global count (= sum/3 — each triangle touches "
    "3 vertices). Oracle-gated since round 5 (it is a pure join DAG, "
    "unlike the iterative CC/PageRank trackers): the DuckDB twin "
    "enumerates each triangle exactly once as an ordered a<b<c edge "
    "triple — an independent construction agreeing with the oriented-"
    "wedge plan. Python brute-force pin in tests/test_graph.py. "
    "Reference graph analogy: degree/motif reconciliation, "
    "test_cases/neo4j_test.cypher:40-44.",
)
def triangle_count_friend_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_count

    tv = triangle_count(_friend_edges(spark, sf_dir), per_vertex=True)
    # one small localCheckpoint: the distribution is a handful of rows and
    # feeds both output branches — without it the wedge DAG runs twice
    dist = (
        tv.groupBy("n_triangles")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
        .localCheckpoint()
    )
    g = dist.agg(
        F.expr("CAST(sum(n_triangles * n_vertices) AS BIGINT) div 3").alias("n_triangles")
    ).select(
        F.lit("global").alias("scope"),
        "n_triangles",
        F.lit(None).cast("bigint").alias("n_vertices"),
    )
    return g.unionAll(
        dist.select(F.lit("per_vertex_dist").alias("scope"), "n_triangles", "n_vertices")
    )


def _sql_gopher_panel() -> str:
    """DuckDB twin of gopher_repetition_panel: an independent n-gram
    construction (unnest + groupBy per n, gram char mass via
    length(replace(gram, ' ', ''))) pivoted per doc, the Rae et al. 2021
    thresholds applied as CAST(thr AS DOUBLE) * total_word_chars — a bare
    ``0.2`` literal would be DECIMAL in DuckDB and drift from Spark's
    double arithmetic. Counters are exact integers throughout, so the
    only float op is the single threshold multiply, identical IEEE on
    both engines. Promoted from tests/test_gopher.py's per-n twin in r7."""
    from ..operators.text import GOPHER_DUP_NGRAM_THRESHOLDS, GOPHER_TOP_NGRAM_THRESHOLDS

    top_ns = sorted(GOPHER_TOP_NGRAM_THRESHOLDS)
    dup_ns = sorted(GOPHER_DUP_NGRAM_THRESHOLDS)
    n_list = ", ".join(str(n) for n in top_ns + dup_ns)
    pivots = ",\n             ".join(
        [
            f"coalesce(max(CASE WHEN n = {n} THEN top_mass END), 0) AS top{n}"
            for n in top_ns
        ]
        + [
            f"coalesce(max(CASE WHEN n = {n} THEN dup_mass END), 0) AS dup{n}"
            for n in dup_ns
        ]
    )
    flag = "\n            AND ".join(
        [
            f"top{n} <= CAST({GOPHER_TOP_NGRAM_THRESHOLDS[n]!r} AS DOUBLE) * twc"
            for n in top_ns
        ]
        + [
            f"dup{n} <= CAST({GOPHER_DUP_NGRAM_THRESHOLDS[n]!r} AS DOUBLE) * twc"
            for n in dup_ns
        ]
    )
    return f"""
    WITH w AS (
      SELECT doc_id, source,
             list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS ws,
             length(replace(coalesce(text, ''), ' ', '')) AS twc
      FROM documents
    ),
    g AS (
      SELECT doc_id, n,
             unnest(list_transform(range(1, greatest(len(ws) - n + 1, 0) + 1),
                                   i -> array_to_string(ws[i:i+n-1], ' '))) AS gram
      FROM w CROSS JOIN (SELECT unnest([{n_list}]) AS n) ns
    ),
    c AS (
      SELECT doc_id, n, gram, count(*) AS cnt,
             length(replace(gram, ' ', '')) AS chars
      FROM g GROUP BY doc_id, n, gram
    ),
    per_n AS (
      SELECT doc_id, n, max(cnt * chars) AS top_mass,
             sum(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END) AS dup_mass
      FROM c GROUP BY doc_id, n
    ),
    per_doc AS (
      SELECT w.doc_id, w.source, w.twc,
             {pivots}
      FROM w LEFT JOIN per_n ON w.doc_id = per_n.doc_id
      GROUP BY w.doc_id, w.source, w.twc
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN {flag} THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(twc) AS BIGINT) AS sum_word_chars,
           CAST(SUM(top2) AS BIGINT) AS sum_top2_chars,
           CAST(SUM(dup5) AS BIGINT) AS sum_dup5_chars,
           CAST(SUM(dup10) AS BIGINT) AS sum_dup10_chars
    FROM per_doc GROUP BY source
    """


@query(
    "gopher_repetition_panel",
    _sql_gopher_panel(),
    doc="Gopher repetition-filter panel (text.gopher_repetition_metrics, "
    "Rae et al. 2021 A1.1): per-document most-common-n-gram and "
    "duplicated-n-gram character mass as exact integers, aggregated to "
    "corpus pass rates per source plus the full quality gate "
    "(gopher_repetition_flags). Repetition is per-document computation, "
    "so the kernel is one zero-shuffle Arrow pass (the winnowing "
    "precedent) — at 100 TB the corpus streams once and only the "
    "per-source aggregate shuffles. Oracle: the independent DuckDB "
    "n-gram construction formerly pinned only in tests/test_gopher.py, "
    "promoted to the driver gate in r7 (slot freed by the "
    "lang_id_confusion -> doc_stats_panel merge); the per-doc-level twin "
    "stays in the test for fine-grained diagnostics.",
)
def gopher_repetition_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import gopher_repetition_flags, gopher_repetition_metrics

    d = tbl(spark, sf_dir, "documents")
    # source rides the kernel (carry) — no corpus-on-corpus doc_id rejoin
    m = gopher_repetition_metrics(d, carry=("source",))
    return (
        m.withColumn("ok", gopher_repetition_flags())
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("ok").cast("long")).alias("n_pass"),
            F.sum("total_word_chars").alias("sum_word_chars"),
            F.sum("top_2gram_chars").alias("sum_top2_chars"),
            F.sum("dup_5gram_chars").alias("sum_dup5_chars"),
            F.sum("dup_10gram_chars").alias("sum_dup10_chars"),
        )
        .orderBy("source")
    )


@query(
    "exact_substring_decontam",
    """
    WITH bp AS (
      SELECT doc_id + 100000 AS bench_id, substring(text, 1, 40) AS pat
      FROM documents
      WHERE doc_id % 25 = 0 AND length(substring(text, 1, 40)) >= 20
    ),
    hits AS (
      -- strpos pre-filter first (a tight scalar scan), THEN enumerate
      -- positions only on actual (doc, pattern) hits — the lambda
      -- enumeration over ALL pairs is intractable at the sf1 parity
      -- sweep (50k docs x 2k patterns x ~300 positions)
      SELECT b.bench_id, d.doc_id,
             len(list_filter(range(1, length(d.text) - length(b.pat) + 2),
                             i -> substring(d.text, i, length(b.pat)) = b.pat))
               AS n_occ,
             strpos(d.text, b.pat) AS first_pos
      FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents) d
      JOIN bp b ON strpos(d.text, b.pat) > 0
    )
    SELECT bench_id, COUNT(*) AS n_docs_hit,
           CAST(SUM(n_occ) AS BIGINT) AS n_occurrences,
           CAST(MIN(first_pos) AS BIGINT) AS min_first_pos
    FROM hits WHERE n_occ > 0
    GROUP BY bench_id
    """,
    doc="Exact verbatim-substring decontamination (decontam."
    "exact_substring_hits, the Lee et al. 2022 check): benchmark strings "
    "(here: 40-char prefixes of every 25th document, harvested "
    "deterministically) compile into ONE Aho-Corasick automaton — built "
    "per worker from the closure-shipped pattern list and "
    "fingerprint-cached (r7) — and the corpus streams through a single "
    "Arrow pass: "
    "O(chars + hits) per doc regardless of pattern count, zero shuffle, "
    "vs O(patterns x chars) for per-pattern contains. Output: hit-count "
    "rollup per benchmark string. Complements the n-gram collision check "
    "(decontam_ngram_overlap): n-grams tolerate tokenization drift, the "
    "automaton catches sub-n-gram verbatim strings. Oracle: an "
    "independent DuckDB position-enumeration (overlapping occurrences "
    "counted via every start index, first_pos via strpos) — promoted "
    "from tests/test_exact_substring.py to the driver gate in r7 (slot "
    "freed by the minhash_lsh -> jaccard_pairs_panel merge). The "
    "cross-join is oracle-side only (bounded: 20 patterns x 500 docs at "
    "oracle SF); the Spark plan stays the single automaton scan.",
)
def exact_substring_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.decontam import exact_substring_hits

    d = tbl(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.substring("text", 1, 40).alias("text"),
    )
    hits = exact_substring_hits(d, bench, min_len=20)
    return (
        hits.groupBy("bench_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs_hit"),
            F.sum("n_occurrences").alias("n_occurrences"),
            F.min("first_pos").alias("min_first_pos"),
        )
        .orderBy("bench_id")
    )


# ---------------------------------------------------------------------------
# Rows-only sketch queries — REGISTERED LAST by design: the driver's
# CORRECTNESS gate records the first 50 registry entries, so every
# oracle-backed query must precede these. Their correctness is pytest-pinned
# (determinism, recall floors, JVM-equivalence) instead of SQL-oracled.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Within-corpus duplicate-span detection (operators/selfdedup.py)
# ---------------------------------------------------------------------------


#: Exact DuckDB twin of the registered tracker below — pinned in
#: tests/test_selfdedup.py (full row/schema/value compare via the oracle
#: harness machinery). Lives here, not in the test, so a future slot
#: opening can promote it into the driver gate verbatim.
DUPLICATE_SPANS_STATS_ORACLE = (
    _sql_duplicate_spans(5, 2)
    + """
    SELECT d.doc_id,
           len(string_split(d.text, ' '))::BIGINT AS n_tokens,
           COALESCE(s.n_spans, 0)::BIGINT AS n_spans,
           COALESCE(s.dup_tokens, 0)::BIGINT AS dup_tokens
    FROM documents d
    LEFT JOIN (
      SELECT doc_id, count(*) AS n_spans, sum(span_tokens) AS dup_tokens
      FROM spans GROUP BY doc_id
    ) s USING (doc_id)
    """
)

#: Span-granular twin (same CTE chain, raw spans out).
DUPLICATE_SPANS_ORACLE = (
    _sql_duplicate_spans(5, 2)
    + """
    SELECT doc_id, span_start::BIGINT AS span_start,
           span_end::BIGINT AS span_end, span_tokens::BIGINT AS span_tokens,
           n_grams::BIGINT AS n_grams,
           max_occurrences::BIGINT AS max_occurrences
    FROM spans
    """
)


@query(
    "duplicate_spans_panel",
    DUPLICATE_SPANS_STATS_ORACLE,  # promoted into the driver gate in the
    # r8 twin rotation (was rows-only by slot; tests/test_selfdedup.py
    # still pins the stats panel, the raw span boundaries, and a
    # planted-duplicate python model).
    doc="Within-corpus exact duplicate-span detection (operators/"
    "selfdedup.py, Lee et al. 2022 ExactSubstr): per-doc count of "
    "maximal duplicated token spans (word-5-grams occurring >= 2x in "
    "the corpus, overlapping covers interval-unioned) and the exact "
    "duplicated token mass. The distributed stand-in for the paper's "
    "single-machine suffix array: positional-gram posexplode -> one "
    "partial-agg'd gram-count shuffle -> AQE/bloom-pruned join-back -> "
    "windowed interval union over only the MATCHED grams. Integer "
    "counters only (float fractions left to the caller), same "
    "no-drift policy as the Gopher panel.",
)
def duplicate_spans_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.selfdedup import duplicate_span_stats

    d = tbl(spark, sf_dir, "documents")
    return duplicate_span_stats(d, "doc_id", "text", k=5, min_count=2)


#: Exact DuckDB twin of semantic_decontam_report — driver-gated since
#: round 8 and still pinned in tests/test_semantic_decontam.py.
SEMANTIC_DECONTAM_ORACLE = """
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
      FROM embeddings
    ), b AS (
      SELECT vec_id AS bench_id, v, n FROM e
      WHERE vec_id % 19 = 0 AND vec_id < 2000
    ), t AS (
      SELECT vec_id, v, n FROM e
      WHERE vec_id % 19 != 0 OR vec_id >= 2000
    ), hits AS (
      SELECT t.vec_id, b.bench_id,
             round(list_dot_product(t.v, b.v) / (t.n * b.n), 6) AS cosine
      FROM t, b
      WHERE round(list_dot_product(t.v, b.v) / (t.n * b.n), 6) >= 0.40
    )
    SELECT vec_id,
           max(cosine) AS max_cosine,
           (SELECT h2.bench_id FROM hits h2 WHERE h2.vec_id = hits.vec_id
            ORDER BY h2.cosine DESC, h2.bench_id ASC LIMIT 1) AS nearest_bench_id,
           count(*)::BIGINT AS n_bench_hits
    FROM hits GROUP BY vec_id
"""


@query(
    "semantic_decontam_report",
    SEMANTIC_DECONTAM_ORACLE,  # promoted into the driver gate in round 8
    # (VERDICT r7 item 1; slot freed by merging sessionize_events into
    # event_lifecycle_panel); the twin stays pinned (with a planted-
    # paraphrase model) in tests/test_semantic_decontam.py
    doc="Embedding-space decontamination (operators/decontam.py:"
    "semantic_contamination — the semantic screen n-gram collision "
    "misses, Llama-3-style eval hygiene): training vectors whose cosine "
    "to any held-out benchmark vector (vec_id % 19 = 0 AND vec_id < 2000 — BOUNDED, because real eval sets are constant-size while the corpus grows; an unbounded %-slice measured 72x wall for 10x data and the operator now raises past max_bench_rows) reaches 0.40 — "
    "the synthetic isotropic embeddings' near-dup regime (max neighbor "
    "cosine ~0.60). The benchmark side broadcasts; the corpus streams "
    "once with zero shuffle; only the bounded hit set aggregates. "
    "Rounded-before-threshold cosines keep both engines bit-agreed. "
    "Runs the Arrow/BLAS strategy (one matmul per corpus batch vs the "
    "bench matrix): measured 17x over the interpreted per-pair HOF "
    "fold at scaledata sf1 and scale-FLAT 0.66 -> 0.67s for 10x data; "
    "impl=jvm stays the oracle-reference twin, ==arrow pinned.",
)
def semantic_decontam_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.decontam import semantic_contamination

    e = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", sim.as_double_vec(F.col("embedding")).alias("v")
    )
    bench = e.filter((F.col("vec_id") % 19 == 0) & (F.col("vec_id") < 2000))
    train = e.filter((F.col("vec_id") % 19 != 0) | (F.col("vec_id") >= 2000))
    return semantic_contamination(
        train, bench, "vec_id", "v", threshold=0.40, impl="arrow"
    )


#: Exact DuckDB twin of incremental_dedup_panel — pinned in
#: tests/test_incdedup.py (full row/schema/value compare); in the r8+
#: gate-rotation queue for promotion (COVERAGE.md 'Oracle-gate rotation').
INCREMENTAL_DEDUP_ORACLE = f"""
    WITH store AS (SELECT * FROM documents WHERE doc_id % 4 != 0),
    batch AS (SELECT * FROM documents WHERE doc_id % 4 = 0),
    exfp AS (
      SELECT doc_id,
             md5(coalesce(array_to_string(list_slice({TOKS}, 1, 2), ' '), '')) AS fp
      FROM store
    ), exrn AS (
      SELECT fp, doc_id,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM exfp
    ), exidx AS (
      SELECT fp, MIN(doc_id) AS m1, MAX(doc_id) AS m2
      FROM exrn WHERE rn <= 2 GROUP BY 1
    ), ex AS (
      SELECT b.lang, b.doc_id,
             CASE WHEN b.doc_id = e.m1
                  THEN (CASE WHEN e.m2 != e.m1 THEN e.m2 END)
                  ELSE e.m1 END AS dup_of
      FROM batch b LEFT JOIN exidx e
        ON md5(coalesce(array_to_string(
             list_slice(string_split(b.text, ' '), 1, 2), ' '), '')) = e.fp
    ), {_sql_band_ctes('store', 's')}, {_sql_band_ctes('batch', 'b')},
    nd_pairs AS (
      SELECT DISTINCT bb.doc_id AS batch_id, sb.doc_id AS index_id
      FROM bbands bb JOIN sbands sb
        ON bb.band = sb.band AND bb.band_hash = sb.band_hash
      WHERE bb.doc_id != sb.doc_id
    ), exagg AS (
      SELECT lang, COUNT(*) AS n_batch_docs,
             CAST(SUM(CASE WHEN dup_of IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_dups
      FROM ex GROUP BY 1
    ), ndagg AS (
      SELECT b.lang,
             CAST(COUNT(DISTINCT p.batch_id) AS BIGINT) AS n_near_dup_docs,
             COUNT(*) AS n_near_pairs
      FROM nd_pairs p JOIN batch b ON p.batch_id = b.doc_id GROUP BY 1
    )
    SELECT e.lang, e.n_batch_docs, e.n_exact_dups,
           CAST(COALESCE(n.n_near_dup_docs, 0) AS BIGINT) AS n_near_dup_docs,
           CAST(COALESCE(n.n_near_pairs, 0) AS BIGINT) AS n_near_pairs
    FROM exagg e LEFT JOIN ndagg n USING (lang)
"""


@query(
    "incremental_dedup_panel",
    INCREMENTAL_DEDUP_ORACLE,  # promoted into the driver gate in the r9
    # rotation (VERDICT r8 item 1; slot freed by demoting the r3-stable
    # setops_customer_cohorts); the twin stays pinned in
    # tests/test_incdedup.py.
    doc="Incremental (cross-snapshot) dedup (operators/incdedup.py — the "
    "100-TB crawl shape: the existing corpus is indexed ONCE into an "
    "exact-fingerprint store and a MinHash band store; each new batch "
    "joins the STORES, never the old text). Panel: docs with doc_id%4==0 "
    "play today's crawl against the rest as yesterday's corpus — per-lang "
    "batch size, exact-fingerprint dup count (dup_of = min store id, "
    "deterministic), near-dup candidate docs and pairs via the shared "
    "minhash_band_rows construction (k=8, r=2, word-3-shingles, same "
    "layer as minhash_lsh_candidates). Store-side mega-bucket guard on "
    "by default (max_store_bucket=10k, loud executor-side raise).",
)
def incremental_dedup_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import incdedup

    d = tbl(spark, sf_dir, "documents")
    store = d.filter(F.col("doc_id") % 4 != 0)
    batch = d.filter(F.col("doc_id") % 4 == 0)
    ex = incdedup.exact_dups_against_index(
        batch, incdedup.exact_fingerprint_index(store)
    )
    pairs = incdedup.near_dup_candidates_against_index(
        batch, incdedup.minhash_band_index(store)
    )
    exagg = ex.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_batch_docs"),
        F.sum(F.col("dup_of").isNotNull().cast("int")).cast("bigint").alias(
            "n_exact_dups"
        ),
    )
    ndagg = (
        pairs.join(
            batch.select(F.col("doc_id").alias("batch_id"), "lang"), "batch_id"
        )
        .groupBy("lang")
        .agg(
            F.countDistinct("batch_id").alias("n_near_dup_docs"),
            F.count(F.lit(1)).alias("n_near_pairs"),
        )
    )
    return exagg.join(ndagg, "lang", "left").select(
        "lang",
        "n_batch_docs",
        "n_exact_dups",
        F.coalesce("n_near_dup_docs", F.lit(0)).cast("bigint").alias(
            "n_near_dup_docs"
        ),
        F.coalesce("n_near_pairs", F.lit(0)).cast("bigint").alias("n_near_pairs"),
    )



#: Exact DuckDB twin of perplexity_bucket_panel — pinned in
#: tests/test_ppl.py (full row compare at two SFs); in the gate-rotation
#: queue (COVERAGE.md 'Oracle-gate rotation').
PERPLEXITY_BUCKET_ORACLE = """
    WITH toksrc AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x != '') AS t
      FROM documents
    ), stream AS (
      SELECT doc_id, lang,
             unnest(range(0, len(t))) AS pos,
             unnest(list_prepend(CAST(NULL AS VARCHAR),
                                 list_slice(t, 1, len(t) - 1))) AS w1,
             unnest(t) AS w2
      FROM toksrc
    ), uni AS (
      SELECT w2 AS w, COUNT(*)::BIGINT AS u_cnt FROM stream GROUP BY 1
    ), bi AS (
      SELECT w1, w2, COUNT(*)::BIGINT AS b_cnt
      FROM stream WHERE w1 IS NOT NULL GROUP BY 1, 2
    ), total AS (SELECT SUM(u_cnt)::BIGINT AS n FROM uni),
    sc AS (
      SELECT s.doc_id, s.lang,
             CASE WHEN b.b_cnt IS NOT NULL
                  THEN b.b_cnt / CAST(u1.u_cnt AS DOUBLE)
                  ELSE (CASE WHEN s.pos > 0 THEN 0.4 ELSE 1.0 END)
                       * coalesce(u2.u_cnt, 1) / CAST(t.n AS DOUBLE)
             END AS s
      FROM stream s
      LEFT JOIN bi b ON s.w1 = b.w1 AND s.w2 = b.w2
      LEFT JOIN uni u2 ON s.w2 = u2.w
      LEFT JOIN uni u1 ON s.w1 = u1.w
      CROSS JOIN total t
    ), docppl AS (
      SELECT doc_id, lang, round(pow(10.0, avg(-log10(s))), 6) AS ppl
      FROM sc GROUP BY 1, 2
    ), buck AS (
      SELECT *, ntile(3) OVER (PARTITION BY lang ORDER BY ppl, doc_id)
             AS bucket
      FROM docppl
    )
    SELECT lang,
           CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket_name,
           COUNT(*)::BIGINT AS n_docs, MIN(ppl) AS min_ppl,
           MAX(ppl) AS max_ppl
    FROM buck GROUP BY 1, 2
"""


@query(
    "perplexity_bucket_panel",
    PERPLEXITY_BUCKET_ORACLE,  # promoted into the driver gate in the r9
    # rotation (VERDICT r8 item 4; slot freed by merging the two
    # embedding gate panels into embedding_similarity_panel); the twin
    # stays pinned in tests/test_ppl.py.
    # min/max per bucket (order-insensitive over the rounded
    # ppl) keep the compare exact where an avg would ride float sum
    # order.
    doc="N-gram LM perplexity filtering (operators/ppl.py — the CCNet "
    "screen, Wenzek et al. 2020, with Stupid Backoff smoothing, Brants "
    "et al. 2007): fit bigram/unigram count tables DISTRIBUTED (two "
    "groupBys — the model is a DataFrame pair, never a driver collect), "
    "score every doc's mean -log10 backoff probability in one pass "
    "(bigram join is the one shuffle; unigram tables broadcast), split "
    "each language into head/middle/tail terciles by rounded ppl "
    "(ntile window, ties by doc id — cross-engine stable). Panel: per "
    "(lang, bucket) doc count and ppl range. JVM end to end.",
)
def perplexity_bucket_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ppl import (
        fit_bigram_lm,
        perplexity_terciles,
        score_perplexity,
    )

    d = tbl(spark, sf_dir, "documents")
    scored = score_perplexity(d, fit_bigram_lm(d), carry=("lang",)).filter(
        F.col("ppl").isNotNull()
    )
    buck = perplexity_terciles(scored, by="lang")
    return (
        buck.groupBy("lang", "bucket_name")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("ppl").alias("min_ppl"),
            F.max("ppl").alias("max_ppl"),
        )
        .coalesce(1)
        .sortWithinPartitions("lang", "bucket_name")
    )



#: Exact DuckDB twin of bm25_topk_panel — pinned in tests/test_bm25.py;
#: in the gate-rotation queue.
BM25_TOPK_ORACLE = """
    WITH toksrc AS (
      SELECT doc_id,
             list_filter(string_split(coalesce(text, ''), ' '), x -> x != '')
               AS t
      FROM documents
    ), stats AS (
      SELECT COUNT(*)::BIGINT AS n_docs, AVG(len(t)) AS avgdl FROM toksrc
    ), base AS (
      SELECT doc_id, len(t) AS dl,
             list_filter(t, x -> list_contains(
               ['data', 'hash', 'merge', 'window'], x)) AS hits
      FROM toksrc
    ), posting AS (
      SELECT doc_id, dl, unnest(hits) AS tt FROM base WHERE len(hits) > 0
    ), tfc AS (
      SELECT doc_id, dl, tt, COUNT(*)::BIGINT AS tf
      FROM posting GROUP BY 1, 2, 3
    ), dfreq AS (
      SELECT tt, COUNT(DISTINCT doc_id)::BIGINT AS df FROM posting GROUP BY 1
    ), idf AS (
      SELECT tt, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf, avgdl
      FROM dfreq CROSS JOIN stats
    ), sc AS (
      SELECT doc_id, COUNT(*)::BIGINT AS n_hit_terms,
             round(SUM(idf * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))), 6)
               AS score
      FROM tfc JOIN idf USING (tt) GROUP BY 1
    )
    SELECT doc_id, n_hit_terms, score, rank FROM (
      SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                AS INTEGER) AS rank
      FROM sc
    ) WHERE rank <= 15
"""


@query(
    "bm25_topk_panel",
    BM25_TOPK_ORACLE,  # promoted into the driver gate in the r9
    # rotation's third swap (slot freed by demoting the r2-stable
    # approx_aggregates, whose tolerance accuracy keeps its own
    # independent pin) — with this, EVERY exact DuckDB twin in the repo
    # has driver-executed coverage; the twin stays pinned in
    # tests/test_bm25.py.
    doc="BM25 retrieval scoring (operators/bm25.py, Robertson & "
    "Zaragoza 2009; Lucene's non-negative idf): rank documents against "
    "a bag-of-terms query in ONE posting pass — the token array filters "
    "to the query's terms IN-PLAN before the explode (the posting "
    "stream carries only matching positions, never corpus positions) "
    "and document frequency folds off the same tf aggregate — plus one "
    "narrow N/avgdl aggregate; idf broadcasts, scores round to 6 "
    "decimals before the deterministic rank (ties by doc id). Panel: "
    "top-15 docs for a fixed 4-term probe query.",
)
def bm25_topk_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bm25 import bm25_topk

    d = tbl(spark, sf_dir, "documents")
    return bm25_topk(d, ["data", "hash", "merge", "window"], k=15).select(
        "doc_id", "n_hit_terms", "score", "rank"
    )



@query(
    "lsh_ann_topk",
    None,  # rotation matrices in SQL would be absurd; recall pytest-pinned
    doc="LSH-bucketed approximate nearest neighbors, cross-polytope family "
    "(Andoni et al. 2015): 24 tables of rotate->argmax buckets, query-side "
    "4-probe multiprobe, exact rescoring of candidates. Upgraded from "
    "round-1 hyperplane sign-LSH (0.68 recall at 37% coverage on this "
    "isotropic corpus — the sign-bit worst case) to measured recall "
    ">=0.96 at ~47% candidate coverage across sf0.001/0.01/0.1. Rows-only "
    "driver check; pytest pins recall >= 0.9 and coverage < 0.5 vs the "
    "ann_cosine_topk ground truth.",
)
def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", sim.as_double_vec(F.col("embedding")).alias("v")
    )
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "v")
    c = e.filter(F.col("vec_id") >= 5).select(F.col("vec_id").alias("c_id"), "v")
    return sim.cross_polytope_ann_topk(
        q, c, dim=64, query_id="q_id", corpus_id="c_id", vec_col="v", k=10,
        n_tables=24, n_probes=4,
    )


@query(
    "ann_cosine_topk_arrow",
    None,  # numpy pairwise-summed dot differs in final ulps from a fold;
    # exactness vs the JVM implementation is pytest-pinned instead
    doc="Arrow-vectorized exact cosine top-k: mapInPandas + one BLAS matmul "
    "per Arrow batch against the closure-captured query matrix, partial "
    "top-k per batch. The sanctioned Pandas-UDF case (dense linear "
    "algebra): measured 2.9x at 200 queries, 7.4x at 500 vs the "
    "interpreted HOF fold; below ~100 queries the JVM fold wins "
    "(Python-worker fixed cost) — see operators/similarity.py.",
)
def ann_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", sim.as_double_vec(F.col("embedding")).alias("v")
    )
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "v")
    c = e.filter(F.col("vec_id") >= 5).select(F.col("vec_id").alias("c_id"), "v")
    return sim.arrow_cosine_topk(q, c, "q_id", "c_id", "v", k=10)


@query(
    "ivf_ann_topk",
    None,  # k-means quantizer is engine-specific; recall pytest-pinned
    doc="IVF approximate nearest neighbors: deterministic sample-trained "
    "Lloyd's coarse quantizer (materialized centroid table), corpus "
    "assigned to inverted lists distributed, queries probe their 8 "
    "nearest of 32 lists (~27% coverage, measured recall ~0.74 on this "
    "isotropic corpus). Registered as the CLUSTERED-data scale path: "
    "with no cluster structure IVF's frontier stays under 0.9 recall at "
    "<50% coverage (frontier table in operators/ivf.py); the "
    "cross-polytope lsh_ann_topk is the isotropic-data path (>=0.96).",
)
def ivf_ann_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ivf import ivf_ann_topk, ivf_index, train_ivf_centroids

    e = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", sim.as_double_vec(F.col("embedding")).alias("v")
    )
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "v")
    c = e.filter(F.col("vec_id") >= 5).select(F.col("vec_id").alias("c_id"), "v")
    cent = train_ivf_centroids(c, "c_id", "v", n_lists=32, iters=5)
    idx = ivf_index(c, cent, "c_id", "v")
    return ivf_ann_topk(q, idx, cent, "q_id", "c_id", "v", k=10, nprobe=8)


# ---------------------------------------------------------------------------
# Fast-hash (xxhash64) production variants — BENCH-tracked rows-only queries
# (BASELINE.md "Fast-hash variant" table). md5 twins above stay the oracle
# path; these pin the per-round numbers of the hash family production uses.
# Registered LAST (after every oracle-backed query) like the other
# rows-only entries.
# ---------------------------------------------------------------------------


@query(
    "minhash_lsh_pairs_xxhash64",
    None,  # hash family is engine-specific; md5 twin is the oracle path
    doc="jaccard_pairs_panel's minhash_lsh family with hash_impl=xxhash64 "
    "(Spark-native "
    "JVM xxHash64 folded to [0, 2^32)): the production hash path, ~-27% "
    "vs md5 at sf0.1 (BASELINE.md fast-hash table). Same banding plan; "
    "blocking power equivalent (uniform 32-bit family).",
)
def minhash_lsh_pairs_xxhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    return dd.minhash_lsh_candidates(
        d, "doc_id", "text", k=8, rows_per_band=2, shingle_n=3, hash_impl="xxhash64"
    )


@query(
    "simhash_fingerprints_xxhash64",
    None,
    doc="simhash_fingerprints with hash_impl=xxhash64: production hash "
    "path, ~-26% vs md5 at sf0.1 (BASELINE.md fast-hash table).",
)
def simhash_fingerprints_xxhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    return dd.simhash_rows_kernel(
        d, "doc_id", "text", bits=16, hash_impl="xxhash64",
        min_partitions=spark.sparkContext.defaultParallelism,
    )


@query(
    "winnowing_fingerprints_xxhash64",
    None,
    doc="Arrow winnowing kernel with hash_impl=xxhash64 — the production "
    "fast-hash path on the production (shuffle-free) plan shape, same "
    "cross-doc groupBy tail as winnowing_shared_fingerprints. The kernel "
    "reproduces F.xxhash64 bit-exactly via numpy-vectorized XXH64 "
    "(functions/xxhash.py) so the fast-hash family no longer pays the "
    "relational substring+explode form (was 5.8s at sf0.1; the relational "
    "winnowing_fingerprints_long(hash_impl='xxhash64') remains the tested "
    "pure-JVM fallback and the equivalence test's second witness).",
)
def winnowing_fingerprints_xxhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents").filter(F.length("text") >= 8)
    fps = tx.winnowing_fingerprints_arrow(
        d, "doc_id", "text", k=8, window=4, hash_impl="xxhash64",
        min_partitions=spark.sparkContext.defaultParallelism,
    )
    return (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


@query(
    "pq_ann_topk",
    None,  # quantizer is engine-specific; recall/determinism pytest-pinned
    doc="Product-quantization ANN (Jegou et al. 2011, the FAISS PQ family): "
    "per-subspace codebooks (byte-capped deterministic training), corpus "
    "stored as m=16 6-bit codes (16x compression at dim 64 float32 — the "
    "path that makes a 100 TB corpus scan as a few TB of codes), ADC "
    "lookup-table scan (zero shuffle, codes stream once), exact rerank of "
    "the top-100 shortlist via an id equi-join fetching only shortlist "
    "vectors. Vectors unit-normalized so ADC's L2 order equals cosine "
    "order; output schema matches ann_cosine_topk for direct recall "
    "comparison. Measured frontier on this isotropic corpus: m=16/k=64/"
    "R=100 recall 1.00 at 5% coverage (sf0.1); m=8/k=32 needs 20% "
    "coverage for 0.96 — subspace count is the recall lever, exactly the "
    "PQ paper's result. codes=None fuses encode+ADC into ONE Arrow pass "
    "(the ad-hoc-search shape benched here: no persisted codes table, so "
    "crossing the Python boundary twice was pure overhead; fused==two-"
    "stage pinned in tests/test_pq.py).",
)
def pq_ann_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_ann_topk, train_pq_codebooks

    e = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", sim.as_double_vec(F.col("embedding")).alias("v0")
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("v0"), lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    e = e.select(
        "vec_id", F.transform(F.col("v0"), lambda x: x / norm).alias("v")
    )
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "v")
    c = e.filter(F.col("vec_id") >= 5).select(F.col("vec_id").alias("c_id"), "v")
    books = train_pq_codebooks(c, "c_id", "v", m=16, n_codes=64, iters=5)
    return pq_ann_topk(q, None, c, books, "q_id", "c_id", "v", k=10, rerank=100)


@query(
    "pagerank_friend_graph",
    None,  # iterative fixpoint — not SQL-expressible; python-recompute
    # pinned to 1e-6 in tests/test_components.py
    doc="Damped PageRank (Page et al. 1999) over the symmetric friendship "
    "graph — the iterative-analytics bench tracker (VERDICT r3 item 3). "
    "Per round: ONE equi-join (edges x ranks) + ONE groupBy(dst), both "
    "shuffles keyed on vertex id; dangling mass is a 1-row broadcast "
    "scalar, never a rank-vector collect; lineage cut per round via "
    "localCheckpoint; convergence tested every 4th round (batched driver "
    "actions). Plan pins in tests/test_plans.py: no cartesian beyond the "
    "1-row scalar, no Python eval.",
)
def pagerank_friend_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import pagerank

    fwd = _friend_edges(spark, sf_dir)
    # forward edges all run low->high (acctbal, custkey) rank, so the
    # reversed closure is provably disjoint: UNION ALL, no distinct
    sym = fwd.unionAll(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    ranks = pagerank(sym, max_iter=8, tol=1e-6)
    return ranks.select("id", F.round("rank", 9).alias("rank"))


@query(
    "connected_components_friend_graph",
    None,  # iterative fixpoint — union-find oracle pinned in pytest
    doc="Connected components over the friendship graph, aggregated to "
    "component sizes — the second iterative bench tracker. The friend "
    "graph has 29,925 edges at sf0.1 (2,925 at sf0.01), inside "
    "connected_components' 100k-edge local-finish bound, so at these "
    "scales the tracker runs NO star rounds: one bounded Arrow collect "
    "and a driver-side union-find (5 jobs instead of 24, 2.9 -> 0.8 s at "
    "sf0.1 on 4 cores). Above the bound it uses the alternating "
    "large-star/small-star contraction (Kiveris et al. 2014): the nation "
    "chains have diameter ~n_customers/50, so hash-min label propagation "
    "(O(diameter) rounds) is the wrong algorithm here; star contraction "
    "converges in O(log^2 n) round-pairs, each a groupBy+join on the same "
    "key, after a per-partition union-find Arrow pass (two-phase CC) "
    "collapses each partition's edges to depth-1 star forests with ZERO "
    "shuffle. Local-finish==star==hashmin==python-union-find equality "
    "(across partition layouts) pinned in tests/test_components.py. One "
    "component per represented nation.",
)
def connected_components_friend_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components

    fwd = _friend_edges(spark, sf_dir)
    comps = connected_components(fwd, src="src", dst="dst", max_iter=40, algorithm="star")
    return comps.groupBy(F.col("comp").alias("component")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


@query(
    "bfs_distances_binary_tree",
    None,  # frontier iteration — python-BFS equality pinned in tests/test_bfs.py
    doc="Multi-source BFS bench tracker (operators/bfs.py): distances from "
    "each nation's root over a deterministic per-nation binary tree "
    "(rank r parents ranks 2r and 2r+1 in the nation's (acctbal, custkey) "
    "order — built by EXPLODING each parent's two target ranks and "
    "equi-joining on (nation, rank): no non-equi join, no per-nation "
    "cartesian). Depth grows as log2(nation size) — ~10 levels at sf0.1 — "
    "so the tracker measures per-level frontier-join cost, the quantity "
    "that matters at cluster scale. Output: vertices per distance level "
    "(one row per level). Registered rows-only AFTER the 50 oracle slots "
    "(VERDICT r4 item 5: pytest-only analytics gain bench visibility).",
)
def bfs_distances_binary_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.bfs import bfs_distances

    c = tbl(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    ranked = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("nat"),
        F.row_number().over(w).alias("r"),
    )
    targets = ranked.select(
        F.col("id").alias("src"),
        "nat",
        F.explode(F.array(F.col("r") * 2, F.col("r") * 2 + 1)).alias("cr"),
    )
    child = ranked.select(F.col("id").alias("dst"), "nat", F.col("r").alias("cr"))
    edges = targets.join(child, ["nat", "cr"]).select("src", "dst")
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sources = ranked.filter(F.col("r") == 1).select("id")
    # sym carries both directions of every edge, so the undirected
    # two-frontier dedup applies (O(frontier) per level, not O(visited))
    dists = bfs_distances(sym, sources, max_depth=40, undirected=True)
    return dists.groupBy("dist").agg(F.count(F.lit(1)).alias("n_vertices"))


@query(
    "k_core_cooccurrence_graph",
    None,  # iterative peel — python-model pinned in tests/test_kcore.py
    doc="k-core decomposition bench tracker (operators/graph.py:k_core) "
    "over the REAL item co-occurrence graph (parts bought together, "
    "support >= 2 — the basket.py collapse feeds the graph op). "
    "Iterative peeling is one degree groupBy + two semi-joins per round "
    "on a shrinking checkpointed edge set; once the cascade shrinks "
    "under the shared 100k-edge local-finish bound, one bounded Arrow "
    "collect hands the survivors to an exact driver-side peel (the "
    "connected_components finish — at sf0.1 the 3.6k-edge graph takes "
    "that path before any round, at 100 TB the early rounds stay "
    "distributed). Cross-path equality pinned in tests/test_kcore.py. "
    "Rows-only after slot 50.",
)
def k_core_cooccurrence_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.basket import item_cooccurrence
    from ..operators.graph import k_core

    li = tbl(spark, sf_dir, "lineitem")
    pairs = item_cooccurrence(li, "l_orderkey", "l_partkey", min_pairs=2).select(
        F.col("item_a").alias("src"), F.col("item_b").alias("dst")
    )
    core = k_core(pairs, k=2)
    return core.agg(F.count(F.lit(1)).alias("n_core_vertices"))


@query(
    "link_prediction_friend_graph",
    None,  # python-model + triangle identity pinned in tests/test_linkpred.py
    doc="Link-prediction feature tracker (graph.link_prediction_features): "
    "common-neighbors / Adamic-Adar / Jaccard for non-adjacent 2-hop "
    "pairs of the friendship graph — the center-as-basket collapse with "
    "executor-local pair expansion (shared bucket_pairs kernel), no "
    "neighbor-list self-join. Output: candidate count + score moments "
    "per common-neighbor count (bounded rows at any scale). Rows-only "
    "after slot 50.",
)
def link_prediction_friend_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import link_prediction_features

    fwd = _friend_edges(spark, sf_dir)
    feats = link_prediction_features(fwd, min_common=1)
    return feats.groupBy("common_neighbors").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum("adamic_adar"), 6).alias("sum_adamic_adar"),
        F.round(F.sum("jaccard"), 6).alias("sum_jaccard"),
    )


@query(
    "ewma_customer_spend",
    None,  # genuinely sequential — O(n^2) direct-formula model pinned in
    # tests/test_timeseries.py
    doc="Wall-time-decayed EWMA bench tracker (timeseries.ewma_by_key, "
    "halflife 90 days) over each customer's order history — genuinely "
    "sequential (each output depends on the full decayed prefix; "
    "two-accumulator stable recursion), implemented as ONE repartition "
    "on the key + a partition-local sort + a single mapInPandas STREAM "
    "with O(1) carry state across batch and group boundaries — NOT "
    "applyInPandas: grouped-map builds one pandas frame per key, and "
    "with many small keys that per-group overhead dominated 35x "
    "(28s -> 0.8s at sf0.1); the stream also removes any per-key "
    "history-in-memory constraint. Output: final EWMA per customer "
    "bucketed to spend deciles (bounded rows, deterministic ewma "
    "tiebreak). Rows-only after slot 50.",
)
def ewma_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import ewma_by_key

    o = tbl(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        F.col("o_totalprice").alias("v"),
    )
    ew = ewma_by_key(o, "o_custkey", "ts", "v", halflife_seconds=90 * 86400.0)
    from pyspark.sql import Window

    latest = (
        ew.withColumn(
            "rn",
            F.row_number().over(
                # ewma as the final tiebreaker: two orders with identical
                # (ts, v) carry DIFFERENT ewma outputs (the prefix differs),
                # so without it the pick — and the bucket counts — would be
                # partitioning-dependent
                Window.partitionBy("o_custkey").orderBy(
                    F.desc("ts"), F.desc("v"), F.desc("ewma")
                )
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return latest.groupBy(
        (F.floor(F.col("ewma") / 50000) * 50000).alias("ewma_bucket")
    ).agg(F.count(F.lit(1)).alias("n_customers"))


@query(
    "heavy_hitters_doc_tokens",
    None,  # MG summaries are layout-dependent state; the layout-FREE
    # containment/presence bounds are pinned in tests/test_sketches.py
    doc="Mergeable heavy-hitter rollup tracker (sketches."
    "grouped_frequent_sketches — Misra-Gries 1982 / Agarwal et al. 2013 "
    "'Mergeable Summaries'): per-source token sketches over documents "
    "(one streaming Arrow pass, worker memory O(groups x 2m), never "
    "O(rows)), merged to the global grain (summary rows only), exploded "
    "to (item, count_lower, count_upper). The heavy-hitter member of "
    "the rollup trio next to the HLL distinct and shared-edge quantile "
    "sketches: store per day/source in parquet, merge months later, no "
    "raw re-scan. 100 TB application: hot-key detection feeding "
    "skew.salted_join's salt count without a full fact-table groupBy. "
    "Rows-only after slot 50 (sketch contents depend on partition "
    "layout; only the bounds are layout-free).",
)
def heavy_hitters_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import (
        frequent_items_from_sketch,
        grouped_frequent_sketches,
        merge_frequent_sketches,
    )

    d = tbl(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    per_source = grouped_frequent_sketches(toks, ["source"], "tok", m=16)
    merged = merge_frequent_sketches(per_source, group_cols=None, m=16)
    return frequent_items_from_sketch(merged)


@query(
    "kmv_distinct_rollup_orders",
    None,  # xxhash64-based sketch — engine-specific; the merge-closure
    # property is pinned in tests/test_sketches.py as EXACT equality
    doc="KMV (k-minimum-values) distinct rollup tracker (sketches."
    "grouped_kmv_sketches, Bar-Yossef et al. 2002 / Beyer et al. 2007): "
    "distinct customers per order priority as mergeable k-min arrays — "
    "the set-operations member of the sketch family (HLL unions only; "
    "KMV arrays also answer INTERSECTION and Jaccard via "
    "kmv_set_estimates). Output: per-priority distinct estimates plus "
    "the GLOBAL row computed by merging the per-priority sketches — the "
    "closure property (k smallest of a union of k-min arrays == the "
    "sketch of the union, EXACTLY) makes the rollup loss-free, pinned "
    "as equality in pytest. One streaming bounded-heap pass + a "
    "summary-row merge; rows-only after slot 50 (no xxhash64 in "
    "DuckDB).",
)
def kmv_distinct_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import (
        grouped_kmv_sketches,
        kmv_distinct_estimate,
        merge_kmv_sketches,
    )

    o = tbl(spark, sf_dir, "orders")
    per_prio = grouped_kmv_sketches(o, ["o_orderpriority"], "o_custkey", k=256)
    per_prio = per_prio.localCheckpoint()  # feeds both branches, tiny (5 rows)
    est = per_prio.select(
        "o_orderpriority",
        F.round(kmv_distinct_estimate(F.col("kmin"), 256), 4).alias("distinct_est"),
        "n_rows",
    )
    merged = merge_kmv_sketches(per_prio, group_cols=None, k=256).select(
        F.lit("ALL").alias("o_orderpriority"),
        F.round(kmv_distinct_estimate(F.col("kmin"), 256), 4).alias("distinct_est"),
        "n_rows",
    )
    return est.unionAll(merged)


@query(
    "semantic_dedup_embeddings",
    None,  # greedy-sequential within clusters — not SQL-expressible;
    # greedy-prefix model equality + layout independence pinned in
    # tests/test_semdedup.py
    doc="SemDeDup semantic near-dup removal (operators/semdedup.py, Abbas "
    "et al. 2023): IVF-cluster the embeddings table (the SAME sample-"
    "trained coarse quantizer the ANN index uses), then a greedy "
    "within-cluster prefix scan drops every vector whose cosine to an "
    "already-kept one exceeds the threshold. One zero-shuffle Arrow "
    "assignment + ONE groupBy(cluster) shuffle; per-cluster cost is "
    "O(c*kept*dim) — n_clusters bounds c, the 100-TB memory knob. "
    "Threshold 0.45 is this corpus's semantic-redundancy regime (the "
    "synthetic embeddings are isotropic — max neighbor cosine ~0.60, no "
    "literal dups; SemDeDup's paper likewise tunes the threshold to a "
    "target kept fraction, not to near-1 cosine — production callers "
    "derive it with semdedup.calibrate_threshold(corpus, target) rather "
    "than hand-tuning; 0.45 here keeps the tracker deterministic). "
    "Output: per-cluster keep/drop rollup (semantic_dedup_stats). "
    "Rows-only after slot 50.",
)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.semdedup import semantic_dedup, semantic_dedup_stats

    e = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", sim.as_double_vec(F.col("embedding")).alias("v")
    )
    v = semantic_dedup(e, "vec_id", "v", threshold=0.45, n_clusters=8)
    return semantic_dedup_stats(v).orderBy("list_id")




@query(
    "quality_gate_panel",
    None,  # rows-only by slot (the first 50 registry slots are the
    # driver's oracle set); every component flag is independently
    # oracle/twin-gated — gopher_repetition_panel (oracle), the C4 line
    # rules (DuckDB twin in tests/test_c4.py), and gopher_quality_flags
    # (python-model pin in tests/test_quality_gate.py, which also pins
    # THIS panel against a from-scratch python recombination)
    doc="The full pre-training quality gate in ONE corpus scan — the "
    "production composition every LLM data pipeline runs (the "
    "C4/Gopher/FineWeb-style filter stack): Gopher repetition flags "
    "(Arrow counter kernel + JVM thresholds), the Gopher QUALITY "
    "filters (word count / mean word length / symbol / bullet / "
    "ellipsis / alpha-word / stopword gates — gopher_quality_flags, "
    "pure codegen'd JVM exprs, no UDF), and the C4 document rules "
    "(lorem-ipsum / curly-brace / policy-phrase / kept-line floor), "
    "rolled up to per-source pass rates plus the conjunction. One "
    "mapInPandas pass + one aggregate shuffle — at 100 TB the corpus "
    "streams once through every filter (min_words=20 and "
    "min_kept_lines=1 and min_stopword_hits=1 fit the synthetic "
    "corpus' ~50-word single-stopword docs; production callers pass the "
    "paper defaults). Per-filter pass-rate columns exist precisely so a "
    "gate that zeroes a corpus is VISIBLE: the synthetic docs are "
    "single-line word soup with no terminal punctuation, so the C4 "
    "sentence rules pass 0 of them (pinned) and n_pass_all is 0 through "
    "that conjunct — the panel reports it rather than hiding it.",
)
def quality_gate_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import (
        c4_doc_flags,
        gopher_quality_flags,
        gopher_repetition_flags,
        gopher_repetition_metrics,
    )

    d = tbl(spark, sf_dir, "documents")
    # source AND text ride the kernel (carry): the quality/C4 gates are
    # JVM exprs over the carried text, so the whole panel stays one scan
    # with no corpus-on-corpus rejoin
    v = (
        gopher_repetition_metrics(d, carry=("source", "text"))
        .withColumn("rep_ok", gopher_repetition_flags())
        .withColumn(
            "qual_ok",
            gopher_quality_flags(F.col("text"), min_words=20, min_stopword_hits=1)[
                "passes_gopher_quality"
            ],
        )
        .withColumn(
            "c4_ok", c4_doc_flags(F.col("text"), min_kept_lines=1)["passes_c4"]
        )
    )
    return (
        v.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("rep_ok").cast("long")).alias("n_pass_repetition"),
            F.sum(F.col("qual_ok").cast("long")).alias("n_pass_quality"),
            F.sum(F.col("c4_ok").cast("long")).alias("n_pass_c4"),
            F.sum(
                (F.col("rep_ok") & F.col("qual_ok") & F.col("c4_ok")).cast("long")
            ).alias("n_pass_all"),
        )
        .orderBy("source")
    )


@query(
    "dsir_selection_panel",
    None,  # rows-only by slot; the hashed-feature layer has an exact
    # DuckDB twin and the weights/Gumbel-top-k a from-scratch python
    # model, both pinned in tests/test_dsir.py (weights rel 1e-9,
    # selection-set equality, layout invariance)
    doc="DSIR data selection (operators/dsir.py, Xie et al. 2023): score "
    "every doc's hashed unigram+bigram distribution against a target "
    "domain (the corpus' English slice stands in) vs the raw corpus, "
    "then deterministic Gumbel top-k without replacement. The "
    "log-ratio table is <= B rows and broadcasts; the corpus gram "
    "stream collapses map-side into one (doc, bucket) count row and "
    "shuffles once on the doc key; selection is a TakeOrdered. Panel: "
    "per-(source, lang) selected-doc counts — integers, deterministic "
    "(md5 feature hashes + md5 Gumbel draws survive repartitioning). "
    "Uses the single-pass flagged plan (the target is the corpus's "
    "English slice): ONE corpus scan feeds features and BOTH "
    "distribution fits — ==two-frame-path selection pinned.",
)
def dsir_selection_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dsir import dsir_select_flagged

    d = tbl(spark, sf_dir, "documents")
    picked = dsir_select_flagged(
        d, F.col("lang") == "en", k=100, buckets=4096, carry=("source", "lang")
    )
    return (
        picked.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_selected"))
        # static 1-partition sort: same deterministic order as orderBy
        # over this tiny panel, without the range-partitioner's extra
        # sampling job
        .coalesce(1)
        .sortWithinPartitions("source", "lang")
    )


#: Exact DuckDB twin of tfidf_top_terms — demoted from the driver gate
#: in the r8 twin rotation (slot given to duplicate_spans_panel); pinned
#: in tests/test_queries_oracle.py::test_demoted_twins_still_match so the
#: exact check never lapses, and re-promotable verbatim in a later
#: rotation.
TFIDF_ORACLE = f"""
    WITH bounded AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
    n_total AS (SELECT COUNT(*) AS n FROM documents),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest({TOKS}) AS tok FROM bounded)
      GROUP BY doc_id, tok
    ),
    df AS (
      SELECT tok, COUNT(*) AS df
      FROM (SELECT DISTINCT doc_id, unnest(list_distinct({TOKS})) AS tok FROM documents)
      GROUP BY tok
    )
    SELECT doc_id, tok, rnk, score FROM (
      SELECT tf.doc_id, tf.tok,
             round(tf.tf * ln((n_total.n + 1.0) / (df.df + 1.0)), 6) AS score,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY round(tf.tf * ln((n_total.n + 1.0) / (df.df + 1.0)), 6) DESC, tf.tok
             ) AS INTEGER) AS rnk
      FROM tf JOIN df USING (tok) CROSS JOIN n_total
    ) WHERE rnk <= 5
    """


@query(
    "tfidf_top_terms",
    None,  # rows-only by slot since the r8 rotation; TFIDF_ORACLE above
    # is the exact twin, pytest-pinned at sf0.001 and sf0.01.
    doc="TF-IDF top terms per document (SURVEY §2.9 text analysis: "
    "'TF-IDF via explode+groupBy+join'): corpus-wide document frequency, "
    "bounded output window, rank by rounded score for cross-engine "
    "determinism. At scale the df table is the only corpus-wide shuffle.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = tbl(spark, sf_dir, "documents")
    toks = tx.tokens_col(F.col("text"))
    n_total = d.agg(F.count(F.lit(1)).alias("n"))
    tf = (
        d.filter(F.col("doc_id") < 20)
        .select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = (
        d.select("doc_id", F.explode(F.array_distinct(toks)).alias("tok"))
        .distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        tf.join(df_t, "tok")
        .crossJoin(F.broadcast(n_total))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "tok", "rnk", "score")
    )


@query(
    "sessionize_events",
    None,  # rows-only by slot since round 8: the session-count histogram
    # is oracle-gated inside event_lifecycle_panel, and the per-user
    # grain's exact twin (plans/core.py:SESSIONIZE_USER_ORACLE) is
    # pytest-pinned in tests/test_queries_oracle.py.
    doc="Per-user sessionization grain (lag + 30-min gap flag + per-user "
    "session/event counts — plans/core.py:sessionize_events). Kept "
    "driver-visible at full grain after the round-8 merge of its "
    "histogram rollup into event_lifecycle_panel.",
)
def sessionize_events_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .core import sessionize_events

    return sessionize_events(spark, sf_dir)


@query(
    "quality_classifier_panel",
    None,  # rows-only by slot; tests/test_qualityclf.py pins the trained
    # weights against a from-scratch numpy model (bit equality), the
    # distributed scoring layer against a DuckDB twin evaluating the
    # SAME exported weights (md5 features + sigmoid, approx 1e-9), and
    # the pareto keep rule against its closed-form inverse-CDF twin.
    doc="Learned quality filtering (operators/qualityclf.py — the "
    "GPT-3/CCNet recipe): train a hashed-feature logistic regression to "
    "tell the reference slice (lang='en', the DSIR convention) from the "
    "raw corpus on a FIXED-SIZE deterministic sample (lowest hash_unit "
    "ids — driver cost constant in corpus size), then score every doc "
    "in ONE distributed pass (broadcast weight table, map-side join on "
    "the shared dsir gram stream, single groupBy(doc) exchange, JVM "
    "only) and apply the deterministic Pareto noisy threshold "
    "(inverse-CDF of an md5 draw). Panel: per-(source, lang) doc "
    "counts, mean score, kept count.",
)
def quality_classifier_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.qualityclf import (
        pareto_keep,
        score_quality,
        train_quality_classifier,
    )

    d = tbl(spark, sf_dir, "documents")
    model = train_quality_classifier(
        d, F.col("lang") == "en", buckets=4096, n_train=512
    )
    scored = score_quality(d, model, carry=("source", "lang"))
    return (
        scored.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality_score"), 6).alias("avg_score"),
            F.sum(pareto_keep("quality_score", "doc_id").cast("int"))
            .cast("bigint")
            .alias("n_kept"),
        )
        .coalesce(1)
        .sortWithinPartitions("source", "lang")
    )


@query(
    "bpe_token_stats_panel",
    None,  # rows-only by slot (iterative algorithm — no SQL form, the
    # pagerank/k-core rule); tests/test_bpe.py pins the merge table and
    # the encoded tokens against a from-scratch python model (exact),
    # plus determinism/layout invariance and the classic
    # low/lower/newest/widest merge sequence.
    doc="Trained BPE tokenizer (operators/bpe.py, Sennrich et al. 2016): "
    "fit a merge table driver-side on a FIXED-SIZE deterministic sample "
    "(one distributed word-frequency agg feeds the classic greedy merge "
    "loop — constant driver cost at any corpus size), then count real "
    "subword tokens per doc in ONE Arrow-batched pass (merge ranks ride "
    "the closure; distinct words encode once per batch). Panel: per-lang "
    "doc count, learned-token and whitespace-token totals, and the "
    "chars-per-BPE-token compression ratio the corpus prices at.",
)
def bpe_token_stats_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_token_stats, train_bpe

    d = tbl(spark, sf_dir, "documents")
    # 60 merges: the measured subword regime for the synthetic corpus
    # (~2 BPE tokens per word; >=93 merges memorize the whole vocabulary
    # and the panel degenerates to the whitespace count)
    model = train_bpe(d, n_merges=60, n_train=512)
    stats = bpe_token_stats(d, model, carry=("lang",))
    return (
        stats.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
            F.sum("n_ws_tokens").alias("total_ws_tokens"),
            F.round(
                F.sum("n_chars") / F.sum("n_bpe_tokens"), 4
            ).alias("chars_per_bpe_token"),
        )
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


@query(
    "setops_customer_cohorts",
    None,  # demoted in r9 (slot given to incremental_dedup_panel),
    # RE-PROMOTED into the gate at module end (r11 freshness rotation)
    # with SETOPS_COHORTS_ORACLE (plans/core.py).
    doc="INTERSECT / EXCEPT set ops (SURVEY §2.6: absent in the "
    "reference, engine exposes): year-cohort retention segments. Spark "
    "plans both as aggregated joins (left_semi/left_anti after "
    "distinct). Logic lives in plans/core.py:setops_customer_cohorts; "
    "this registration sits in the tracker section per the positional "
    "gate layout.",
)
def setops_customer_cohorts_tracker(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .core import setops_customer_cohorts

    return setops_customer_cohorts(spark, sf_dir)


@query(
    "pretrain_screen_panel",
    None,  # rows-only by slot; every leg is independently oracle/twin/
    # model-pinned (quality_gate components, qualityclf weights+scores,
    # ppl twin + threshold-vs-ntile agreement) and
    # tests/test_screen.py pins THIS panel against a from-scratch
    # recombination of the standalone legs plus layout invariance.
    doc="The composed pretraining screen (operators/screen.py — VERDICT "
    "r8 item 8): rule gates (Gopher repetition Arrow kernel + Gopher "
    "quality + C4 document rules, one corpus scan) AND the learned "
    "quality classifier (broadcast weights + one groupBy(doc) exchange) "
    "AND the bigram-LM perplexity bucket via the SCALE-SAFE threshold "
    "path (approx_percentile cuts + broadcast join — no per-lang sort), "
    "joined per doc into one keep verdict. The combined screen gets ONE "
    "driver-visible cost number instead of three jobs. Every leg and both "
    "model fits read the documents parquet directly (no persisted root). "
    "Panel: per-lang doc count, per-leg pass counts, kept count.",
)
def pretrain_screen_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ppl import fit_bigram_lm
    from ..operators.qualityclf import train_quality_classifier
    from ..operators.screen import pretrain_screen

    d = tbl(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    model = train_quality_classifier(
        d, F.col("lang") == "en", buckets=4096, n_train=512
    )
    v = pretrain_screen(
        d,
        model,
        fit_bigram_lm(d),
        carry=("lang",),
        # the quality_gate_panel calibration for the synthetic corpus
        # (~50-word single-stopword single-line docs); production callers
        # pass the paper defaults
        min_words=20,
        min_stopword_hits=1,
        min_kept_lines=1,
    )
    return (
        v.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("rules_ok").cast("long")).alias("n_pass_rules"),
            F.sum(F.col("clf_ok").cast("long")).alias("n_pass_clf"),
            F.sum(F.col("ppl_ok").cast("long")).alias("n_pass_ppl"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
        )
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


@query(
    "approx_aggregates",
    None,  # demoted in r9 (slot given to bm25_topk_panel), RE-PROMOTED
    # into the gate at module end (r11 freshness rotation) with
    # APPROX_AGGREGATES_ORACLE (plans/core.py); the tighter
    # relative-error accuracy pin (test_approx_aggregates_accuracy)
    # never depended on the gate.
    doc="Approximate aggregates (HLL++ distinct + t-digest percentile "
    "with in-plan tolerance predicates); logic in "
    "plans/core.py:approx_aggregates — this registration sits in the "
    "tracker section per the positional gate layout.",
)
def approx_aggregates_tracker(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .core import approx_aggregates

    return approx_aggregates(spark, sf_dir)


@query(
    "html_extract_panel",
    None,  # rows-only by slot AND by nature: extraction is a stateful
    # streaming parse (not SQL-expressible). tests/test_htmlx.py pins the
    # parser on a handwritten malformed-input fixture matrix, and the
    # panel itself carries TWO live invariants the driver's row check
    # exercises every round: n_roundtrip == n_docs and n_title_ok ==
    # n_docs (extraction must exactly recover the wrapped corpus).
    doc="HTML main-text extraction (operators/htmlx.py — the crawl "
    "WET-from-WARC stage that precedes every text operator; jusText-core "
    "block classification, stdlib parser, no codec/parsing library). The "
    "panel wraps the documents corpus in a synthetic page template with "
    "JVM expressions only (head/title/script, nav link bar, one <p> per "
    "source line, linked footer — entity-escaped), extracts with ONE "
    "zero-shuffle Arrow UDF pass, and accounts per lang: docs, blocks, "
    "good blocks, kept/link chars, plus the live roundtrip and title "
    "counts (both must equal n_docs).",
)
def html_extract_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.htmlx import extract_main_text, wrap_documents_as_html

    d = tbl(spark, sf_dir, "documents")
    e = extract_main_text(wrap_documents_as_html(d), min_words=1)
    # expected main text: whitespace-normalized non-empty source lines.
    # The token split uses the SAME whitespace class the kernel pins
    # (htmlx._WS_RE == Java-regex \s minus \n, which the line split ate) —
    # a tab or CR in a document must not fail the live invariant
    norm_lines = F.transform(
        F.split(F.coalesce(F.col("text"), F.lit("")), "\n"),
        lambda line: F.concat_ws(
            " ", F.array_remove(F.split(line, "[ \\t\\x0B\\f\\r]+"), "")
        ),
    )
    expected = F.concat_ws("\n", F.filter(norm_lines, lambda line: line != ""))
    sel = e.select(
        "lang",
        F.col("extracted.n_blocks").alias("n_blocks"),
        F.col("extracted.n_good_blocks").alias("n_good_blocks"),
        F.col("extracted.kept_chars").alias("kept_chars"),
        F.col("extracted.link_chars").alias("link_chars"),
        (F.col("extracted.text") == expected).cast("long").alias("roundtrip"),
        (
            F.col("extracted.title")
            == F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
        ).cast("long").alias("title_ok"),
    )
    return (
        sel.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_blocks").alias("n_blocks"),
            F.sum("n_good_blocks").alias("n_good_blocks"),
            F.sum("kept_chars").alias("kept_chars"),
            F.sum("link_chars").alias("link_chars"),
            F.sum("roundtrip").alias("n_roundtrip"),
            F.sum("title_ok").alias("n_title_ok"),
        )
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


@query(
    "kmeans_clusters_panel",
    None,  # rows-only by slot AND by the iterative-operator rule
    # (pagerank/bfs precedent): Lloyd's is a fixed-point loop, not a SQL
    # expression. tests/test_kmeans.py pins the fit against a from-scratch
    # python model (centroids rel-1e-9, assignments/sizes EXACT), Lloyd
    # monotonicity, layout invariance, and the zero-shuffle corpus pass.
    doc="Distributed k-means (operators/kmeans.py): bounded driver-sample "
    "seeding (the IVF trainer) + full-corpus Lloyd's refinement where "
    "each iteration is one mapInPandas corpus pass emitting <=k partial "
    "rows per Arrow batch (corpus never shuffles), a skinny "
    "(cluster, dim) partial-aggregated exchange, and an exactly-k-row "
    "driver update. Panel: per-cluster size + mean within-cluster squared "
    "distance (rounded 6dp) over the embeddings table.",
)
def kmeans_clusters_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import assign_clusters, cluster_profile, kmeans_fit

    e = tbl(spark, sf_dir, "embeddings")
    cent, _ = kmeans_fit(e, k=8, seed_iters=5, refine_iters=3)
    return (
        cluster_profile(assign_clusters(e, cent), cent)
        .coalesce(1)
        .sortWithinPartitions("cluster")
    )


SENTIMENT_BY_SOURCE_ORACLE = f"""
    WITH s AS (
      SELECT source, {sentiment_oracle_sql('text')} AS score FROM documents
    )
    SELECT source,
           CASE WHEN score >= 0.05 THEN 'positive'
                WHEN score <= -0.05 THEN 'negative'
                ELSE 'neutral' END AS sentiment_label,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(score AS DECIMAL(18,12))) AS VARCHAR) AS DOUBLE) AS score_sum
    FROM s GROUP BY 1, 2
    """


@query(
    "sentiment_by_source",
    None,  # demoted by the r10 rotation (slot given to
    # bloom_membership_panel), RE-GATED by the r12 freshness swap at
    # module end (SENTIMENT_BY_SOURCE_ORACLE); the VADER-parity fidelity
    # pins (test_sentiment_vader.py) never depended on the gate.
    doc="U1 sentiment semantics (reference Review_ETL.py:73-85: VADER compound "
    "+ +-0.05 label thresholds) via the deterministic lexicon scorer — "
    "codegen'd expressions, no UDF on the bench path.",
)
def sentiment_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    return (
        d.withColumn("score", sentiment_score_expr(F.col("text")))
        .withColumn("sentiment_label", sentiment_label_expr(F.col("score")))
        .groupBy("source", "sentiment_label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("score").cast("decimal(18,12)")).cast("double").alias("score_sum"),
        )
    )

ITEM_COOCCURRENCE_ORACLE = """
    WITH d AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), p AS (
      SELECT a.item AS item_a, c.item AS item_b, COUNT(*) AS n_pairs
      FROM d a JOIN d c ON a.basket = c.basket AND a.item < c.item
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), i AS (
      SELECT item, COUNT(*) AS n_item FROM d GROUP BY 1
    ), t AS (
      SELECT COUNT(DISTINCT basket) AS n_baskets FROM d
    )
    SELECT p.item_a, p.item_b, p.n_pairs,
           round(p.n_pairs / t.n_baskets, 6) AS support,
           round((CAST(p.n_pairs AS DOUBLE) * t.n_baskets)
                 / (CAST(ia.n_item AS DOUBLE) * ib.n_item), 6) AS lift
    FROM p
    CROSS JOIN t
    JOIN i ia ON ia.item = p.item_a
    JOIN i ib ON ib.item = p.item_b
    """


@query(
    "item_cooccurrence_pairs",
    None,  # demoted by the r10 rotation (slot given to
    # c4_span_dedup_panel), RE-GATED by the r12 freshness swap at module
    # end (ITEM_COOCCURRENCE_ORACLE); the basket-kernel property pins
    # (test_basket.py: no-self-join plan shape, max_basket loud guard,
    # pair-expansion correctness) never depended on the gate.
    doc="Market-basket co-occurrence over lineitem (parts bought together "
    "within an order) with support and lift (operators/basket.py). NO "
    "self-join on the basket key: one groupBy collapses each order to a "
    "sorted distinct part array (collect_set dedups map-side), ordered "
    "pairs expand executor-locally via the shared bucket_pairs HOF kernel "
    "(max_basket loud-degradation guard), then a uniform-key pair count; "
    "the basket-count denominator is a broadcast 1-row aggregate. The "
    "oracle expresses the same statistics with the naive self-join form — "
    "two independent constructions agreeing on counts, support, and lift.",
)
def item_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.basket import item_cooccurrence

    li = tbl(spark, sf_dir, "lineitem")
    return item_cooccurrence(
        li, "l_orderkey", "l_partkey", min_pairs=2, max_basket=64
    )

# Exact twin for temperature_mix_panel (rotation queue): domain weights,
# the temperature flatten, the budget->rate cap, and the sampled SET are
# all re-derived in DuckDB. Rates are rounded to 9 decimals in BOTH
# engines BEFORE the u < rate comparison (the rounded-before-threshold
# rule), so last-ulp pow() differences cannot flip a kept row.
TEMPERATURE_MIX_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 < 4 THEN 'head'
              WHEN doc_id % 7 < 6 THEN 'mid'
              ELSE 'tail' END AS domain,
         len(string_split(text, ' ')) AS tok,
         ('0x' || substr(md5('tmix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           / 4294967296.0 AS u
  FROM documents
), doms AS (
  SELECT domain, CAST(SUM(tok) AS BIGINT) AS tokens FROM d GROUP BY 1
), z AS (
  SELECT SUM(pow(CAST(tokens AS DOUBLE), 0.5)) AS z FROM doms
), rates AS (
  SELECT domain, tokens,
         ROUND(pow(CAST(tokens AS DOUBLE), 0.5) / z, 9) AS share,
         ROUND(LEAST(1.0, 20000 * pow(CAST(tokens AS DOUBLE), 0.5) / z
                            / CAST(tokens AS DOUBLE)), 9) AS rate,
         ROUND(20000 * pow(CAST(tokens AS DOUBLE), 0.5) / z
                / CAST(tokens AS DOUBLE), 9) AS implied_epochs
  FROM doms, z
), kept AS (
  SELECT d.domain, COUNT(*) AS n, SUM(tok) AS tk
  FROM d JOIN rates USING (domain)
  WHERE u < rate
  GROUP BY 1
)
SELECT r.domain, r.tokens, r.share, r.rate, r.implied_epochs,
       COALESCE(n, 0) AS n_kept,
       CAST(COALESCE(tk, 0) AS BIGINT) AS tok_kept
FROM rates r LEFT JOIN kept USING (domain)
ORDER BY domain
"""


@query(
    "temperature_mix_panel",
    None,  # rows-only by slot (the positional gate layout); the exact
    # twin TEMPERATURE_MIX_ORACLE above is row-exact and pinned in
    # tests/test_weighted_sample.py — rotation-queue material.
    doc="Temperature-based corpus mixing (operators/sampling.py:"
    "temperature_mix_rates/temperature_sample — XLM-R exponentiated "
    "smoothing q_d ~ t_d^alpha with a token budget turned into capped "
    "per-domain sampling rates; UniMax-style implied_epochs diagnostic). "
    "Domains synthesized 4:2:1 from doc_id so the flatten, the cap "
    "(tail hits rate=1.0 at the panel's budget), and the deterministic "
    "kept set are all exercised; one corpus scan to weigh, one to "
    "sample, rates broadcast.",
)
def temperature_mix_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import temperature_mix_rates, temperature_sample

    d = tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 7 < 4, "head")
        .when(F.col("doc_id") % 7 < 6, "mid")
        .otherwise("tail")
        .alias("domain"),
        tx.token_count(F.col("text")).alias("tok"),
    )
    rates = temperature_mix_rates(d, "domain", "tok", alpha=0.5, budget=20000)
    sampled = temperature_sample(
        d, "doc_id", "domain", "tok", alpha=0.5, budget=20000
    )
    kept = sampled.groupBy("domain").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("tok").alias("_tk")
    )
    return (
        rates.join(kept, "domain", "left")
        .select(
            "domain",
            "tokens",
            "share",
            "rate",
            "implied_epochs",
            F.coalesce(F.col("_n"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("_tk"), F.lit(0)).cast("bigint").alias("tok_kept"),
        )
        .coalesce(1)
        .sortWithinPartitions("domain")
    )


@query(
    "bm25_index_topk",
    None,  # rows-only by slot; output is defined to equal
    # bm25_topk_panel row for row (same probe query/k), so
    # BM25_TOPK_ORACLE — driver-gated on the direct path — is its twin
    # too; the equality is pinned in tests/test_bm25.py.
    doc="BM25 via the persisted inverted index (operators/bm25.py:"
    "build_bm25_index/bm25_topk_from_index — the index-once/query-many "
    "shape: one corpus explode into (term, doc, tf, dl) postings plus a "
    "1-row stats frame; queries fetch only their terms' postings, with "
    "md5-bucket partition pruning when the index is on disk). This "
    "tracker pays the BUILD plus one query, the driver-visible cost of "
    "the amortized path; output == bm25_topk_panel exactly.",
)
def bm25_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bm25 import bm25_topk_from_index, build_bm25_index

    d = tbl(spark, sf_dir, "documents")
    postings, stats = build_bm25_index(d)
    return bm25_topk_from_index(
        postings, stats, ["data", "hash", "merge", "window"], k=15
    ).select("doc_id", "n_hit_terms", "score", "rank")


# Exact twin for unimax_mix_panel (rotation queue): the waterfilling
# closed form — sorted caps, prefix sums, the capped-prefix test, the
# water level — re-derived in DuckDB with the same window order, so the
# prefix sums are bit-identical IEEE sums and the capped SET matches.
UNIMAX_MIX_ORACLE = """
WITH d AS (
  SELECT CASE WHEN doc_id % 7 < 4 THEN 'head'
              WHEN doc_id % 7 < 6 THEN 'mid'
              ELSE 'tail' END AS domain,
         len(string_split(text, ' ')) AS tok
  FROM documents
), doms AS (
  SELECT domain, CAST(SUM(tok) AS BIGINT) AS tokens FROM d GROUP BY 1
), r AS (
  SELECT domain, tokens,
         CAST(tokens AS DOUBLE) * 2.0 AS cap,
         SUM(CAST(tokens AS DOUBLE) * 2.0) OVER
           (ORDER BY CAST(tokens AS DOUBLE) * 2.0, domain
            ROWS UNBOUNDED PRECEDING) AS pfx,
         ROW_NUMBER() OVER (ORDER BY CAST(tokens AS DOUBLE) * 2.0, domain) AS j,
         COUNT(*) OVER () AS n
  FROM doms
), rc AS (
  SELECT *, (pfx - cap) + cap * (n - j + 1) <= 26000.0 AS capped FROM r
), t AS (
  SELECT COALESCE(SUM(cap) FILTER (capped), 0) AS pk,
         COUNT(*) FILTER (capped) AS k,
         MAX(n) AS n2
  FROM rc
)
SELECT domain, tokens,
  ROUND(cap, 9) AS cap_tokens,
  ROUND(CASE WHEN capped THEN cap ELSE (26000.0 - pk) / (n2 - k) END, 9)
    AS alloc_tokens,
  ROUND(CASE WHEN tokens > 0 THEN
          (CASE WHEN capped THEN cap ELSE (26000.0 - pk) / (n2 - k) END)
          / CAST(tokens AS DOUBLE)
        ELSE 0.0 END, 9) AS epochs,
  ROUND(CASE WHEN k < n2 THEN (26000.0 - pk) / (n2 - k) END, 9)
    AS water_level
FROM rc, t
ORDER BY domain
"""


@query(
    "unimax_mix_panel",
    None,  # rows-only by slot (the positional gate layout); the exact
    # twin UNIMAX_MIX_ORACLE above is row-exact and pinned in
    # tests/test_weighted_sample.py — rotation-queue material.
    doc="UniMax budget allocation (operators/sampling.py:"
    "unimax_mix_allocation — Chung et al. 2023's epoch-capped uniform "
    "split in its relational waterfilling closed form: sorted caps, "
    "prefix sums, capped-prefix test, water level — ONE window over the "
    "tiny domains frame, never the corpus). Same 4:2:1 synthetic "
    "domains as temperature_mix_panel; at the panel's budget the tail "
    "domain caps at max_epochs=2.0 (UniMax up-sampling regime), mid "
    "takes ~1.2 epochs at the water level, head under one.",
)
def unimax_mix_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import unimax_mix_allocation

    d = tbl(spark, sf_dir, "documents").select(
        F.when(F.col("doc_id") % 7 < 4, "head")
        .when(F.col("doc_id") % 7 < 6, "mid")
        .otherwise("tail")
        .alias("domain"),
        tx.token_count(F.col("text")).alias("tok"),
    )
    return (
        unimax_mix_allocation(d, "domain", "tok", budget=26000, max_epochs=2.0)
        .coalesce(1)
        .sortWithinPartitions("domain")
    )


# Exact twin for training_shards_manifest (rotation queue): shard
# assignment, per-shard counts/token sums, and the order-insensitive
# key checksum re-derived in DuckDB, empty shards materialized from
# range(). Checksum arithmetic: each term < 2^32, so BIGINT sums are
# exact up to ~2^31 docs per shard — far beyond any sane shard size;
# the operator documents the same bound.
TRAINING_SHARDS_ORACLE = """
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS tok,
    ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
      AS shard,
    ('0x' || substr(md5('shardck:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      AS ck
  FROM documents
), got AS (
  SELECT shard, COUNT(*) AS n_docs,
         CAST(SUM(tok) AS BIGINT) AS n_tokens,
         CAST(SUM(ck) AS BIGINT) AS key_checksum
  FROM d GROUP BY 1
)
SELECT CAST(s.i AS INTEGER) AS shard,
       COALESCE(n_docs, 0) AS n_docs,
       COALESCE(n_tokens, 0) AS n_tokens,
       COALESCE(key_checksum, 0) AS key_checksum
FROM range(8) s(i) LEFT JOIN got ON got.shard = s.i
ORDER BY shard
"""


@query(
    "training_shards_manifest",
    None,  # rows-only by slot (the positional gate layout); the exact
    # twin TRAINING_SHARDS_ORACLE above is row-exact and pinned in
    # tests/test_sources.py — rotation-queue material.
    doc="Training-shard export manifest (sources/writers.py:"
    "shard_assignment/shard_manifest/write_training_shards — the "
    "pipeline-tail sink: deterministic md5 shard placement, one file "
    "per shard dir, and an auditable per-shard contract of doc count, "
    "token sum, and an order-insensitive key checksum; empty shards "
    "materialize with zeros so a missing row reads as data loss). The "
    "panel computes the 8-shard manifest in-plan over documents — the "
    "same accounting the writer persists next to the shard dirs.",
)
def training_shards_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.writers import shard_manifest

    d = tbl(spark, sf_dir, "documents").select(
        "doc_id", tx.token_count(F.col("text")).alias("tok")
    )
    return (
        shard_manifest(d, "doc_id", 8, token_col="tok")
        .coalesce(1)
        .sortWithinPartitions("shard")
    )


# Exact twin for cm_token_counts_panel (rotation queue): the sketch is
# REBUILT in DuckDB — same salted-md5 Kirsch-Mitzenmacher cells, same
# cell-wise sums, same min-over-rows estimate with missing cells as 0 —
# so any single-cell divergence flips an estimate. Width 16 x depth 2
# is deliberately undersized at gate SFs: collisions are GUARANTEED, so
# the panel pins the interesting regime (estimate > true for some keys,
# never <) rather than a trivially-exact sketch.
CM_SKETCH_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
), h AS (
  SELECT t,
         ('0x' || substr(md5('cm1:' || t), 1, 8))::BIGINT AS h1,
         ('0x' || substr(md5('cm2:' || t), 1, 8))::BIGINT AS h2
  FROM toks
), cells AS (
  SELECT CAST(i AS INTEGER) AS row,
         CAST((h1 + i * h2) % 16 AS INTEGER) AS col,
         COUNT(*) AS cnt
  FROM h, range(2) r(i) GROUP BY 1, 2
), true_c AS (
  SELECT t, COUNT(*) AS true_count,
         MIN(h1) AS h1, MIN(h2) AS h2
  FROM h GROUP BY t
), probe AS (
  SELECT t, CAST(i AS INTEGER) AS row,
         CAST((h1 + i * h2) % 16 AS INTEGER) AS col
  FROM true_c, range(2) r(i)
), est AS (
  SELECT t, MIN(COALESCE(cnt, 0)) AS cm_count
  FROM probe LEFT JOIN cells USING (row, col) GROUP BY t
)
SELECT true_c.t AS token, true_count, cm_count
FROM true_c JOIN est USING (t)
ORDER BY true_count DESC, token
LIMIT 20
"""


@query(
    "cm_token_counts_panel",
    None,  # rows-only by slot (the positional gate layout); the exact
    # twin CM_SKETCH_ORACLE above is row-exact and pinned in
    # tests/test_sketches.py — rotation-queue material.
    doc="Count-Min sketch (operators/cmsketch.py, Cormode & "
    "Muthukrishnan 2005 — the frequency-estimate companion to the Bloom "
    "filter; sketch-as-a-DataFrame, partial-agg'd cell sums, EXACT "
    "linear merge, broadcast probe with min-over-rows). The panel "
    "builds a deliberately undersized 16x2 sketch over the corpus token "
    "stream so collisions are live, then reports the top-20 tokens' "
    "true counts beside their estimates — one-sided error on display, "
    "cell-exact across engines.",
)
def cm_token_counts_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cmsketch import build_cm_sketch, cm_estimate

    toks = tbl(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("t")
    )
    # ONE corpus explode: the sketch builds from the same per-token
    # aggregate the panel reports (the weighted-build linearity rule —
    # raw-vs-preaggregated equality pinned in test_sketches.py)
    true_c = toks.groupBy("t").agg(F.count(F.lit(1)).alias("true_count"))
    sk = build_cm_sketch(true_c, "t", 16, 2, count_col="true_count")
    est = cm_estimate(true_c, sk, "t", 16, 2)
    return (
        est.select(F.col("t").alias("token"), "true_count", "cm_count")
        .orderBy(F.col("true_count").desc(), F.col("token").asc())
        .limit(20)
    )



@query(
    "mojibake_repair_panel",
    None,  # rows-only: codec work (cp1252/UTF-8 strict roundtrips) is not
    # SQL-expressible — the html_extract_panel rule: the panel carries
    # LIVE invariants instead (n_repaired_to_original must equal n_docs,
    # telltales_after must be 0), so the driver's row check re-proves the
    # repair every round, not just row counts.
    doc="Mojibake repair (operators/normalize.py:fix_mojibake — ftfy-core "
    "strict-roundtrip inversion of UTF-8-decoded-as-Latin-1/cp1252, the "
    "standard crawl encoding fix; Arrow kernel with a telltale gate so "
    "ASCII rows stay C-speed cheap). The panel injects accented/curly "
    "text on every third doc, GARBLES the whole corpus in-plan with "
    "Spark's own decode(encode(.,'UTF-8'),'ISO-8859-1') (the unvalidated "
    "JVM equivalent — synthesis only), repairs, and reports: doc counts, "
    "how many rows the garble actually changed (== injected rows; ASCII "
    "is a fixed point), how many repaired back to the ORIGINAL bytes "
    "(must be all), and telltale counts before/after (after must be 0).",
)
def mojibake_repair_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.normalize import _MOJIBAKE_TELLTALE, fix_mojibake

    d = tbl(spark, sf_dir, "documents")
    # coalesce: NULL text (crawl-routine) must not poison the equality
    # counts the live invariants aggregate (NULL == NULL is NULL)
    txt = F.coalesce(F.col("text"), F.lit(""))
    injected = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(txt, F.lit(" caf\u00e9 \u2014 na\u00efve \u201cquote\u201d")),
    ).otherwise(txt)
    base = d.select(F.col("doc_id"), injected.alias("orig"))
    garbled = base.withColumn(
        "garbled", F.decode(F.encode(F.col("orig"), "UTF-8"), "ISO-8859-1")
    )
    repaired = garbled.withColumn("fixed", fix_mojibake(F.col("garbled")))
    agg = repaired.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("doc_id") % 3 == 0).cast("int")).cast("bigint").alias("n_injected"),
        F.sum((F.col("garbled") != F.col("orig")).cast("int")).cast("bigint").alias("n_changed_by_garble"),
        F.sum((F.col("fixed") == F.col("orig")).cast("int")).cast("bigint").alias("n_repaired_to_original"),
        F.sum(
            (F.size(F.split(F.col("orig"), _MOJIBAKE_TELLTALE)) - 1).cast("bigint")
        ).alias("telltales_orig"),
        F.sum(
            (F.size(F.split(F.col("garbled"), _MOJIBAKE_TELLTALE)) - 1).cast("bigint")
        ).alias("telltales_before"),
        F.sum(
            (F.size(F.split(F.col("fixed"), _MOJIBAKE_TELLTALE)) - 1).cast("bigint")
        ).alias("telltales_after"),
    )
    # >=, not ==, for changed-vs-injected: injected rows MUST garble,
    # but a corpus already containing natural non-ASCII garbles more.
    # The telltale invariant compares AGAINST THE ORIGINAL, not zero:
    # the full class [0xC2-0xF4] counts genuine accents too (e-acute is
    # both a telltale char and a real letter), so "no mojibake left"
    # means the repaired text carries exactly the original's telltale
    # count while the garbled text carried strictly more.
    lives = F.assert_true(
        (F.col("n_repaired_to_original") == F.col("n_docs"))
        & (F.col("n_changed_by_garble") >= F.col("n_injected"))
        & (F.col("telltales_after") == F.col("telltales_orig"))
        & (F.col("telltales_before") > F.col("telltales_after")),
        F.lit("mojibake_repair_panel live invariant violated"),
    )
    return agg.select(
        F.when(lives.isNull(), F.col("n_docs")).alias("n_docs"),
        "n_injected",
        "n_changed_by_garble",
        "n_repaired_to_original",
        "telltales_orig",
        "telltales_before",
        "telltales_after",
    )


# Exact twin for soft_dedup_panel (rotation queue): clusters, sizes,
# per-row 1/n weights (rounded 9 BEFORE summing, the operator's rule),
# and the per-size rollup re-derived in DuckDB. total_weight re-rounds
# the SUM to 6 decimals so cross-engine addition order can't surface.
SOFT_DEDUP_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, md5(array_to_string(list_slice({TOKS}, 1, 2), ' ')) AS fp
  FROM documents
), sized AS (
  SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS n
  FROM keyed
), weighted AS (
  SELECT doc_id, n AS dup_cluster_size, ROUND(1.0 / n, 9) AS w FROM sized
)
SELECT dup_cluster_size,
       COUNT(*) AS n_docs,
       CAST(COUNT(*) / dup_cluster_size AS BIGINT) AS n_clusters,
       ROUND(SUM(w), 6) AS total_weight
FROM weighted
GROUP BY dup_cluster_size
ORDER BY dup_cluster_size
"""


@query(
    "soft_dedup_panel",
    None,  # rows-only by slot (the positional gate layout); the exact
    # twin SOFT_DEDUP_ORACLE above is row-exact and pinned in
    # tests/test_dedup_similarity.py — rotation-queue material.
    doc="Soft dedup (operators/dedup.py:soft_dedup_weights — keep every "
    "copy, weight = 1/duplicate-cluster-size so each cluster carries "
    "unit sampling mass; the weighting alternative to hard removal, "
    "preserving copy provenance for the sampler). One hash aggregate + "
    "one equi-join on the fingerprint cluster key. Panel rolls up per "
    "cluster size: docs, clusters, and the summed weight (== cluster "
    "count modulo the documented 1e-9 rounding).",
)
def soft_dedup_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import soft_dedup_weights
    from ..operators.text import fingerprint

    d = tbl(spark, sf_dir, "documents")
    w = soft_dedup_weights(d, fingerprint(F.col("text"), 2))
    return (
        w.groupBy("dup_cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.count(F.lit(1)) / F.col("dup_cluster_size"))
            .cast("bigint")
            .alias("n_clusters"),
            F.round(F.sum("sample_weight"), 6).alias("total_weight"),
        )
        .coalesce(1)
        .sortWithinPartitions("dup_cluster_size")
    )


# Exact twin for the demoted weighted_sample_orders (r9 fourth rotation
# swap — the slot went to url_canonical_panel); pinned in
# test_demoted_twins_still_match per the rotation contract.
WEIGHTED_SAMPLE_ORACLE = f"""
    WITH h AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             {_sql_hash("CAST(o_orderkey AS VARCHAR)", "ws:")} AS hv
      FROM orders
      WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL
        AND o_totalprice > 0
    ), e AS (
      -- hv = 0 would make ln() raise in DuckDB (Out of Range); the engine
      -- maps a zero draw to +inf (sorts last) — mirror that exactly.
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             CASE WHEN hv = 0 THEN CAST('infinity' AS DOUBLE)
                  ELSE -ln(hv / 4294967296.0) / o_totalprice END AS race
      FROM h
    )
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY o_orderpriority ORDER BY race, o_orderkey
           ) AS INTEGER) AS sample_rank
    FROM e QUALIFY sample_rank <= 20
    """

@query(
    "weighted_sample_orders",
    None,  # demoted by the r9 fourth rotation swap, RE-GATED by the r12
    # freshness swap at module end (WEIGHTED_SAMPLE_ORACLE above).
    doc="Deterministic weighted sampling without replacement (Efraimidis & "
    "Spirakis 2006 A-ES, operators/sampling.py:weighted_sample): top-20 "
    "orders per priority stratum with inclusion probability proportional "
    "to o_totalprice. Each row's exponential race time -ln(u)/w derives "
    "from the same portable md5 hash_unit draw as the other samplers, so "
    "the selection survives repartitioning and engine swap (the oracle "
    "recomputes identical doubles); one window shuffle on the stratum "
    "key, key tie-break. The distributed-safe form of weighted reservoir "
    "sampling — no sequential reservoir, no RNG state.",
)
def weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import weighted_sample

    o = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return weighted_sample(
        o, "o_orderkey", "o_totalprice", 20, stratum="o_orderpriority"
    )


@query(
    "pca_embeddings_panel",
    None,  # rows-only by slot AND by nature (eigendecomposition has no
    # DuckDB twin); tests/test_pca.py pins the fit against a from-scratch
    # numpy full-data PCA (components, eigenvalues, projections) and the
    # panel's rows against the model arithmetic.
    doc="Distributed PCA over the embeddings table (r10, "
    "operators/pca.py — the OPQ/whitening ANN preprocessing step): fit "
    "is ONE corpus pass folding each Arrow batch to (n, sum, gram) "
    "partials + a bounded (d + d^2)-row exchange; the driver sees "
    "d^2 + d + 1 values, never rows; eigh + sign convention driver-side "
    "(the FAISS-style split); apply is a zero-shuffle Arrow matmul. "
    "Panel: per-component eigenvalue and cumulative explained-variance "
    "ratio for the top 8 axes.",
)
def pca_embeddings_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..operators.pca import explained_variance, fit_pca

    m = fit_pca(tbl(spark, sf_dir, "embeddings"), k=8)
    rows = [
        (i, float(v), round(float(r), 6)) for i, v, r in explained_variance(m)
    ]
    # pandas -> Arrow createDataFrame: the python-RDD route would spin a
    # pickling worker job for 8 rows (measured seconds of pure overhead
    # in a session whose worker pool is shaped for Arrow tasks)
    pdf = pd.DataFrame(rows, columns=["component", "eigenvalue", "cum_explained"])
    pdf["component"] = pdf["component"].astype("int32")
    return (
        spark.createDataFrame(pdf)
        .coalesce(1)
        .sortWithinPartitions("component")
    )



# Exact twin for pca_apply_panel (VERDICT r10 item 2, rotation queue):
# eigh has no SQL form, but the two distributed halves of pca.py DO —
# the (n, sum, gram) moment accumulation and the apply matmul — so this
# panel verifies them exactly with a LITERAL model whose entries are all
# powers of two (0.5/0.25/0.125...): multiplying a float by a power of
# two is EXACT in IEEE double, so both engines compute identical per-term
# products and the 64-term dot sums agree to ~1e-14 << the round-6 pin
# (the qualityclf exported-weights pattern, with the export replaced by
# an exactly-reproducible closed-form model). Whitening divisors are
# 1/sqrt of powers of FOUR (eps=0) — also exact. The moment leg runs the
# REAL _moment_partials fold + the same posexplode/groupBy(idx) exchange
# fit_pca uses, against DuckDB's direct SUM(v[i]) / SUM(v[a]*v[b]) over
# the same bounded slice (vec_id < 512, so float reassociation stays
# ~1e-13 at every sf).
PCA_APPLY_ORACLE = """
WITH sl AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id < 512 AND embedding IS NOT NULL
), dims AS (
  SELECT CAST(x AS INT) AS j FROM range(0, 64) t(x)
), mean AS (
  SELECT j, CASE j % 4 WHEN 0 THEN 0.25 WHEN 1 THEN -0.5
                       WHEN 2 THEN 0.0 ELSE 0.125 END AS m
  FROM dims
), comps AS (
  SELECT CAST(k.x AS INT) AS i, d.j,
         CASE (CAST(k.x AS INT) * 7 + d.j * 3) % 5
           WHEN 0 THEN 0.5 WHEN 1 THEN -0.5 WHEN 2 THEN 0.25
           WHEN 3 THEN -0.25 ELSE 0.0 END AS c
  FROM range(0, 4) k(x), dims d
), proj AS (
  SELECT s.vec_id, c.i,
         SUM(c.c * (s.v[c.j + 1] - mean.m)) AS y
  FROM sl s, comps c JOIN mean ON mean.j = c.j
  WHERE s.vec_id < 100
  GROUP BY 1, 2
), proj_rows AS (
  SELECT 'proj' AS part, CAST(vec_id AS INT) AS i, CAST(proj.i AS INT) AS j,
         round(y * CASE proj.i WHEN 0 THEN 0.5 WHEN 1 THEN 1.0
                               WHEN 2 THEN 2.0 ELSE 4.0 END, 6) AS val
  FROM proj
), n_row AS (
  SELECT 'n' AS part, CAST(-1 AS INT) AS i, CAST(-1 AS INT) AS j,
         CAST(COUNT(*) AS DOUBLE) AS val
  FROM sl
), sum_rows AS (
  SELECT 'sum' AS part, d.j AS i, CAST(-1 AS INT) AS j,
         round(SUM(s.v[d.j + 1]), 6) AS val
  FROM sl s, dims d GROUP BY d.j
), gram_rows AS (
  SELECT 'gram' AS part, a.j AS i, b.j AS j,
         round(SUM(s.v[a.j + 1] * s.v[b.j + 1]), 6) AS val
  FROM sl s, dims a, dims b
  WHERE a.j = b.j OR (a.j * 64 + b.j) % 37 = 0
  GROUP BY a.j, b.j
)
SELECT * FROM proj_rows
UNION ALL SELECT * FROM n_row
UNION ALL SELECT * FROM sum_rows
UNION ALL SELECT * FROM gram_rows
"""


@query(
    "pca_apply_panel",
    None,  # registered rows-only, PROMOTED into the gate at module end
    # (sixth r11 swap): swap_gate_slot gives this slot PCA_APPLY_ORACLE;
    # the twin also stays row-exact-pinned in tests/test_pca.py.
    doc="PCA distributed-halves exactness panel (VERDICT r10 item 2): "
    "part='proj' runs the REAL apply_pca Arrow matmul (whitening on) "
    "under a closed-form literal model whose components/mean/whitening "
    "divisors are all powers of two, so every per-term product is IEEE-"
    "exact in both engines; parts 'n'/'sum'/'gram' run the REAL "
    "_moment_partials batch fold plus fit_pca's posexplode/groupBy(idx) "
    "bounded exchange (diagonal + stride-37 sample of the gram cells) "
    "against DuckDB's direct sums over the same bounded slice. Together "
    "they oracle-cover everything in operators/pca.py except the "
    "driver-side eigh, which stays numpy-model-pinned.",
)
def pca_apply_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pca import PcaModel, _moment_partials, apply_pca

    d, k = 64, 4
    pick = {0: 0.5, 1: -0.5, 2: 0.25, 3: -0.25, 4: 0.0}
    model = PcaModel(
        mean=tuple(
            {0: 0.25, 1: -0.5, 2: 0.0, 3: 0.125}[j % 4] for j in range(d)
        ),
        components=tuple(
            tuple(pick[(i * 7 + j * 3) % 5] for j in range(d)) for i in range(k)
        ),
        eigenvalues=(4.0, 1.0, 0.25, 0.0625),  # 1/sqrt exact: .5, 1, 2, 4
        n=512,
        dim=d,
        k=k,
        whiten=True,
        eps=0.0,
    )
    sl = (
        tbl(spark, sf_dir, "embeddings")
        .filter((F.col("vec_id") < 512) & F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    proj = (
        apply_pca(sl.filter(F.col("vec_id") < 100), model)
        .select("vec_id", F.posexplode("pca").alias("comp", "y"))
        .select(
            F.lit("proj").alias("part"),
            F.col("vec_id").cast("int").alias("i"),
            F.col("comp").cast("int").alias("j"),
            F.round("y", 6).alias("val"),
        )
    )
    # the REAL moment fold + the same bounded (idx, val) exchange fit_pca
    # runs — but kept IN-PLAN (no collect) so the driver gate executes it
    sums = (
        _moment_partials(sl, "embedding", d)
        .select(
            F.posexplode(
                F.concat(F.array(F.col("n").cast("double")), F.col("s"), F.col("g"))
            ).alias("idx", "v")
        )
        .groupBy("idx")
        .agg(F.sum("v").alias("val"))
    )
    a = F.floor((F.col("idx") - 1 - d) / d).cast("int")
    b = ((F.col("idx") - 1 - d) % d).cast("int")
    moments = (
        sums.withColumn(
            "part",
            F.when(F.col("idx") == 0, "n")
            .when(F.col("idx") <= d, "sum")
            .otherwise("gram"),
        )
        .withColumn(
            "i",
            F.when(F.col("part") == "n", F.lit(-1))
            .when(F.col("part") == "sum", (F.col("idx") - 1).cast("int"))
            .otherwise(a),
        )
        .withColumn(
            "j",
            F.when(F.col("part") == "gram", b).otherwise(F.lit(-1)).cast("int"),
        )
        # keep the gram sample bounded: diagonal + the stride-37 lattice
        .filter(
            (F.col("part") != "gram")
            | (F.col("i") == F.col("j"))
            | ((F.col("i") * d + F.col("j")) % 37 == 0)
        )
        .select(
            "part",
            F.col("i").cast("int").alias("i"),
            "j",
            F.when(F.col("part") == "n", F.col("val"))
            .otherwise(F.round("val", 6))
            .alias("val"),
        )
    )
    return proj.unionAll(moments)


# Exact twin for psl_domain_panel (rotation queue): an INDEPENDENT
# construction of the publicsuffix.org algorithm — DuckDB re-derives the
# registrable domain by exploding every label-suffix of every host and
# taking the longest matching rule (exceptions > wildcards+1 > exact >
# implicit '*'), where the Spark side never explodes (a fixed ladder of
# broadcast joins, operators/urls.py:with_registrable_domain). Two
# different shapes agreeing on every host is the oracle-hygiene point.
PSL_DOMAIN_ORACLE = """
WITH hosts AS (
  SELECT CASE
      WHEN doc_id % 11 = 0 THEN 'co.uk'
      WHEN doc_id % 11 = 1 THEN 'b.ck'
      ELSE 's' || CAST(doc_id % 5 AS VARCHAR) || '.' || CASE CAST(doc_id % 6 AS INT)
        WHEN 0 THEN 'example.com'
        WHEN 1 THEN 'a.co.uk'
        WHEN 2 THEN 'b.com.au'
        WHEN 3 THEN 'x.ck'
        WHEN 4 THEN 'www.ck'
        ELSE 'tail.unknowntld' END
    END AS host
  FROM documents
), rules(rule) AS (
  VALUES ('com'), ('uk'), ('co.uk'), ('au'), ('com.au'), ('*.ck'), ('!www.ck')
), rmap AS (
  SELECT CASE WHEN rule LIKE '!%' THEN substr(rule, 2)
              WHEN rule LIKE '*.%' THEN substr(rule, 3)
              ELSE rule END AS sfx,
         bool_or(rule NOT LIKE '!%' AND rule NOT LIKE '*.%') AS ex,
         bool_or(rule LIKE '*.%') AS wild,
         bool_or(rule LIKE '!%') AS exc
  FROM rules GROUP BY 1
), lab AS (
  SELECT host, string_split(host, '.') AS ls FROM hosts
), cand AS (
  SELECT host, len(ls) AS n, ls, j,
         array_to_string(ls[len(ls) - j + 1 : len(ls)], '.') AS sfx_j
  FROM lab, range(1, 5) t(j) WHERE len(ls) >= j
), m AS (
  SELECT c.host, c.n, c.j, r.ex, r.wild, r.exc
  FROM cand c JOIN rmap r ON c.sfx_j = r.sfx
), ps AS (
  SELECT l.host, len(l.ls) AS n, l.ls,
    COALESCE(
      (SELECT max(m.j) - 1 FROM m WHERE m.host = l.host AND m.exc),
      (SELECT COALESCE(greatest(
          max(CASE WHEN m.ex THEN m.j END),
          max(CASE WHEN m.wild AND m.n >= m.j + 1 THEN m.j + 1 END)), 1)
       FROM m WHERE m.host = l.host),
      1) AS ps_len
  FROM lab l
), reg AS (
  SELECT host,
    CASE WHEN n > ps_len
         THEN array_to_string(ls[n - ps_len : n], '.') END AS domain
  FROM ps
)
SELECT COALESCE(domain, '(no registrant)') AS domain,
       CAST(COUNT(*) AS BIGINT) AS n_hosts
FROM reg GROUP BY 1 ORDER BY 1
"""


@query(
    "psl_domain_panel",
    None,  # registered rows-only, PROMOTED into the gate at module end
    # (r11 rotation): swap_gate_slot gives this slot PSL_DOMAIN_ORACLE;
    # the twin also stays row-exact-pinned in tests/test_urls.py.
    doc="Public-suffix-list registrable domains (r10, "
    "operators/urls.py:with_registrable_domain): hosts synthesized "
    "in-plan from documents cover every rule kind — generic TLD, "
    "2-label suffix (a.co.uk / b.com.au frontier groups stay distinct), "
    "wildcard *.ck, exception !www.ck, bare public suffixes (NULL — no "
    "registrant), and an unknown TLD falling back to the implicit '*' "
    "rule. Spark matches rules with a fixed ladder of BROADCAST joins "
    "(the corpus never shuffles or explodes); the twin re-derives the "
    "algorithm by exploding label-suffixes — two independent "
    "constructions agreeing per host.",
)
def psl_domain_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.urls import with_registrable_domain

    d = tbl(spark, sf_dir, "documents")
    did = F.col("doc_id")
    tail = (
        F.when(did % 6 == 0, F.lit("example.com"))
        .when(did % 6 == 1, F.lit("a.co.uk"))
        .when(did % 6 == 2, F.lit("b.com.au"))
        .when(did % 6 == 3, F.lit("x.ck"))
        .when(did % 6 == 4, F.lit("www.ck"))
        .otherwise(F.lit("tail.unknowntld"))
    )
    hosts = d.select(
        F.when(did % 11 == 0, F.lit("co.uk"))
        .when(did % 11 == 1, F.lit("b.ck"))
        .otherwise(
            F.concat(F.lit("s"), (did % 5).cast("string"), F.lit("."), tail)
        )
        .alias("host")
    )
    psl = spark.createDataFrame(
        [("com",), ("uk",), ("co.uk",), ("au",), ("com.au",), ("*.ck",), ("!www.ck",)],
        "suffix string",
    )
    return (
        with_registrable_domain(hosts, "host", psl=psl)
        .groupBy(
            F.coalesce(F.col("registrable_domain"), F.lit("(no registrant)")).alias(
                "domain"
            )
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hosts"))
        .coalesce(1)
        .sortWithinPartitions("domain")
    )



# Exact twin for warc_roundtrip_panel (rotation queue): DuckDB cannot
# parse WARC and does not need to — the panel's pinned property is
# ROUNDTRIP IDENTITY (documents -> in-plan WARC serialization -> the
# real sources/warc.py parser -> per-source aggregate), so the twin
# computes the same aggregate from the source rows directly. Any parser
# defect (payload truncation, header miscount, gzip member loss,
# HTTP-strip overreach) breaks byte counts or the md5 content sum.
WARC_ROUNDTRIP_ORACLE = """
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_records,
  CAST(SUM(strlen(COALESCE(text, ''))) AS BIGINT) AS payload_bytes,
  CAST(SUM(('0x' || substr(md5(COALESCE(text, '')), 1, 8))::BIGINT) AS BIGINT)
    AS content_sum
FROM documents
GROUP BY source
ORDER BY source
"""


@query(
    "warc_roundtrip_panel",
    None,  # registered rows-only, PROMOTED into the gate at module end
    # (r11 rotation): swap_gate_slot gives this slot
    # WARC_ROUNDTRIP_ORACLE; also row-exact-pinned in tests/test_warc.py.
    doc="WARC source roundtrip (r10, sources/warc.py — the Common Crawl "
    "ingest format, stdlib-only): ONE zero-shuffle Arrow pass serializes "
    "each batch's documents as WARC response records (even doc_ids "
    "through per-record gzip members — the Common Crawl layout — odd "
    "ones plain), parses them back with the REAL parser, and aggregates "
    "per source: record count, payload bytes, md5 content sum. The "
    "DuckDB twin computes the same aggregate from the source rows "
    "directly — roundtrip identity is the pinned property.",
)
def warc_roundtrip_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from ..sources.warc import (
        WARC_RECORD_SCHEMA,
        gunzip_members,
        parse_warc_bytes,
        write_warc_bytes,
    )

    d = tbl(spark, sf_dir, "documents").select(
        "doc_id", "source", F.coalesce("text", F.lit("")).alias("text")
    )

    def _cycle(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        def gz(record_bytes: bytes) -> bytes:
            c = zlib.compressobj(wbits=31)
            return c.compress(record_bytes) + c.flush()

        cols = [f.name for f in WARC_RECORD_SCHEMA.fields]
        for pdf in batches:
            recs = [
                (
                    f"http://{s}.example.com/{i}",
                    "2024-01-01T00:00:00Z",
                    t.encode("utf-8"),
                    int(i) % 2 == 0,
                )
                for i, s, t in zip(pdf["doc_id"], pdf["source"], pdf["text"])
            ]
            # even doc_ids: one gzip member PER RECORD (the Common Crawl
            # layout gunzip_members exists for); odd: plain concatenation
            gz_blob = b"".join(
                gz(write_warc_bytes([(u, dt, p)])) for u, dt, p, e in recs if e
            )
            plain_blob = write_warc_bytes(
                [(u, dt, p) for u, dt, p, e in recs if not e]
            )
            assert gunzip_members(plain_blob) == plain_blob  # passthrough
            rows = parse_warc_bytes(gz_blob, source_file="mem-gz")
            rows += parse_warc_bytes(plain_blob, source_file="mem-plain")
            yield pd.DataFrame(rows, columns=cols)

    parsed = d.mapInPandas(_cycle, WARC_RECORD_SCHEMA)
    return (
        parsed.select(
            F.regexp_extract(F.col("url"), "http://([a-zA-Z0-9_-]+)[.]example", 1).alias(
                "source"
            ),
            F.col("payload"),
            F.col("warc_error"),
        )
        .where(F.col("warc_error").isNull())  # any error row would drop a
        # record and break n_records vs the twin — loud by comparison
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum(F.length("payload")).cast("bigint").alias("payload_bytes"),
            F.sum(
                F.conv(F.substring(F.md5("payload"), 1, 8), 16, 10).cast("bigint")
            ).alias("content_sum"),
        )
        .coalesce(1)
        .sortWithinPartitions("source")
    )



# Exact twin for script_mix_panel (rotation queue): the \x{...} range
# classes parse identically under Java regex and RE2 (probed both
# engines), so DuckDB re-counts every script with regexp_extract_all
# over the SAME patterns and re-derives the dominant-script argmax with
# explicit CASE comparisons — the engine's when-chain tie order
# reproduced independently. Script suffixes are literal UTF-8 in BOTH
# texts (DuckDB string literals do not expand \u escapes).
SCRIPT_MIX_ORACLE = r"""
WITH synth AS (
  SELECT doc_id,
    CASE CAST(doc_id % 5 AS INT)
      WHEN 0 THEN 'привет мир numero ' || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN 'γειά σου κόσμε ' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN '你好世界你好 ' || CAST(doc_id AS VARCHAR)
      WHEN 3 THEN 'שלום עולם ' || CAST(doc_id AS VARCHAR)
      ELSE COALESCE(text, '') END AS t
  FROM documents
), counted AS (
  SELECT doc_id,
    len(regexp_extract_all(t, '[A-Za-z\x{00C0}-\x{024F}]')) AS n_latin,
    len(regexp_extract_all(t, '[\x{0400}-\x{04FF}]')) AS n_cyrillic,
    len(regexp_extract_all(t, '[\x{0370}-\x{03FF}]')) AS n_greek,
    len(regexp_extract_all(t, '[\x{0600}-\x{06FF}]')) AS n_arabic,
    len(regexp_extract_all(t, '[\x{0590}-\x{05FF}]')) AS n_hebrew,
    len(regexp_extract_all(t, '[\x{0900}-\x{097F}]')) AS n_devanagari,
    len(regexp_extract_all(t, '[\x{4E00}-\x{9FFF}\x{3400}-\x{4DBF}\x{3040}-\x{30FF}]')) AS n_cjk,
    len(regexp_extract_all(t, '[\x{AC00}-\x{D7AF}\x{1100}-\x{11FF}]')) AS n_hangul
  FROM synth
), dom AS (
  SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk, n_hebrew,
    CASE WHEN n_latin + n_cyrillic + n_greek + n_arabic + n_hebrew
              + n_devanagari + n_cjk + n_hangul < 1 THEN 'none'
      WHEN n_latin >= n_cyrillic AND n_latin >= n_greek AND n_latin >= n_arabic
       AND n_latin >= n_hebrew AND n_latin >= n_devanagari AND n_latin >= n_cjk
       AND n_latin >= n_hangul THEN 'latin'
      WHEN n_cyrillic >= n_greek AND n_cyrillic >= n_arabic AND n_cyrillic >= n_hebrew
       AND n_cyrillic >= n_devanagari AND n_cyrillic >= n_cjk AND n_cyrillic >= n_hangul
       THEN 'cyrillic'
      WHEN n_greek >= n_arabic AND n_greek >= n_hebrew AND n_greek >= n_devanagari
       AND n_greek >= n_cjk AND n_greek >= n_hangul THEN 'greek'
      WHEN n_arabic >= n_hebrew AND n_arabic >= n_devanagari AND n_arabic >= n_cjk
       AND n_arabic >= n_hangul THEN 'arabic'
      WHEN n_hebrew >= n_devanagari AND n_hebrew >= n_cjk AND n_hebrew >= n_hangul
       THEN 'hebrew'
      WHEN n_devanagari >= n_cjk AND n_devanagari >= n_hangul THEN 'devanagari'
      WHEN n_cjk >= n_hangul THEN 'cjk'
      ELSE 'hangul' END AS dominant
  FROM counted
)
SELECT dominant,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_latin) AS BIGINT) AS latin_chars,
  CAST(SUM(n_cyrillic + n_greek + n_cjk + n_hebrew) AS BIGINT) AS nonlatin_chars
FROM dom
GROUP BY dominant
ORDER BY dominant
"""


@query(
    "script_mix_panel",
    None,  # registered rows-only, PROMOTED into the gate at module end
    # (r11 rotation): swap_gate_slot gives this slot SCRIPT_MIX_ORACLE;
    # also row-exact-pinned in tests/test_text_scripts.py.
    doc="Unicode script profiling (r10, operators/text.py:script_counts/"
    "dominant_script — the routing tier UNDER lang-ID: stopword "
    "identification is meaningless on CJK/Arabic text, so a multilingual "
    "crawl buckets by dominant script first). Per-script char counts are "
    "one codegen'd regexp_count each over portable \\x{...} range "
    "classes (Java regex == RE2, the class-based-regex rule); dominant "
    "script is a deterministic when-chain argmax. The panel appends "
    "per-doc_id%5 non-Latin suffixes in-plan (Cyrillic/Greek/CJK/Hebrew) "
    "and accounts docs + char masses per dominant script.",
)
def script_mix_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import dominant_script, script_counts

    d = tbl(spark, sf_dir, "documents")
    did = F.col("doc_id")
    # REPLACE the body per branch (never append-and-outweigh): every
    # dominant-script branch is exercised, the mixed Cyrillic row pins
    # the argmax against real competition, and the eight regex passes
    # scan ~20x fewer characters than a repeat()-inflated append — this
    # panel measures the operator, not synthetic padding
    body = (
        F.when(did % 5 == 0, F.concat(F.lit("привет мир numero "), did.cast("string")))
        .when(did % 5 == 1, F.concat(F.lit("γειά σου κόσμε "), did.cast("string")))
        .when(did % 5 == 2, F.concat(F.lit("你好世界你好 "), did.cast("string")))
        .when(did % 5 == 3, F.concat(F.lit("שלום עולם "), did.cast("string")))
        # coalesce like the twin: NULL text would take Spark's NULL
        # when-chain through dominant_script to NULL while DuckDB's CASE
        # falls through every NULL comparison to ELSE 'hangul' — coalesced
        # to '', both engines bucket it as 'none' (min-chars branch)
        .otherwise(F.coalesce(F.col("text"), F.lit("")))
    )
    synth = d.select(did, body.alias("t"))
    prof = synth.select(
        script_counts(F.col("t")).alias("c"),
        dominant_script(F.col("t")).alias("dominant"),
    )
    return (
        prof.groupBy("dominant")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("c.n_latin")).cast("bigint").alias("latin_chars"),
            F.sum(
                F.col("c.n_cyrillic")
                + F.col("c.n_greek")
                + F.col("c.n_cjk")
                + F.col("c.n_hebrew")
            ).cast("bigint").alias("nonlatin_chars"),
        )
        .coalesce(1)
        .sortWithinPartitions("dominant")
    )



# ---------------------------------------------------------------------------
# r10 gate rotations (VERDICT r9 items 2 + 7) — runtime slot swaps via
# registry.swap_gate_slot: the five remaining never-driver-executed exact
# twins enter the 50-slot gate; the demoted long-stable panels keep their
# twins in registry.DEMOTED_ORACLES, where
# tests/test_queries_oracle.py::test_demoted_twins_still_match parametrizes
# over them (exactness never lapses out of the gate — the rotation
# contract). Demotion choices: all five outgoing panels are green in
# CORRECTNESS r07+r08+r09, and their families keep independent pins
# (asof property tests, timeseries rollup pins, window/reshape pytest
# coverage) that never depended on the gate slot.
# ---------------------------------------------------------------------------
swap_gate_slot("temperature_mix_panel", TEMPERATURE_MIX_ORACLE, "running_customer_spend")
swap_gate_slot("unimax_mix_panel", UNIMAX_MIX_ORACLE, "asof_purchase_prior_signup")
swap_gate_slot("training_shards_manifest", TRAINING_SHARDS_ORACLE, "reshape_panel")
swap_gate_slot("cm_token_counts_panel", CM_SKETCH_ORACLE, "local_supplier_volume")
swap_gate_slot("soft_dedup_panel", SOFT_DEDUP_ORACLE, "hypertable_rollup_events")

# Freshness re-promotion (VERDICT r9 item 7, second half): the r8-demoted
# twins return to the gate so every twin stays driver-executed within a
# 3-round window. tfidf_top_terms (TFIDF_ORACLE above) and
# sessionize_events (core.SESSIONIZE_USER_ORACLE) swap back in; the
# outgoing json_extract_events / date_features_orders are r1-era panels
# green in every CORRECTNESS round, their from_json/struct/cast/date
# semantics stay gate-covered through yelp_unified_panel and
# event_lifecycle_panel, and their twins are auto-stashed in
# DEMOTED_ORACLES like every swap_gate_slot demotion.
from .core import SESSIONIZE_USER_ORACLE as _SESSIONIZE_USER_ORACLE

swap_gate_slot("tfidf_top_terms", TFIDF_ORACLE, "json_extract_events")
swap_gate_slot("sessionize_events", _SESSIONIZE_USER_ORACLE, "date_features_orders")

# Exact twin for leakage_split_audit (r11): both engines re-derive the
# md5 split draw, the prefix fingerprint, and the cross-split leakage
# count from scratch. Split boundaries are written as the SAME float
# accumulation Spark performs (0.9, then 0.9 + 0.05 — both engines
# constant-fold to the identical IEEE double), so boundary rows cannot
# disagree.
LEAKAGE_SPLIT_ORACLE = """
WITH d AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ')) AS fp,
         len(string_split(text, ' ')) AS tok
  FROM documents WHERE text IS NOT NULL
), r AS (
  SELECT 'by_cluster' AS regime, fp, tok,
         ('0x' || substr(md5('split:' || fp), 1, 8))::BIGINT
           / 4294967296.0 AS u
  FROM d
  UNION ALL
  SELECT 'by_doc', fp, tok,
         ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           / 4294967296.0
  FROM d
), s AS (
  SELECT regime, fp, tok,
         CASE WHEN u < 0.9 THEN 'train'
              WHEN u < 0.9 + 0.05 THEN 'val'
              ELSE 'test' END AS split
  FROM r
), leaks AS (
  SELECT regime, CAST(COUNT(*) AS BIGINT) AS leaked_fps FROM (
    SELECT regime, fp FROM s GROUP BY regime, fp
    HAVING COUNT(DISTINCT split) > 1
  ) GROUP BY regime
)
SELECT s.regime AS regime, s.split AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(s.tok) AS BIGINT) AS n_tokens,
       CAST(COALESCE(MAX(l.leaked_fps), 0) AS BIGINT) AS leaked_fps
FROM s LEFT JOIN leaks l ON s.regime = l.regime
GROUP BY s.regime, s.split
ORDER BY regime, split
"""


@query(
    "leakage_split_audit",
    None,  # registered rows-only; the exact twin LEAKAGE_SPLIT_ORACLE
    # above is row-exact-pinned in tests/test_training_pipeline.py —
    # rotation-queue material for r12 alongside the staleness
    # re-promotions.
    doc="Train/val/test split leakage audit (r11, "
    "operators/sampling.py:leakage_safe_splits — the eval-hygiene step "
    "every pretraining corpus needs): regime='by_cluster' keys the "
    "portable md5 split draw on the duplicate-cluster fingerprint, so "
    "every near-dup lands in ONE split and the audited cross-split "
    "leakage count is ZERO BY CONSTRUCTION — a live invariant the "
    "driver re-executes; regime='by_doc' is the naive doc-keyed control "
    "on the SAME corpus, where the audit measures real leakage "
    "(fingerprints straddling splits — the leaked-answer population a "
    "doc-keyed split cannot prevent). Per (regime, split): doc count, "
    "token mass, and the regime's leaked-fingerprint count. Shuffle "
    "budget: the split itself is a shuffle-free per-row expression; the "
    "audit is one fingerprint groupBy per regime — the exact-dedup "
    "shuffle shape, scales.",
)
def leakage_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import leakage_safe_splits
    from ..operators.text import fingerprint, token_count

    d = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            fingerprint(F.col("text"), 2).alias("fp"),
            token_count(F.col("text")).alias("tok"),
        )
        # r12 optimization: this skinny (id, fp, tok) frame is consumed
        # FOUR times (2 regimes x per-split agg + leak agg), and each
        # appearance re-ran the scan + md5 fingerprint + tokenize. Lazy
        # checkpoint: first aggregate materializes it, the rest read
        # executor-local blocks; values unchanged (oracle-gated).
        .localCheckpoint(eager=False)
    )

    def regime(name: str, key: str) -> DataFrame:
        s = leakage_safe_splits(d, key, salt="split:")
        per = s.groupBy("split").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("tok").cast("bigint").alias("n_tokens"),
        )
        leaked = (
            s.groupBy("fp")
            .agg(F.countDistinct("split").alias("ns"))
            .filter(F.col("ns") > 1)
            .agg(F.count(F.lit(1)).cast("bigint").alias("leaked_fps"))
        )
        return (
            per.crossJoin(F.broadcast(leaked))
            .select(
                F.lit(name).alias("regime"),
                "split",
                "n_docs",
                "n_tokens",
                "leaked_fps",
            )
        )

    return (
        regime("by_cluster", "fp")
        .unionAll(regime("by_doc", "doc_id"))
        .coalesce(1)
        .sortWithinPartitions("regime", "split")
    )


# ---------------------------------------------------------------------------
# r11 gate rotations (VERDICT r10 items 1 + 7): the three r10 twins that
# had never been driver-executed enter the gate (psl / warc-roundtrip /
# script-mix), and the two oldest un-refreshed source-level demotions
# (setops_customer_cohorts, approx_aggregates — out since r9) re-promote
# per the 3-round freshness policy. Demotion choices: all five outgoing
# panels are green in CORRECTNESS r08+r09+r10 and their operator families
# keep gate presence — blocking/dedup via dedup_panel +
# fingerprint_dup_groups + jaccard_pairs_panel; windows via
# topk_orders_per_segment + sessionize_events + timeseries_gapfill_locf;
# doc text stats via string_ops_panel + gopher_repetition_panel; top-k
# via topk_orders_per_segment + bm25_topk_panel; time-series joins via
# event_lifecycle_panel. Outgoing twins auto-stash in DEMOTED_ORACLES
# (test_demoted_twins_still_match picks them up with no list edit).
# ---------------------------------------------------------------------------
from .core import APPROX_AGGREGATES_ORACLE as _APPROX_AGGREGATES_ORACLE
from .core import SETOPS_COHORTS_ORACLE as _SETOPS_COHORTS_ORACLE

swap_gate_slot("psl_domain_panel", PSL_DOMAIN_ORACLE, "blocked_linkage_pairs")
swap_gate_slot("warc_roundtrip_panel", WARC_ROUNDTRIP_ORACLE, "window_analytics_panel")
swap_gate_slot("script_mix_panel", SCRIPT_MIX_ORACLE, "doc_stats_panel")
swap_gate_slot("setops_customer_cohorts", _SETOPS_COHORTS_ORACLE, "shipping_priority_top10")
swap_gate_slot("approx_aggregates", _APPROX_AGGREGATES_ORACLE, "range_join_purchase_click")

# Sixth r11 swap (same-round continuation): the brand-new PCA exact twin
# enters the gate immediately — with it, ZERO exact twins remain
# never-driver-executed at round end. Demotion: fingerprint_dup_groups
# (green r08+r09+r10; the exact-dedup family keeps heavy gate presence
# via dedup_panel, jaccard_pairs_panel, c4_span_dedup_panel,
# duplicate_spans_panel, incremental_dedup_panel, and the new
# leakage_split_audit tracker reuses the same fingerprint twin form).
swap_gate_slot("pca_apply_panel", PCA_APPLY_ORACLE, "fingerprint_dup_groups")

# ---------------------------------------------------------------------------
# r11 continuation: alignment-stage + corpus-diagnostics panels.
# Both register rows-only with their exact twins as module constants
# (pinned row-exact in pytest at sf0.001/0.01/0.1) — rotation-queue
# material alongside leakage_split_audit per the GATE_SLOTS=50 policy.
# ---------------------------------------------------------------------------

# Exact twin for preference_pairs_panel: the quality reward (distinct-token
# ratio — an exact integer division, IEEE-identical in both engines), the
# struct-extrema arg-max/arg-min (re-derived via row_number with the SAME
# (score, id) tie order Spark's lexicographic struct comparison applies),
# and the rounded-before-threshold margin bar.
PREFERENCE_PAIRS_ORACLE = """
WITH d AS (
  SELECT lang, source, doc_id,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS score
  FROM documents WHERE text IS NOT NULL
), ranked AS (
  SELECT lang, source, doc_id, score,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY score DESC, doc_id DESC) AS rb,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY score ASC, doc_id ASC) AS rw,
         count(*) OVER (PARTITION BY lang, source) AS n
  FROM d
)
SELECT b.lang AS lang, b.source AS source,
       b.doc_id AS chosen_id, w.doc_id AS rejected_id,
       b.score AS chosen_score, w.score AS rejected_score,
       round(b.score - w.score, 9) AS margin,
       CAST(b.n AS BIGINT) AS n_candidates
FROM (SELECT * FROM ranked WHERE rb = 1) b
JOIN (SELECT * FROM ranked WHERE rw = 1) w
  ON b.lang = w.lang AND b.source = w.source
WHERE b.doc_id <> w.doc_id AND round(b.score - w.score, 9) >= 0.05
ORDER BY lang, source
"""


@query(
    "preference_pairs_panel",
    None,  # rows-only by slot; exact twin PREFERENCE_PAIRS_ORACLE above is
    # row-exact-pinned in tests/test_preference.py (rotation queue).
    doc="RLHF/DPO preference-pair construction (operators/preference.py — "
    "the alignment-stage tail of the pipeline): per (lang, source) group, "
    "pair the highest- and lowest-reward document under a deterministic "
    "quality reward (distinct-token ratio), tie-broken by id via struct "
    "ordering, dropping singleton groups and pairs under the rounded "
    "0.05-margin bar. Shuffle budget: ONE groupBy with two struct extrema "
    "— no self-join, no window sort; map-side partials shrink first — "
    "scales.",
)
def preference_pairs_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.preference import preference_pairs

    toks = F.split(F.col("text"), " ")
    d = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "lang",
            "source",
            "doc_id",
            (
                F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
            ).alias("score"),
        )
    )
    return (
        preference_pairs(d, ["lang", "source"], "doc_id", "score", min_margin=0.05)
        .coalesce(1)
        .sortWithinPartitions("lang", "source")
    )


# Exact twin for mirror_detection_panel: the bag-of-words fingerprint
# (md5 of sorted distinct tokens — order/multiplicity-invariant), the
# per-fingerprint copy/source counts, and the sorted mirror-set CSV all
# re-derived from scratch in DuckDB.
MIRROR_DETECTION_ORACLE = """
WITH k AS (
  SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag_fp,
         doc_id, source
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
), g AS (
  SELECT bag_fp,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(min(doc_id) AS BIGINT) AS min_doc_id,
         list_sort(list(DISTINCT source)) AS srcs
  FROM k GROUP BY bag_fp
)
SELECT bag_fp, n_docs, CAST(len(srcs) AS BIGINT) AS n_sources, min_doc_id,
       array_to_string(srcs, ',') AS sources_csv
FROM g WHERE len(srcs) >= 2
ORDER BY bag_fp
"""


@query(
    "mirror_detection_panel",
    None,  # rows-only by slot; exact twin MIRROR_DETECTION_ORACLE above is
    # row-exact-pinned in tests/test_dedup_similarity.py (rotation queue).
    doc="Cross-host mirror/syndication detection "
    "(operators/dedup.py:cross_source_mirrors): bag-of-words fingerprint "
    "(order- and multiplicity-invariant — reordered mirror pages still "
    "collide where prefix and exact-text hashes miss) grouped once, "
    "keeping content seen on >= 2 distinct sources with copy count, host "
    "count, deterministic representative, and the sorted mirror set. The "
    "duplication PROFILE a dedup policy is chosen from, not the dedup "
    "itself. Shuffle budget: one fingerprint groupBy (exact-dedup shape), "
    "hash aggregate preserved by deriving n_sources from the collected "
    "set instead of countDistinct — scales.",
)
def mirror_detection_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        dd.cross_source_mirrors(
            tbl(spark, sf_dir, "documents"), "doc_id", "text", "source", min_sources=2
        )
        .coalesce(1)
        .sortWithinPartitions("bag_fp")
    )


@query(
    "compression_quality_panel",
    None,  # rows-only BY DESIGN (not by rotation slot): DEFLATE output
    # has no SQL form, so the exactness pin is the python-model recompute
    # in tests/test_compression.py — same verification class as the BPE /
    # k-means / eigh boundaries.
    doc="DEFLATE-compressibility quality profile "
    "(operators/text.py:compression_signal — the RedPajama-V2/Dolma "
    "signal): per language, corpus byte mass, the exact-integer corpus "
    "compression ratio (sum deflate / sum utf8 — ONE division over exact "
    "BIGINT sums, never an order-dependent float mean), and both tail "
    "buckets cut on integer cross-products (deflate*100 < utf8*45 / "
    "> utf8*85) so the kept sets are engine- and layout-portable. "
    "Shuffle budget: zero-shuffle Arrow kernel + one tiny groupBy(lang) "
    "— scales.",
)
def compression_quality_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = tx.compression_signal(
        tbl(spark, sf_dir, "documents").filter(F.col("text").isNotNull()),
        "doc_id",
        "text",
        carry=("lang",),
    )
    return (
        tx.compression_rollup(sig, group_cols=("lang",))
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


# Exact twin for compression_rollup_panel: the surrogate signal (byte
# masses + the distinct-token LZ-window model, pure integer SQL) and the
# FULL rollup — exact BIGINT sums, integer cross-product tail cuts with
# the empty-doc guard, one corpus-ratio division — re-derived from
# scratch in DuckDB. strlen() is DuckDB's UTF-8 byte length (Spark's
# octet_length).
COMPRESSION_ROLLUP_ORACLE = """
WITH sig AS (
  SELECT lang,
         CAST(strlen(text) AS BIGINT) AS utf8_bytes,
         CAST(strlen(array_to_string(list_distinct(string_split(text, ' ')), ' '))
              + 8 AS BIGINT) AS deflate_bytes
  FROM documents WHERE text IS NOT NULL
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(utf8_bytes) AS BIGINT) AS utf8_bytes,
       CAST(sum(deflate_bytes) AS BIGINT) AS deflate_bytes,
       CAST(sum(CASE WHEN utf8_bytes > 0 AND deflate_bytes * 100 < utf8_bytes * 45
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_too_compressible,
       CAST(sum(CASE WHEN utf8_bytes > 0 AND deflate_bytes * 100 > utf8_bytes * 85
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_incompressible,
       CASE WHEN sum(utf8_bytes) > 0
            THEN CAST(sum(deflate_bytes) AS DOUBLE) / sum(utf8_bytes) END AS corpus_ratio
FROM sig GROUP BY lang ORDER BY lang
"""


@query(
    "compression_rollup_panel",
    None,  # gated via the r12 swap below
    doc="Driver-gated exactness for the SQL-expressible HALF of the "
    "compressibility profile (operators/text.py:compression_rollup — the "
    "pca_apply_panel precedent: the DEFLATE kernel has no SQL form and "
    "stays python-model-pinned in test_compression.py, but the rollup it "
    "feeds is pure relational algebra and gets its own exact twin). The "
    "REAL rollup code path — exact BIGINT sums, integer cross-product "
    "tail cuts with the empty-doc guard, ONE corpus-ratio division — "
    "runs over a closed-form integer surrogate both engines compute "
    "identically: utf8_bytes = octet_length(text), deflate_bytes = "
    "octet_length(distinct-token join) + 8 (the LZ-window vocabulary-mass "
    "model of DEFLATE, + the 8-byte header; empty text collapses to the "
    "real kernel's 8-byte floor). Tail buckets are LIVE on the sf corpus "
    "under the surrogate. Shuffle budget: one tiny groupBy(lang) — "
    "scales.",
)
def compression_rollup_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    sig = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "lang",
            F.octet_length("text").cast("bigint").alias("utf8_bytes"),
            (
                F.octet_length(F.array_join(F.array_distinct(toks), " ")) + F.lit(8)
            ).cast("bigint").alias("deflate_bytes"),
        )
    )
    return (
        tx.compression_rollup(sig, group_cols=("lang",))
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


# ---------------------------------------------------------------------------
# r11 session-2 rotations (seventh-ninth swaps): the three r11-new exact
# twins enter the gate the same round they were built, so NO exact twin
# is ever driver-unexecuted at round end. Demotions are all green in
# CORRECTNESS r08+r09+r10 with their families keeping gate presence:
# - jaccard_pairs_panel -> mirror_detection_panel (like-for-like dedup
#   family swap; exact/near-dup keeps dedup_panel, c4_span_dedup_panel,
#   duplicate_spans_panel, incremental_dedup_panel, soft_dedup_panel).
# - text_fingerprints_panel -> leakage_split_audit (fingerprint-keyed
#   md5 draws stay gate-covered via the audit itself + dedup_panel +
#   string_ops_panel; winnowing/simhash stay pytest-pinned trackers).
# - degree_panel -> preference_pairs_panel (graph keeps FIVE gate rows:
#   triangle_count, graph_two_hop, friends_of_friends,
#   integrity_orphan_checks, existence_join_panel; degree closure
#   semantics remain pinned in test_graph.py).
# Outgoing twins auto-stash in DEMOTED_ORACLES (pytest pin automatic).
# ---------------------------------------------------------------------------
swap_gate_slot("mirror_detection_panel", MIRROR_DETECTION_ORACLE, "jaccard_pairs_panel")
swap_gate_slot("leakage_split_audit", LEAKAGE_SPLIT_ORACLE, "text_fingerprints_panel")
swap_gate_slot("preference_pairs_panel", PREFERENCE_PAIRS_ORACLE, "degree_panel")


@query(
    "near_dup_clusters_panel",
    None,  # rows-only BY DESIGN: connected components is iterative (no
    # SQL form); the exactness pin is the from-scratch python union-find
    # recompute in tests/test_dedup_similarity.py — the same class as the
    # other graph iteratives. Every building block is independently
    # verified (minhash bands: exact twin via jaccard_pairs_panel's
    # signature SQL, now in DEMOTED_ORACLES; CC: union-find model pins;
    # jaccard: exact-twin-covered arithmetic).
    doc="End-to-end fuzzy dedup (the composition the pipeline actually "
    "runs): MinHash-LSH candidate pairs -> EXACT token-Jaccard "
    "verification on candidates only (array_intersect/union on the two "
    "joined token arrays — never the all-pairs inverted index) -> "
    "connected components -> per-cluster-size histogram (n_clusters, "
    "n_docs). Shuffle budget: the LSH band groupBy + pair distinct "
    "(uniform hash keys), TWO id-keyed joins bounded by candidate count "
    "(duplicated mass, not corpus size), then CC's diameter-bounded "
    "rounds on the verified-pair graph — dup clusters are shallow. "
    "Scales.",
)
def near_dup_clusters_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    resolved = dd.fuzzy_dedup_clusters(
        d, "doc_id", "text", jaccard_threshold=0.5, k=8, rows_per_band=2, shingle_n=3
    )
    return (
        resolved.groupBy("entity_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_sz"))
        .groupBy(F.col("_sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("_sz").cast("bigint").alias("n_docs"),
        )
        .coalesce(1)
        .sortWithinPartitions("cluster_size")
    )


# Exact twin for epoch_materialize_panel: the fixed epoch table, the
# floor + fractional-md5-draw copy count, and the per-stratum audit all
# re-derived in DuckDB. The epoch literals are exactly representable
# doubles (quarters), so floor/frac arithmetic is IEEE-identical.
EPOCH_MATERIALIZE_ORACLE = """
WITH d AS (
  SELECT lang, doc_id FROM documents WHERE text IS NOT NULL
), e(lang, epochs) AS (
  VALUES ('en', 2.25), ('de', 1.0), ('fr', 0.5), ('es', 3.0), ('zh', 1.75)
), m AS (
  SELECT d.lang, d.doc_id,
         CAST(floor(e.epochs) AS BIGINT)
         + CASE WHEN ('0x' || substr(md5('ep:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                       / 4294967296.0 < e.epochs - floor(e.epochs)
                THEN 1 ELSE 0 END AS n_copies
  FROM d JOIN e USING (lang)
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_source_docs,
       CAST(count(*) FILTER (WHERE n_copies > 0) AS BIGINT) AS n_kept_docs,
       CAST(sum(n_copies) AS BIGINT) AS n_rows_out,
       CAST(max(n_copies) AS BIGINT) AS max_copy
FROM m GROUP BY lang ORDER BY lang
"""


@query(
    "epoch_materialize_panel",
    None,  # rows-only by slot; exact twin EPOCH_MATERIALIZE_ORACLE above is
    # row-exact-pinned in tests/test_weighted_sample.py (rotation queue).
    doc="Epoch materialization (operators/sampling.py:materialize_epochs — "
    "the missing tail between unimax_mix_allocation's REPORTED epochs and "
    "a trainer that needs concrete rows): per-lang fixed allocations "
    "(0.5x..3x, so sub- and up-sampling are both live) materialize as "
    "floor(e) copies + one fractional copy by portable md5 draw; the "
    "panel audits per lang: source docs, kept docs, materialized rows, "
    "max copy index — recomputed FROM the exploded stream, so the "
    "explode/guard path is what the driver executes. Shuffle budget: "
    "broadcast rates join + row-local draw + explode (0 corpus shuffles) "
    "+ two tiny aggregates — scales.",
)
def epoch_materialize_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import materialize_epochs

    d = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("lang", "doc_id")
    )
    rates = d.sparkSession.createDataFrame(
        [("en", 2.25), ("de", 1.0), ("fr", 0.5), ("es", 3.0), ("zh", 1.75)],
        "lang string, epochs double",
    )
    mat = materialize_epochs(d, rates, "lang", "doc_id")
    src = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_source_docs"))
    out = mat.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_kept_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows_out"),
        F.max("epoch_copy").cast("bigint").alias("max_copy"),
    )
    return (
        src.join(out, "lang", "left")
        .select(
            "lang",
            "n_source_docs",
            F.coalesce("n_kept_docs", F.lit(0)).cast("bigint").alias("n_kept_docs"),
            F.coalesce("n_rows_out", F.lit(0)).cast("bigint").alias("n_rows_out"),
            F.coalesce("max_copy", F.lit(0)).cast("bigint").alias("max_copy"),
        )
        .coalesce(1)
        .sortWithinPartitions("lang")
    )


# Tenth r11 swap: the epoch-materialization twin enters the gate the
# round it was built (the zero-driver-unexecuted-twins invariant).
# Like-for-like demotion inside the sampling/mixing family:
# temperature_mix_panel (green r09+r10; the family keeps
# corpus_mix_budget, unimax_mix_panel, leakage_split_audit,
# training_shards_manifest in the gate, and the outgoing twin
# auto-stashes in DEMOTED_ORACLES for the mandatory pytest pin).
swap_gate_slot("epoch_materialize_panel", EPOCH_MATERIALIZE_ORACLE, "temperature_mix_panel")


# ---------------------------------------------------------------------------
# r12 rotations (VERDICT r11 items 3 + 4): the new compression-rollup
# twin enters the gate the round it was built (the
# zero-driver-unexecuted-twins invariant), and the three oldest
# source-level demotions re-enter on the freshness cadence (out since
# the r10 rotation — every exact twin stays driver-executed within a
# trailing 3-round window). Demotions are all green in CORRECTNESS
# r09+r10+r11 with their families keeping gate presence:
# - decontam_ngram_overlap -> compression_rollup_panel (decontam keeps
#   exact_substring_decontam + semantic_decontam_report in the gate).
# - triangle_count_friend_graph -> weighted_sample_orders (graph keeps
#   FOUR gate rows: graph_two_hop_region_customers,
#   friends_of_friends_recommendations, integrity_orphan_checks,
#   existence_join_panel).
# - grouping_sets_revenue -> sentiment_by_source (the TPC-H agg family
#   keeps pricing_summary, star_join_revenue, salted_agg_status_revenue,
#   priority_stats_panel, topk_orders_per_segment; ROLLUP/grouping()
#   semantics stay gate-covered via data_quality_profile's ROLLUP).
# - url_canonical_panel -> item_cooccurrence_pairs (the crawl/web family
#   keeps psl_domain_panel + warc_roundtrip_panel).
# Outgoing twins auto-stash in DEMOTED_ORACLES (pytest pin automatic);
# the three re-promoted source-level twins leave the explicit pin list
# in tests/test_queries_oracle.py because the gate covers them again.
# ---------------------------------------------------------------------------
swap_gate_slot("compression_rollup_panel", COMPRESSION_ROLLUP_ORACLE, "decontam_ngram_overlap")
swap_gate_slot("weighted_sample_orders", WEIGHTED_SAMPLE_ORACLE, "triangle_count_friend_graph")
swap_gate_slot("sentiment_by_source", SENTIMENT_BY_SOURCE_ORACLE, "grouping_sets_revenue")
swap_gate_slot("item_cooccurrence_pairs", ITEM_COOCCURRENCE_ORACLE, "url_canonical_panel")


@query(
    "alignment_tail_panel",
    None,  # rows-only BY DESIGN: fuzzy_dedup_clusters' connected
    # components is iterative (no SQL form), so the composition inherits
    # the near_dup_clusters_panel verification class — every stage is
    # independently twin/model-pinned (gopher_repetition_panel,
    # near_dup_clusters' union-find recompute, leakage_split_audit,
    # preference_pairs_panel, epoch_materialize_panel), and
    # tests/test_training_pipeline.py::test_alignment_tail_end_to_end
    # pins the CROSS-OPERATOR contracts (split-confined preference
    # pairs, zero train/test fingerprint leakage through the shard
    # files, manifest-audit closure) that the per-op twins can't see.
    doc="The alignment-stage tail as ONE composed plan (VERDICT r11 item "
    "5): Gopher rule screen -> fuzzy_dedup_clusters (LSH -> exact-Jaccard "
    "verify on candidates only -> CC) -> leakage_safe_splits keyed on the "
    "CLUSTER id -> per-split audit with preference-pair and epoch-stream "
    "mass for the train split. Columns: (split, n_docs, n_entities, "
    "n_canonical, leaked_fps [exact-content fingerprints shared with any "
    "other split — 0 by construction], n_pref_pairs, n_epoch_rows [train "
    "only; 0 elsewhere]). Shuffle budget: the dedup composition's banded "
    "equi-join + bounded verify + diameter-bounded CC, one split groupBy, "
    "one struct-extrema groupBy for pairs, broadcast rates join for "
    "epochs — no all-pairs stage anywhere; scales.",
)
def alignment_tail_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.preference import preference_pairs
    from ..operators.sampling import leakage_safe_splits, materialize_epochs

    d = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "lang", "text")
    )
    g = tx.gopher_quality_flags(F.col("text"), min_words=20, min_stopword_hits=1)
    # r12 optimization: the screened projection feeds FOUR subtrees of the
    # dedup composition (LSH band rows, both token sides of the Jaccard
    # verify joins, and the records side of resolve_entities), and the
    # gopher regex gate is the expensive part of each re-evaluation
    # (~1.7 s/scan at sf0.1, measured via noop). Persist it once;
    # unpersisted below after the collect, so nothing leaks across runs.
    screened = d.filter(g["passes_gopher_quality"]).persist()
    split = leakage_safe_splits(
        dd.fuzzy_dedup_clusters(screened, "doc_id", "text"), "entity_id"
    ).persist()

    stats = split.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.size(F.collect_set("entity_id")).cast("bigint").alias("n_entities"),
        F.sum(F.col("is_canonical").cast("long")).cast("bigint").alias("n_canonical"),
    )
    fps = split.select("split", F.md5("text").alias("fp")).distinct()
    leaks = (
        fps.alias("a")
        .join(fps.alias("b"), (F.col("a.fp") == F.col("b.fp")) & (F.col("a.split") != F.col("b.split")))
        .groupBy(F.col("a.split").alias("split"))
        .agg(F.size(F.collect_set("a.fp")).cast("bigint").alias("leaked_fps"))
    )
    train = split.filter(F.col("split") == "train")
    toks = F.split(F.col("text"), " ")
    n_pairs = (
        preference_pairs(
            train.withColumn(
                "score", F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
            ),
            ["lang"], "doc_id", "score", min_margin=0.05,
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pref_pairs"))
        .withColumn("split", F.lit("train"))
    )
    rates = spark.createDataFrame(
        [("en", 2.0), ("de", 1.0), ("fr", 0.5), ("es", 1.5), ("zh", 1.0)],
        "lang string, epochs double",
    )
    n_epochs = (
        materialize_epochs(
            train.filter(F.col("is_canonical")).select("lang", "doc_id"),
            rates, "lang", "doc_id",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_epoch_rows"))
        .withColumn("split", F.lit("train"))
    )
    out = (
        stats.join(leaks, "split", "left")
        .join(n_pairs, "split", "left")
        .join(n_epochs, "split", "left")
        .select(
            "split",
            "n_docs",
            "n_entities",
            "n_canonical",
            F.coalesce("leaked_fps", F.lit(0)).cast("bigint").alias("leaked_fps"),
            F.coalesce("n_pref_pairs", F.lit(0)).cast("bigint").alias("n_pref_pairs"),
            F.coalesce("n_epoch_rows", F.lit(0)).cast("bigint").alias("n_epoch_rows"),
        )
    )
    # try/finally (ADVICE r12): if the collect raises (e.g. the
    # max_bucket guard fires), the cached frames must not leak into the
    # shared bench session across the remaining queries.
    try:
        rows = out.collect()
    finally:
        split.unpersist()
        screened.unpersist()
    return (
        spark.createDataFrame(rows, out.schema)
        .coalesce(1)
        .sortWithinPartitions("split")
    )
