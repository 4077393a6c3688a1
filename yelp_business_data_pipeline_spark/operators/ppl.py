"""N-gram language-model perplexity filtering — the CCNet screen
(Wenzek et al. 2020): score every document by an n-gram LM trained on
the corpus (CCNet uses a Wikipedia KenLM; the scale-friendly stand-in
here is a corpus-fit bigram model with Stupid Backoff, Brants et al.
2007 — the canonical web-scale smoothing precisely because it needs no
normalization pass), then split each language into head/middle/tail
perplexity terciles. "Head" is the fluent slice a pretraining mix
over-samples; "tail" is boilerplate/garbage.

Spark-first decomposition — ALL JVM, no Python anywhere:

- **The LM is two aggregations, never a driver collect**: unigram and
  bigram counts are plain groupBys over the exploded token stream; the
  model STAYS a DataFrame pair, so vocabulary size never constrains the
  driver (the 100-TB shape: a 5-gram web LM does not fit anywhere, a
  distributed count table trivially does). Scoring joins the corpus
  bigram stream against the count tables — the unigram table is
  broadcast, the bigram join shuffles on the (w1, w2) key like any
  fact-to-dim join.
- **Stupid Backoff scoring**: S(w2|w1) = cnt(w1,w2)/cnt(w1) when the
  bigram was seen, else 0.4 * cnt(w2)/total (the published alpha); the
  first token of a doc scores S(w) = cnt(w)/total. Deterministic given
  the counts — no RNG, no iterative fit.
- **Per-doc score** = mean negative log10 S over scored positions; the
  reported ``ppl`` = 10^mean is the standard perplexity-style number
  (a true perplexity under a normalized model; a monotone fluency score
  under backoff). Rounded to 6 decimals BEFORE ranking so tercile
  boundaries are cross-engine stable (the tfidf rule), ties broken by
  doc id.
- **Terciles** are an ntile(3) window per language over (rounded ppl,
  id) — one sort exchange per language partition, the same shape DuckDB
  reproduces exactly; the whole operator (counts, backoff, terciles) is
  ANSI-SQL-expressible, so the tracker carries an exact DuckDB twin.

No reference counterpart; first-class LLM-pipeline surface alongside
the learned-quality classifier (qualityclf — discriminative) and the
Gopher/C4 gates (rule-based): this is the generative-LM leg of the
quality family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import ws_tokens

#: Stupid Backoff's published backoff weight (Brants et al. 2007 §4).
BACKOFF_ALPHA = 0.4


def _toks(text_col: str):
    return ws_tokens(F.col(text_col))


def doc_token_stream(
    df: DataFrame, id_col: str, text_col: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(id, [carry...], pos, w1, w2) — one row per token position: the
    token at ``pos`` (w2) and its predecessor (w1, NULL at pos 0). One
    posexplode_outer (tokenless/NULL-text docs keep ONE all-NULL row —
    the dsir sentinel rule, so scoring can report them instead of
    dropping them); bigrams come from the zip_with-over-shifted-slices
    construction (the dsir trick — no per-element interpreted lambda)."""
    toks = _toks(text_col)
    prevs = F.concat(F.array(F.lit(None).cast("string")), toks)
    pairs = F.zip_with(
        F.slice(prevs, 1, F.size(toks)), toks, lambda a, b: F.struct(
            a.alias("w1"), b.alias("w2")
        )
    )
    return df.select(
        F.col(id_col), *carry, F.posexplode_outer(pairs).alias("pos", "pair")
    ).select(id_col, *carry, "pos", F.col("pair.w1"), F.col("pair.w2"))


def fit_bigram_lm(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(unigrams, bigrams, total) — the count tables ARE the model.

    unigrams: (w, u_cnt); bigrams: (w1, w2, b_cnt); total: 1-row token
    count. Two groupBys over the token stream; everything stays
    distributed (fit this on a ``sampling.hash_sample`` at scale — the
    counts converge long before the corpus ends, but nothing breaks if
    you fit on all of it).

    The unigram table is consumed THREE times per scoring pass —
    broadcast as the ``w2`` role, broadcast as the ``w1`` role, and
    aggregated for ``total``. Runtime exchange reuse dedupes the shuffle UNDER the agg,
    but each consumer still replans and re-runs its own post-shuffle
    aggregation + broadcast build, and the static plan carries one full
    corpus-scan subtree per role (measured: score_perplexity 9 jobs ->
    7 with the checkpoint; the threshold-bucket plan drops from 20
    ``Scan parquet`` leaves / 26 Exchanges to 4 RDD scans / 2 Exchanges
    combined with the scored checkpoint below). A lazy
    ``localCheckpoint`` makes the first consumer compute the table once
    and every other consumer read executor-local blocks; the model
    VALUES are bit-identical (same aggregation, same plan below the
    checkpoint). ``total`` is derived from the materialized table, so it
    costs a vocabulary-sized agg, not a corpus pass."""
    stream = doc_token_stream(df, id_col, text_col).filter(F.col("w2").isNotNull())
    uni = stream.groupBy(F.col("w2").alias("w")).agg(
        F.count(F.lit(1)).cast("bigint").alias("u_cnt")
    )
    bi = (
        stream.filter(F.col("w1").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("b_cnt"))
    )
    # lazy: fit stays a transformation — the first action touching
    # the table materializes it; no job is run at fit time.
    # storage policy: SCALE.md 'Checkpoint & reuse storage policy'
    # (reused frame consumed by the returned lazy plan)
    uni = uni.localCheckpoint(eager=False)
    total = uni.agg(F.sum("u_cnt").cast("bigint").alias("n_tokens"))
    return uni, bi, total


def score_perplexity(
    df: DataFrame,
    lm: tuple[DataFrame, DataFrame, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    carry: tuple[str, ...] = (),
    alpha: float = BACKOFF_ALPHA,
) -> DataFrame:
    """(id, [carry...], n_scored, ppl) — Stupid Backoff fluency score
    per doc, ``ppl = 10^(mean -log10 S)`` rounded to 6 decimals (the
    rank-stability rule). Docs with no tokens get NULL ppl.

    Joins: token stream ⟕ bigram counts on (w1,w2) — the one shuffle —
    then ⟕ broadcast unigram counts on w2 for both the backoff
    numerator and the w1 context count (cnt(w1,w2)/cnt(w1) needs cnt(w1); joining the
    unigram table on w1 would be a second shuffle, so the stream carries
    cnt(w1) from a self-aware trick: S(w2|w1) = b_cnt / u_cnt(w1) — we
    join unigrams TWICE, once per role, both broadcastable)."""
    uni, bi, total = lm
    u2 = F.broadcast(uni.withColumnRenamed("w", "w2").withColumnRenamed("u_cnt", "u2_cnt"))
    u1 = F.broadcast(uni.withColumnRenamed("w", "w1").withColumnRenamed("u_cnt", "u1_cnt"))
    stream = doc_token_stream(df, id_col, text_col, carry=carry)
    scored = (
        stream.join(bi, ["w1", "w2"], "left")
        .join(u2, "w2", "left")
        .join(u1, "w1", "left")
        .crossJoin(F.broadcast(total))
    )
    # S: seen bigram -> b/u1; unseen or pos 0 -> alpha^(pos>0) * u2/total;
    # OOV w2 (never in training) -> alpha * 1/total floor (keeps log finite)
    s = (
        F.when(F.col("b_cnt").isNotNull(), F.col("b_cnt") / F.col("u1_cnt"))
        .otherwise(
            F.when(F.col("pos") > 0, F.lit(alpha)).otherwise(F.lit(1.0))
            * F.coalesce(F.col("u2_cnt"), F.lit(1)) / F.col("n_tokens")
        )
    )
    neglog = F.when(F.col("w2").isNotNull(), -F.log10(s))
    agg = scored.groupBy(id_col, *carry).agg(
        F.sum(F.col("w2").isNotNull().cast("int")).cast("bigint").alias("n_scored"),
        F.avg(neglog).alias("_m"),  # avg skips the sentinel's NULL
    )
    return agg.select(
        id_col,
        *carry,
        "n_scored",
        F.when(
            F.col("n_scored") > 0, F.round(F.pow(F.lit(10.0), F.col("_m")), 6)
        ).alias("ppl"),
    )


def perplexity_terciles(
    scored: DataFrame,
    id_col: str = "doc_id",
    by: str = "lang",
    ppl_col: str = "ppl",
) -> DataFrame:
    """CCNet's head/middle/tail split: ntile(3) per ``by`` group over
    (rounded ppl, id) — deterministic, one sort exchange per group key,
    exactly reproducible in SQL. bucket 1 = head (most fluent).

    NULL ppl rows (tokenless docs, the score_perplexity sentinel) sort
    LAST — Spark's default NULLS FIRST would rank garbage docs into the
    'head' tercile AND diverge from SQL engines' ASC = NULLS LAST; the
    explicit asc_nulls_last keeps unfiltered composition safe and the
    DuckDB twin exact."""
    w = Window.partitionBy(by).orderBy(
        F.col(ppl_col).asc_nulls_last(), F.col(id_col).asc()
    )
    return scored.withColumn("bucket", F.ntile(3).over(w)).withColumn(
        "bucket_name",
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), F.col("bucket")
        ),
    )


def perplexity_thresholds(
    scored: DataFrame,
    by: str = "lang",
    ppl_col: str = "ppl",
    accuracy: int = 100_000,
) -> DataFrame:
    """(by, c1, c2) — per-group 1/3 and 2/3 ppl cut points via
    ``approx_percentile`` (Greenwald-Khanna sketch: bounded memory per
    group, partial-aggregated map-side, mergeable — rank error at most
    group_size/accuracy). One small aggregate; the result is
    |groups| rows and broadcasts."""
    return (
        scored.filter(F.col(ppl_col).isNotNull())
        .groupBy(by)
        .agg(
            F.percentile_approx(
                ppl_col, F.array(F.lit(1.0 / 3.0), F.lit(2.0 / 3.0)), accuracy
            ).alias("_c")
        )
        .select(
            by,
            F.col("_c")[0].alias("ppl_cut_1"),
            F.col("_c")[1].alias("ppl_cut_2"),
        )
    )


def perplexity_threshold_buckets(
    scored: DataFrame,
    by: str = "lang",
    ppl_col: str = "ppl",
    accuracy: int = 100_000,
) -> DataFrame:
    """Scale-safe head/middle/tail: bucket by COMPARISON against two
    per-group cut points instead of ranking — the production CCNet
    screen at 100 TB.

    :func:`perplexity_terciles` is exact and cross-engine reproducible
    (it stays the oracle-twin path) but its ``ntile(3) OVER (PARTITION
    BY lang ORDER BY ppl, id)`` funnels an entire language's corpus
    through ONE task's sort — and at web scale 'en' IS most of the
    corpus. This variant never sorts: one bounded
    :func:`perplexity_thresholds` aggregate (sketch-based, map-side
    partial), broadcast-joined back, then a three-way comparison —
    the plan is scan -> partial agg -> broadcast join, no Window, no
    per-group global sort.

    Agreement with the ntile path is modulo boundary ties: documents
    whose rounded ppl equals a cut value can land on either side (ntile
    splits equal-COUNT, thresholds split by VALUE), plus the sketch's
    documented rank error (<= group_size/accuracy positions around each
    cut). Docs strictly between cuts agree exactly — pinned in
    tests/test_ppl.py. NULL ppl (tokenless sentinel) buckets to 'tail',
    matching the ntile path's NULLS-LAST placement.

    ``scored`` appears TWICE in this plan — once under the cuts
    aggregate and once as the probe side of the bucket join. Runtime exchange reuse covers
    the exchange-rooted parts of the duplicate subtree, but the probe
    side's pre-exchange stages (scan + tokenize + posexplode) still
    execute per appearance and the static plan doubles every leaf
    (measured at sf0.01: 20 ``Scan parquet`` leaves / 26 Exchanges ->
    4 RDD scans / 2 Exchanges with the LM checkpoint above; jobs 11 ->
    9; sf0.1 medians improved, mins within noise on warm NVMe — the
    win grows with scan cost, i.e. with scale/remote inputs). A lazy
    ``localCheckpoint`` of the skinny per-doc (id, carry, n_scored,
    ppl) frame makes the cuts job materialize it once and the bucket
    join read executor-local blocks — buckets are bit-identical to the
    uncheckpointed plan's."""
    # storage policy: SCALE.md 'Checkpoint & reuse storage policy'
    scored = scored.localCheckpoint(eager=False)
    cuts = perplexity_thresholds(scored, by=by, ppl_col=ppl_col, accuracy=accuracy)
    return bucket_by_thresholds(scored, cuts, by=by, ppl_col=ppl_col)


def bucket_by_thresholds(
    scored: DataFrame,
    cuts: DataFrame,
    by: str = "lang",
    ppl_col: str = "ppl",
) -> DataFrame:
    """Bucket against PROVIDED per-group cut points — the frozen-model
    half of the threshold path: fit the cuts once on the reference
    corpus (:func:`perplexity_thresholds`), persist the |groups|-row
    frame, and apply it to every new crawl batch (the streaming screen
    rides exactly this — cut points must NOT drift per micro-batch).
    ``cuts`` carries (by, ppl_cut_1, ppl_cut_2).

    A group ABSENT from ``cuts`` (a language the reference corpus never
    saw — inevitable on open crawl) gets bucket 0 / ``'no_cuts'``, never
    a silent 'tail': the screen has no opinion about a language it was
    not fit on, and hiding that as "worst fluency" would discard whole
    languages invisibly. Callers choose the policy (the composed screen
    drops them — visibly, with the bucket naming why). The self-fit path
    (:func:`perplexity_threshold_buckets`) can never emit it: every
    group with a non-NULL ppl row produces its own cuts row, and
    all-NULL groups bucket 'tail' on the NULL check first."""
    missing = F.col("ppl_cut_1").isNull() & F.col(ppl_col).isNotNull()
    bucket = (
        F.when(F.col(ppl_col).isNull(), F.lit(3))
        .when(missing, F.lit(0))
        .when(F.col(ppl_col) <= F.col("ppl_cut_1"), F.lit(1))
        .when(F.col(ppl_col) <= F.col("ppl_cut_2"), F.lit(2))
        .otherwise(F.lit(3))
    )
    name = (
        F.when(F.col("bucket") == 0, F.lit("no_cuts"))
        .when(F.col("bucket") == 1, F.lit("head"))
        .when(F.col("bucket") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        # eqNullSafe: a NULL group key (lang-ID failure — routine on crawl
        # data) is its own group in BOTH the cuts aggregate and the ntile
        # twin; a plain equi-join would never match its cuts row and
        # silently force every such doc into 'tail'
        scored.join(
            F.broadcast(cuts.withColumnRenamed(by, "_cut_key")),
            F.col(by).eqNullSafe(F.col("_cut_key")),
            "left",
        )
        .drop("_cut_key")
        .withColumn("bucket", bucket)
        .withColumn("bucket_name", name)
        .drop("ppl_cut_1", "ppl_cut_2")
    )
