"""The composed pretraining screen — rule gates + learned classifier +
LM-perplexity bucket as ONE per-doc verdict frame with one driver-visible
cost number (VERDICT r8 item 8; the ``quality_gate_panel`` precedent
extended to the two model-based legs that landed in round 8).

A production LLM data pipeline does not run its quality legs as separate
jobs that each re-emit a corpus — it computes one ``keep`` verdict per
document. This module composes the three families this repo already
pins individually:

- **rule gates** (``text.py``): Gopher repetition flags (Arrow counter
  kernel + JVM thresholds), Gopher quality filters, C4 document rules —
  all per-row expressions riding one corpus scan;
- **learned classifier** (``qualityclf.py``): broadcast weight table +
  the shared dsir gram stream, one groupBy(doc) exchange;
- **LM perplexity** (``ppl.py``): bigram-count join + broadcast
  unigrams, one groupBy(doc) exchange, then the SCALE-SAFE threshold
  bucketing (``perplexity_threshold_buckets`` — approx_percentile cuts
  + broadcast join, no per-lang global sort; the r9 production path).

Scan accounting (honest, the dsir plan-read rule): the rule leg is one
corpus scan; the classifier and perplexity legs each scan the corpus
once more for their exploded streams (gram semantics and backoff
arithmetic are pinned bit-exact against their standalone operators, so
the streams are NOT unified here — fusing them would re-derive both
constructions and orphan the pins); model fits add the classifier's
bounded driver sample and the LM's count aggregations. The three per-doc
legs then join on the doc id and aggregate once. What the composition
buys is ONE cost number and ONE output frame instead of three jobs that
each pay scheduling, plus shared model fits across the legs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ppl import (
    bucket_by_thresholds,
    perplexity_threshold_buckets,
    score_perplexity,
)
from .qualityclf import QualityModel, score_quality
from .text import (
    SCRIPT_ORDER,
    c4_doc_flags,
    compression_signal,
    dominant_script,
    gopher_quality_flags,
    gopher_repetition_flags,
    gopher_repetition_metrics,
)


def pretrain_screen(
    df: DataFrame,
    clf_model: QualityModel,
    lm: tuple[DataFrame, DataFrame, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    carry: tuple[str, ...] = (),
    by: str = "lang",
    clf_threshold: float = 0.5,
    min_words: int = 20,
    min_stopword_hits: int = 1,
    min_kept_lines: int = 1,
    ppl_accuracy: int = 100_000,
    ppl_cuts: DataFrame | None = None,
    c4_blocklist: tuple[str, ...] | None = None,
    script_route: bool = False,
    route_scripts: tuple[str, ...] = ("latin",),
    compression_bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """One row per doc: every leg's verdict plus the conjunction.

    Columns: (id, [carry...], rep_ok, qual_ok, c4_ok, rules_ok,
    quality_score, clf_ok, ppl, ppl_bucket, ppl_ok, keep).

    ``ppl_ok`` keeps head+middle (CCNet drops the tail tercile);
    tokenless docs (NULL ppl) bucket to tail and are dropped — garbage
    by construction. ``keep = rules_ok AND clf_ok AND ppl_ok``. The
    ``by`` column must be present in ``carry`` (perplexity cuts are
    per-``by`` group).

    ``ppl_cuts``: pass a persisted (by, ppl_cut_1, ppl_cut_2) frame to
    run the FROZEN screen — every model input (classifier weights, LM
    tables, cut points) fit on the reference corpus, none refit on
    ``df``. This is the crawl-batch / streaming regime: per-batch cut
    refits would drift the verdict with batch composition. Default None
    recomputes the cuts from ``df`` itself (the corpus-survey regime).

    ``c4_blocklist``: user-supplied bad-words list for the C4 leg's
    page filter (text.blocklist_hit — whole-word, engine ships no list);
    None keeps the pre-r10 rule set.

    ``script_route``: the pre-lang-ID routing tier (VERDICT r10 item 6).
    Every stopword-based gate in this screen — Gopher quality's stopword
    minimum, the lang-ID convention behind the ``by`` groups — is only
    meaningful on scripts its lexicons cover; mixed- and non-target-
    script documents are the classic lang-ID failure and would be
    silently screened by heuristics that cannot read them. With
    ``script_route=True`` the rules leg (same scan, zero extra shuffle)
    also emits ``script`` (``text.dominant_script``) and ``script_ok``
    (``script`` is in ``route_scripts`` — the scripts THIS screen's
    lexicon tier is competent to judge, default latin), and ``keep``
    additionally requires ``script_ok``: out-of-scope docs route OUT of
    this screen, visibly (``script`` says where they should go), never
    keep/drop by accident of an unreadable heuristic. Default off —
    the output is column-for-column unchanged (pinned).

    ``compression_bounds``: optional (lo, hi) DEFLATE-ratio gate — the
    RedPajama-V2/Dolma signal the rule heuristics don't carry (very
    compressible = templated boilerplate; near-incompressible = minified
    code / base64 junk). When set, a fourth leg (one
    :func:`text.compression_signal` Arrow pass over the corpus) emits
    ``compress_ratio`` and ``comp_ok``, and ``keep`` additionally requires
    ``comp_ok``. The cut is evaluated on INTEGER cross-products
    (``deflate*10^6`` vs ``utf8*round(bound*10^6)``) so the kept set is
    engine- and layout-portable; bounds are rounded to 6 decimals (loudly
    — a finer bound raises). NULL-ratio docs (NULL/empty text) fail the
    gate VISIBLY (``comp_ok`` false, ratio NULL), never keep by accident.
    Default None — output column-for-column unchanged (pinned)."""
    if by not in carry:
        raise ValueError(
            f"pretrain_screen: by={by!r} must be carried through the legs "
            f"(carry={carry!r}) — perplexity cut points are per-{by} and "
            "the panel grain needs it"
        )
    if compression_bounds is not None:
        lo, hi = compression_bounds
        if not (0.0 <= lo < hi):
            raise ValueError(
                f"pretrain_screen: compression_bounds must satisfy 0 <= lo < hi, "
                f"got {compression_bounds!r}"
            )
        lo_i, hi_i = round(lo * 1_000_000), round(hi * 1_000_000)
        if (lo_i / 1_000_000, hi_i / 1_000_000) != (lo, hi):
            raise ValueError(
                f"pretrain_screen: compression_bounds {compression_bounds!r} need "
                "more than 6 decimals — the integer cut would silently move them"
            )
    if script_route:
        unknown = set(route_scripts) - set(SCRIPT_ORDER) - {"none"}
        if not route_scripts or unknown:
            raise ValueError(
                f"pretrain_screen: route_scripts={route_scripts!r} must be a "
                f"non-empty subset of {SCRIPT_ORDER + ('none',)} — a typo'd "
                "script name would silently route everything out"
            )
    rules = (
        # text rides the Arrow kernel (carry) so the quality/C4 gates are
        # JVM exprs over the SAME scan — the quality_gate_panel shape
        gopher_repetition_metrics(
            df, id_col=id_col, text_col=text_col, carry=(text_col,)
        )
        .withColumn("rep_ok", gopher_repetition_flags())
        .withColumn(
            "qual_ok",
            gopher_quality_flags(
                F.col(text_col),
                min_words=min_words,
                min_stopword_hits=min_stopword_hits,
            )["passes_gopher_quality"],
        )
        .withColumn(
            "c4_ok",
            c4_doc_flags(
                F.col(text_col),
                min_kept_lines=min_kept_lines,
                blocklist=c4_blocklist,
            )["passes_c4"],
        )
        .select(
            id_col,
            "rep_ok",
            "qual_ok",
            "c4_ok",
            (F.col("rep_ok") & F.col("qual_ok") & F.col("c4_ok")).alias("rules_ok"),
            # the routing tier rides the SAME rules-leg scan (text is
            # already in hand) — zero extra shuffles, zero extra scans
            *(
                [
                    F.coalesce(
                        dominant_script(F.col(text_col)), F.lit("none")
                    ).alias("script")
                ]
                if script_route
                else []
            ),
        )
    )
    clf = score_quality(df, clf_model, id_col=id_col, text_col=text_col).select(
        id_col,
        "quality_score",
        (F.col("quality_score") >= clf_threshold).alias("clf_ok"),
    )
    scored = score_perplexity(df, lm, id_col=id_col, text_col=text_col, carry=carry)
    if ppl_cuts is not None:
        bucketed = bucket_by_thresholds(scored, ppl_cuts, by=by, ppl_col="ppl")
    else:
        bucketed = perplexity_threshold_buckets(
            scored, by=by, ppl_col="ppl", accuracy=ppl_accuracy
        )
    buck = bucketed.select(
        id_col,
        *carry,
        "ppl",
        F.col("bucket_name").alias("ppl_bucket"),
        # membership, not != 'tail': frozen cuts can emit 'no_cuts' for a
        # language the reference corpus never saw — those docs are
        # dropped too, but VISIBLY (ppl_bucket says why), never kept by
        # accident of a negative comparison
        F.col("bucket_name").isin("head", "middle").alias("ppl_ok"),
    )
    keep = F.col("rules_ok") & F.col("clf_ok") & F.col("ppl_ok")
    route_cols: list = []
    if script_route:
        script_ok = F.col("script").isin(*route_scripts)
        route_cols = ["script", script_ok.alias("script_ok")]
        keep = keep & script_ok
    comp_cols: list = []
    comp = None
    if compression_bounds is not None:
        comp = compression_signal(df, id_col=id_col, text_col=text_col).select(
            id_col,
            "compress_ratio",
            (
                F.col("compress_ratio").isNotNull()
                & (F.col("deflate_bytes") * 1_000_000 >= F.col("utf8_bytes") * lo_i)
                & (F.col("deflate_bytes") * 1_000_000 <= F.col("utf8_bytes") * hi_i)
            ).alias("comp_ok"),
        )
        comp_cols = ["compress_ratio", "comp_ok"]
        keep = keep & F.col("comp_ok")
    joined = buck.join(rules, id_col).join(clf, id_col)
    if comp is not None:
        joined = joined.join(comp, id_col)
    return (
        joined
        .select(
            id_col,
            *carry,
            "rep_ok",
            "qual_ok",
            "c4_ok",
            "rules_ok",
            "quality_score",
            "clf_ok",
            "ppl",
            "ppl_bucket",
            "ppl_ok",
            *route_cols,
            *comp_cols,
            keep.alias("keep"),
        )
    )
