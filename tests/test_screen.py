"""Composed pretraining screen (operators/screen.py): panel vs a
from-scratch recombination of the standalone legs, per-doc conjunction
semantics, layout invariance, and the carry/by contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yelp_business_data_pipeline_spark.operators.ppl import (
    fit_bigram_lm,
    perplexity_threshold_buckets,
    score_perplexity,
)
from yelp_business_data_pipeline_spark.operators.qualityclf import (
    score_quality,
    train_quality_classifier,
)
from yelp_business_data_pipeline_spark.operators.screen import pretrain_screen


def _model_and_lm(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = train_quality_classifier(
        d, F.col("lang") == "en", buckets=4096, n_train=512
    )
    return d, model, fit_bigram_lm(d)


def test_panel_equals_leg_recombination(spark, sf_dir):
    """The composition pin (the quality_gate_panel precedent): the
    registered panel's per-lang counts must equal a recombination built
    here from the STANDALONE legs — any drift in the screen's wiring
    (join grain, threshold direction, bucket-to-keep mapping) breaks
    this, independent of each leg's own pins."""
    from yelp_business_data_pipeline_spark.operators.text import (
        c4_doc_flags,
        gopher_quality_flags,
        gopher_repetition_flags,
        gopher_repetition_metrics,
    )
    from yelp_business_data_pipeline_spark.plans import QUERIES

    d, model, lm = _model_and_lm(spark, sf_dir)
    rules = (
        gopher_repetition_metrics(d, carry=("text",))
        .withColumn("rep_ok", gopher_repetition_flags())
        .withColumn(
            "qual_ok",
            gopher_quality_flags(F.col("text"), min_words=20, min_stopword_hits=1)[
                "passes_gopher_quality"
            ],
        )
        .withColumn("c4_ok", c4_doc_flags(F.col("text"), min_kept_lines=1)["passes_c4"])
        .select(
            "doc_id",
            (F.col("rep_ok") & F.col("qual_ok") & F.col("c4_ok")).alias("rules_ok"),
        )
    )
    clf = score_quality(d, model).select(
        "doc_id", (F.col("quality_score") >= 0.5).alias("clf_ok")
    )
    buck = perplexity_threshold_buckets(
        score_perplexity(d, lm, carry=("lang",)), by="lang"
    ).select("doc_id", "lang", (F.col("bucket_name") != "tail").alias("ppl_ok"))
    recomb = (
        buck.join(rules, "doc_id")
        .join(clf, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("rules_ok").cast("long")).alias("n_pass_rules"),
            F.sum(F.col("clf_ok").cast("long")).alias("n_pass_clf"),
            F.sum(F.col("ppl_ok").cast("long")).alias("n_pass_ppl"),
            F.sum(
                (F.col("rules_ok") & F.col("clf_ok") & F.col("ppl_ok")).cast("long")
            ).alias("n_keep"),
        )
    )
    got = sorted(
        tuple(r)
        for r in QUERIES["pretrain_screen_panel"].spark(spark, sf_dir).collect()
    )
    want = sorted(tuple(r) for r in recomb.collect())
    assert got == want and len(got) >= 2
    # non-vacuous: at least one leg passes docs on this corpus
    assert any(r[3] > 0 for r in got)  # n_pass_clf or later columns


def test_keep_is_the_per_doc_conjunction_and_grain_holds(spark, sf_dir):
    d, model, lm = _model_and_lm(spark, sf_dir)
    v = pretrain_screen(d, model, lm, carry=("lang",), min_words=20,
                        min_stopword_hits=1, min_kept_lines=1)
    rows = v.collect()
    assert len(rows) == d.count()  # one verdict per doc, no multiplication
    for r in rows:
        assert r.keep == (r.rules_ok and r.clf_ok and r.ppl_ok), r
        assert r.ppl_ok == (r.ppl_bucket != "tail"), r
        assert r.rules_ok == (r.rep_ok and r.qual_ok and r.c4_ok), r


def test_layout_invariance(spark, sf_dir):
    d, model, lm = _model_and_lm(spark, sf_dir)
    v1 = pretrain_screen(d, model, lm, carry=("lang",), min_words=20,
                         min_stopword_hits=1, min_kept_lines=1)
    d7 = d.repartition(7)
    v2 = pretrain_screen(d7, model, lm, carry=("lang",), min_words=20,
                         min_stopword_hits=1, min_kept_lines=1)
    k1 = sorted((r.doc_id, r.keep, r.ppl_bucket) for r in v1.collect())
    k2 = sorted((r.doc_id, r.keep, r.ppl_bucket) for r in v2.collect())
    assert k1 == k2


def test_by_must_be_carried(spark, sf_dir):
    d, model, lm = _model_and_lm(spark, sf_dir)
    with pytest.raises(ValueError, match="must be carried"):
        pretrain_screen(d, model, lm, carry=())


def test_script_route_off_is_unchanged_on_adds_visible_routing(spark, sf_dir):
    """VERDICT r10 item 6: script_route=False (the default) must leave
    the output column-for-column byte-identical; script_route=True adds
    exactly (script, script_ok) — script equal to the standalone
    dominant_script operator, keep = unrouted keep AND script_ok — and
    routing with EVERY script allowed degenerates back to the unrouted
    keep (the saturation identity)."""
    from yelp_business_data_pipeline_spark.operators.text import (
        SCRIPT_ORDER,
        dominant_script,
    )

    d, model, lm = _model_and_lm(spark, sf_dir)
    kw = dict(carry=("lang",), min_words=20, min_stopword_hits=1, min_kept_lines=1)
    plain = pretrain_screen(d, model, lm, **kw)
    off = pretrain_screen(d, model, lm, script_route=False, **kw)
    assert off.columns == plain.columns  # no routing columns by default
    want = sorted(map(tuple, plain.collect()))
    assert sorted(map(tuple, off.collect())) == want

    routed = pretrain_screen(d, model, lm, script_route=True, **kw)
    assert routed.columns == [*plain.columns[:-1], "script", "script_ok", "keep"]
    rrows = {r.doc_id: r for r in routed.collect()}
    scripts = {
        r.doc_id: r.s
        for r in d.select(
            "doc_id",
            F.coalesce(dominant_script(F.col("text")), F.lit("none")).alias("s"),
        ).collect()
    }
    for row in (dict(zip(plain.columns, t)) for t in want):
        r = rrows[row["doc_id"]]
        assert r.script == scripts[row["doc_id"]]
        assert r.script_ok == (r.script == "latin")
        assert r.keep == (row["keep"] and r.script_ok)
        # every pre-existing column is untouched by routing
        for c in plain.columns[:-1]:
            assert getattr(r, c) == row[c], c
    # saturation identity: allowing every script (+ the none bucket)
    # routes nothing out
    sat = pretrain_screen(
        d, model, lm, script_route=True,
        route_scripts=(*SCRIPT_ORDER, "none"), **kw,
    )
    sat_keep = {r.doc_id: r.keep for r in sat.collect()}
    for row in (dict(zip(plain.columns, t)) for t in want):
        assert sat_keep[row["doc_id"]] == row["keep"]
    # loud guards: empty or typo'd route set
    with pytest.raises(ValueError, match="route_scripts"):
        pretrain_screen(d, model, lm, script_route=True, route_scripts=(), **kw)
    with pytest.raises(ValueError, match="route_scripts"):
        pretrain_screen(
            d, model, lm, script_route=True, route_scripts=("latn",), **kw
        )


def test_c4_blocklist_knob_flows_through_the_rules_leg(spark, sf_dir):
    """pretrain_screen(c4_blocklist=...) must conjoin the C4 bad-words
    page filter into c4_ok/rules_ok/keep for exactly the docs carrying a
    blocklisted word; every other doc's verdict row is bit-identical to
    the default path (the knob must not perturb the clean population)."""
    _, model, lm = _model_and_lm(spark, sf_dir)
    sentence = "the quick brown fox jumps over the lazy dog again today."
    docs = spark.createDataFrame(
        [
            (1, f"{sentence}\n{sentence}", "en"),
            (2, f"{sentence}\nthe gerbil word appears in this line too.", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    kw = dict(
        carry=("lang",), min_words=2, min_stopword_hits=1, min_kept_lines=1
    )
    base = {r.doc_id: tuple(r) for r in pretrain_screen(docs, model, lm, **kw).collect()}
    gated = {
        r.doc_id: r
        for r in pretrain_screen(
            docs, model, lm, c4_blocklist=("gerbil",), **kw
        ).collect()
    }
    b1, b2 = base[1], base[2]
    assert tuple(gated[1]) == b1  # clean doc: bit-identical row
    assert gated[2].c4_ok is False and gated[2].rules_ok is False
    assert gated[2].keep is False
    # and the default path considered doc 2's C4 leg fine
    base_rows = {r.doc_id: r for r in pretrain_screen(docs, model, lm, **kw).collect()}
    assert base_rows[2].c4_ok is True


def test_compression_bounds_off_unchanged_on_adds_visible_gate(spark, sf_dir):
    """compression_bounds=None output is column-for-column unchanged;
    with bounds, exactly (compress_ratio, comp_ok) appear, pre-existing
    columns keep their values, keep == old_keep AND comp_ok, and the
    integer cut equals the python zlib recompute. Wide bounds degenerate
    to the ungated keep on this corpus (every doc non-empty). Guards:
    inverted bounds and >6-decimal bounds raise."""
    import zlib

    d, model, lm = _model_and_lm(spark, sf_dir)
    base = pretrain_screen(d, model, lm, carry=("lang",)).cache()
    gated = pretrain_screen(
        d, model, lm, carry=("lang",), compression_bounds=(0.45, 0.85)
    ).cache()

    assert gated.columns == base.columns[:-1] + ["compress_ratio", "comp_ok", "keep"]
    b = {r.doc_id: r for r in base.collect()}
    g = {r.doc_id: r for r in gated.collect()}
    assert set(b) == set(g)
    texts = {r.doc_id: r.text for r in d.select("doc_id", "text").collect()}
    for i, rb in b.items():
        rg = g[i]
        for c in base.columns[:-1]:
            assert rg[c] == rb[c], (i, c)
        raw = texts[i].encode("utf-8")
        comp = len(zlib.compress(raw, 6))
        want_ok = bool(raw) and (
            comp * 1_000_000 >= len(raw) * 450_000
            and comp * 1_000_000 <= len(raw) * 850_000
        )
        assert rg.comp_ok == want_ok and rg.keep == (rb.keep and want_ok), i
        assert rg.compress_ratio == (comp / len(raw) if raw else None)
    # the gate is LIVE on this corpus (both tails populated at sf0.01's
    # measured distribution; at sf0.001 at least one side trims)
    assert sum(1 for r in g.values() if not r.comp_ok) > 0
    # wide bounds degenerate to the ungated verdict (no empty docs here)
    wide = pretrain_screen(
        d, model, lm, carry=("lang",), compression_bounds=(0.0001, 10.0)
    )
    assert [r.keep for r in wide.sort("doc_id").collect()] == [
        r.keep for r in base.sort("doc_id").collect()
    ]
    base.unpersist(), gated.unpersist()

    with pytest.raises(ValueError, match="lo < hi"):
        pretrain_screen(d, model, lm, carry=("lang",), compression_bounds=(0.9, 0.4))
    with pytest.raises(ValueError, match="6 decimals"):
        pretrain_screen(
            d, model, lm, carry=("lang",), compression_bounds=(0.1234567, 0.9)
        )
