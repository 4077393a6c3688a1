#!/usr/bin/env python
"""Regenerate EXPLAIN.md: formatted physical plans for the headline queries
with scale commentary. Run from the repo root."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yelp_business_data_pipeline_spark.plans import QUERIES
from yelp_business_data_pipeline_spark.session import get_spark

COMMENTARY = {
    "pricing_summary": (
        "Filter and column pruning reach the parquet scan (PushedFilters on "
        "l_shipdate; ReadSchema carries only the 7 needed columns of 11). "
        "Partial HashAggregate before the single exchange on the two group "
        "keys — map-side combine shrinks the shuffle to (groups x partitions) "
        "rows regardless of input size."
    ),
    "topk_orders_per_segment": (
        "customer broadcasts (BroadcastHashJoin — the 100 TB fact never "
        "shuffles for the dim join); the only exchange is the window "
        "partition on mktsegment. AQE splits a skewed segment at runtime."
    ),
    "shipping_priority_top10": (
        "TakeOrderedAndProject after the aggregation: per-partition top-k "
        "heaps merged on the driver — no global sort. Selective filters on "
        "all three tables are pushed to the scans; customer broadcasts."
    ),
    "blocked_linkage_pairs": (
        "End-to-end record linkage with NO CartesianProduct anywhere: "
        "per-row deletion-variant arrays explode to a groupBy on the "
        "variant string (buckets bounded by (len+1)*|alphabet|+1, "
        "independent of corpus size), in-bucket pair expansion, then "
        "levenshtein verifies only candidates. The name-lookup joins are "
        "broadcast."
    ),
    "timeseries_gapfill_locf": (
        "Gapfill without a range join: per-group [min, max] spans come "
        "from the rollup itself (tiny agg), sequence()+explode generates "
        "the dense spine EXECUTOR-side (Generate node — never a driver "
        "collect, never a cartesian), the spine left-joins the rollup on "
        "the same composite key, and LOCF is ONE window over the group "
        "ordering. Spine size = groups x span buckets, independent of raw "
        "row count."
    ),
    "friends_of_friends_recommendations": (
        "Motif matching as equi-joins only: the LEAD-window friendship "
        "edges (degree <= 4 by construction) hop twice, the direct-friend "
        "exclusion is a left_anti on (a, c), a <> c rides the join "
        "condition. Edge lineage is one explode pipeline — the reversed "
        "closure is provably disjoint from the forward set, so UNION ALL "
        "with no distinct exchange; <= 6 parquet scans total (pinned; a "
        "materialized edge table would make it one)."
    ),
    "pq_ann_topk": (
        "Product quantization: codes stream once through the ADC "
        "mapInPandas kernel (queries + codebooks closure-captured — no "
        "join, no shuffle of anything corpus-sized), partial top-k per "
        "batch, one per-query window, then the exact rerank fetches ONLY "
        "the shortlist vectors via an id equi-join with the query side "
        "broadcast. At 100 TB the scan is over 16x-compressed codes."
    ),
    "grouping_sets_revenue": (
        "One Expand node feeds a single exchange: rollup(year, priority) "
        "AND cube(status, priority) subtotals computed in one scan/shuffle "
        "instead of two grouped queries."
    ),
    "star_join_revenue": (
        "lineitem-orders is the only shuffled join (both sides large at "
        "scale); customer broadcasts. Revenue sums are decimal-routed for "
        "order-insensitive exactness."
    ),
    "jaccard_pairs_panel": (
        "Three families, one result: the exact-Jaccard inverted-index self-joins run on bounded windows; in the minhash_lsh family all signature work (token md5s, arithmetic shingle hashes, k "
        "rehashes, band hashes) is per-row projection — zero shuffle until "
        "the bucket groupBy on uniform band hashes. Pair expansion happens "
        "inside buckets (bounded), not via a corpus self-join."
    ),
    "asof_purchase_prior_signup": (
        "Union of tagged streams + ONE window exchange on user_id; "
        "last(ignorenulls) carries the right payload forward. No per-group "
        "pandas, no range-join blowup."
    ),
    "local_supplier_volume": (
        "Six-table tree: every dimension broadcasts; the single "
        "exchange-backed join is lineitem-orders. The theta condition "
        "(supplier nation = customer nation) rides the hash join as a "
        "post-join filter on broadcast rows."
    ),
    "item_cooccurrence_pairs": (
        "Market-basket pairs WITHOUT a basket-key self-join: one groupBy "
        "collapses each order to a sorted distinct part array "
        "(collect_set dedups map-side), ordered pairs expand "
        "executor-locally via higher-order functions, then a uniform-key "
        "pair count. All three statistics branches (pairs, item "
        "frequencies, basket count) read ONE lazily-checkpointed collapse "
        "— zero parquet re-scans (pinned); the denominator is a "
        "broadcast 1-row aggregate (the sole BroadcastNestedLoopJoin, "
        "cardinality 1)."
    ),
    "dedup_panel": (
        "Dedup/change-tracking panel; its snapshot_diff branch is the CDC diff as ONE full-outer SortMergeJoin on the diff key — the "
        "minimal movement for any reconciliation; null-safe comparisons "
        "and the changed-cols audit are pure JVM expressions (no Python "
        "stage), and unchanged rows are filtered before the caller, so "
        "downstream cost scales with churn, not corpus. Pre-bucketed "
        "snapshots would elide both exchanges."
    ),
    "weighted_sample_orders": (
        "A-ES weighted sampling: the exponential race time is a per-row "
        "expression over the portable md5 draw (whole-stage codegen, no "
        "UDF), so the only exchange is the stratum window shuffle; the "
        "global variant compiles to TakeOrderedAndProject (per-partition "
        "heaps, no global sort)."
    ),
    "running_customer_spend": (
        "Two frames, one shuffle: the cumulative ROWS frame and the "
        "trailing-30-day RANGE frame (framed by VALUE — days since epoch "
        "— so same-day orders aggregate together) are both windows over "
        "the customer key; Catalyst stacks the Window operators on a "
        "single hash partitioning. Frame count changes operator count, "
        "never exchange count."
    ),
    "event_lifecycle_panel": (
        "Funnel branch: k funnel steps = k chained min-when window expressions over ONE "
        "partitionBy(user) window: Catalyst stacks k Window operators on "
        "a single user-key exchange (step count changes expression count, "
        "not shuffle count); the per-user collapse reuses that "
        "partitioning and the final unpivot explodes a 1-row aggregate."
    ),
    "triangle_count_friend_graph": (
        "Degree-ordered orientation: every edge oriented from its lower-"
        "(degree, id) endpoint bounds wedge fan-out at O(sqrt(m)) per "
        "vertex even on power-law graphs; the plan is a pure equi-join "
        "DAG (wedge self-join on the shared low endpoint + closing-edge "
        "join), no cartesian anywhere — and since round 5 it is "
        "oracle-gated (DuckDB enumerates ordered a<b<c triples as the "
        "independent construction)."
    ),
    "bfs_distances_binary_tree": (
        "Frontier BFS over a per-nation binary tree built by EXPLODING "
        "each parent's two target ranks and equi-joining on "
        "(nation, rank) — no non-equi join, no per-nation cartesian. "
        "Each level: one frontier join (the frontier BROADCASTS under "
        "AQE, so the edge side never shuffles — the one regime; the "
        "Pregel layout measured slower at sf0.1 and sf1) + one dedup "
        "anti-join against only the "
        "last TWO frontiers (undirected invariant), with the lineage "
        "cut and the emptiness test fused into one lazy-checkpoint job "
        "per level."
    ),
    "k_core_cooccurrence_graph": (
        "Iterative peel over the real item co-occurrence graph: the "
        "basket collapse (one groupBy + executor-local HOF pair "
        "expansion, no basket self-join) feeds rounds of one degree "
        "groupBy + two semi-joins on a shrinking edge set, each round "
        "one fused lazy-checkpoint+count job. Once the survivors fit "
        "the shared 100k-edge bound, one bounded Arrow collect hands "
        "them to an exact driver-side peel (local finish) — at sf0.1 "
        "the 3.6k-edge graph takes that path before any round, at "
        "100 TB the early rounds stay distributed."
    ),
    "gopher_repetition_panel": (
        "Zero-shuffle Arrow kernel: every Gopher repetition counter "
        "(top-n-gram, dup-n-gram, dup-line character mass) is a "
        "per-document computation, so the corpus streams once through "
        "mapInPandas and only the per-source rollup exchanges. Integer "
        "counters by design — the fraction thresholds are JVM "
        "expressions, and the DuckDB twin compares exactly (no float "
        "drift). The kernel itself is batch-vectorized (r7): packed "
        "incremental gram ids, one single-key sort per gram length."
    ),
    "quality_gate_panel": (
        "The composed C4+Gopher filter stack in ONE corpus scan: the "
        "repetition counters ride the same single mapInPandas pass, and "
        "the quality + C4 gates are pure codegen'd JVM expressions "
        "layered on it — adding seven more filters added ZERO extra "
        "scans or shuffles (one aggregate exchange for the per-source "
        "rollup). The shape argument for composing filters in one pass "
        "at 100 TB instead of one pipeline stage per filter."
    ),
    "semantic_dedup_embeddings": (
        "SemDeDup: zero-shuffle Arrow centroid assignment (the SAME "
        "sample-trained IVF quantizer the ANN index uses), ONE "
        "groupBy(cluster) shuffle into the greedy within-cluster prefix "
        "scan (applyInPandas; chunked matmuls against the growing kept "
        "set), then the stats rollup. The quadratic term is bounded per "
        "cluster at n/n_clusters — the paper's LAION-440M recipe."
    ),
    "duplicate_spans_panel": (
        "The distributed ExactSubstr (Lee et al. 2022): positional "
        "5-gram posexplode, then (r13) gram occurrence counts as ONE "
        "window over the single gh exchange — the former "
        "groupBy+join-back shuffled the corpus-sized gram stream on gh "
        "twice and sorted both join sides (measured 2.9x on the 500k-doc "
        "probe; 8-vs-32-core ratio 1.04 -> 1.7) — and the interval union "
        "windows over only the MATCHED grams, bounded by the duplicated "
        "mass, not the corpus. Replaces the paper's single-machine "
        "suffix array with shapes that distribute."
    ),
    "dsir_selection_panel": (
        "DSIR (Xie et al. 2023), single-pass flagged plan: the target "
        "flag rides the gram stream into the per-doc feature frame, "
        "BOTH distributions fold out of that same frame (one corpus "
        "scan guaranteed structurally — not via AQE exchange reuse), "
        "totals come from an unbounded window over the <= B-row "
        "combined frame, the log-ratio table broadcasts into the "
        "scoring join, and the Gumbel top-k is a TakeOrdered. Every "
        "random draw is an md5 unit hash — the selection is a pure "
        "function of the data, stable under repartitioning."
    ),
    "semantic_decontam_report": (
        "The decontamination scale shape in embedding space: the "
        "benchmark side BROADCASTS, the training corpus streams through "
        "the broadcast loop join once with zero shuffle, and the only "
        "exchange aggregates the bounded hit set. Cosines are rounded "
        "before the threshold so the filter itself is cross-engine "
        "stable."
    ),
    "link_prediction_friend_graph": (
        "Center-as-basket collapse: each vertex's neighbor set collapses "
        "in one groupBy, candidate pairs expand executor-locally via the "
        "shared bucket_pairs kernel carrying 1/ln(degree) weights, then "
        "one uniform-key groupBy aggregates CN/Adamic-Adar/Jaccard "
        "together. No neighbor-list self-join."
    ),
    "ewma_customer_spend": (
        "Genuinely sequential state: ONE repartition on the key + a "
        "partition-local sort, then a single mapInPandas STREAM with "
        "O(1) carry state across batch and group boundaries — NOT "
        "applyInPandas (grouped-map builds one pandas frame per key; "
        "with 10k customer keys that per-group overhead measured 28s vs "
        "0.8s for the stream at sf0.1)."
    ),
    "heavy_hitters_doc_tokens": (
        "Mergeable Misra-Gries rollup: ONE streaming mapInPandas pass "
        "builds per-(partition, group) summaries (each Arrow batch "
        "pre-aggregated by a C-speed pandas groupby before the counter "
        "loop — distinct pairs, not rows), then the grouped merge and "
        "the global remerge handle only summary rows. The single real "
        "exchange carries <= m counters per partition — the property "
        "that makes hot-key detection affordable on the skewed side."
    ),
    "kmv_distinct_rollup_orders": (
        "KMV set-operation sketches: a bounded-heap streaming pass per "
        "partition (batches pre-deduplicated C-side), then a pure-HOF "
        "merge over k-length arrays — EXACT by the KMV closure property "
        "(k smallest of a union of k-min arrays == the sketch of the "
        "union), so per-grain sketches roll up loss-free. The global "
        "row merges five 256-long arrays; no raw re-scan."
    ),
    "quality_classifier_panel": (
        "Learned quality filtering (the GPT-3/CCNet classifier): the "
        "trained weight table (<= buckets rows, driver-fit on a "
        "FIXED-SIZE sample — not visible here) arrives as a broadcast "
        "build side; the hashed gram stream probes it map-side and ONE "
        "groupBy(doc) exchange folds dot product and gram count, so "
        "scoring is a single shuffle keyed on the doc id, JVM end to "
        "end. The Pareto keep draw is an md5 unit hash — a pure "
        "function of the doc id."
    ),
    "perplexity_bucket_panel": (
        "Bigram-LM perplexity screen (CCNet shape, Stupid Backoff): the "
        "LM is a DataFrame pair, so the plan shows the count-table "
        "aggregations feeding the scoring join — unigram tables "
        "broadcast (both roles), the bigram join is the one shuffled "
        "probe, and the tercile split is an ntile window per language "
        "over the ROUNDED ppl (rank-stable across engines). No Python "
        "stage anywhere. This ntile path is the exact ORACLE TWIN; the "
        "production bucket path is the threshold variant below "
        "(perplexity_threshold_buckets) whose plan has no Window at all."
    ),
    "incremental_dedup_panel": (
        "Cross-snapshot dedup (driver-gated since the r9 rotation): the "
        "batch side builds fingerprints/band rows fresh each run while "
        "the store side is two compact hash indexes — the plan shows "
        "the keeper window + min/max aggregate and the band equi-join "
        "all keyed on the store hash columns. With the indexes "
        "persisted bucketed (sources.catalog.save_bucketed) those "
        "store-side exchanges VANISH (pinned in tests/test_incdedup.py: "
        "1-vs-2 and 2-vs-3 Exchange counts), so the recurring per-crawl "
        "cost is batch-sized work into a fixed layout."
    ),
    "embedding_similarity_panel": (
        "The r9 merge of the two embedding gate slots, both branch "
        "plans verbatim inside the union: brute-force cosine top-k "
        "(broadcast query set x partitioned corpus, higher-order dot "
        "product — JVM, no UDF — per-query rank window over the "
        "bounded top set) and exact near-dup pairs on a bounded window "
        "(the guarded all-pairs regime; LSH blocking is the scale "
        "path, recall-pinned in pytest)."
    ),
    "pretrain_screen_panel": (
        "The composed pretraining screen over the raw documents scan "
        "(no persisted projection). Rule gates ride the Arrow "
        "repetition kernel (MapInPandas over its own `Scan parquet`) "
        "with text carried so quality/C4 are JVM exprs on the same "
        "pass; classifier scoring is a broadcast weight table + ONE "
        "groupBy(doc) exchange over a second scan; the perplexity leg "
        "appears as its lazily checkpointed per-doc scores (`Scan "
        "ExistingRDD`) bucketed via the THRESHOLD path "
        "(approx_percentile cuts broadcast back — no per-lang sort "
        "anywhere). The three per-doc legs join on doc_id and one "
        "groupBy(lang) builds the panel."
    ),
    "bm25_topk_panel": (
        "BM25 with an in-plan posting filter: the token array filters "
        "to the query's terms BEFORE the explode (the generator/filter "
        "pair under the scan), so the shuffled stream is posting rows "
        "for k terms, never corpus positions; idf/N/avgdl broadcast, "
        "and the global cut is TakeOrderedAndProject — the scored frame "
        "never single-partitions."
    ),
    "psl_domain_panel": (
        "Public-suffix-list registrable domains (r10): rule matching is "
        "a fixed ladder of BROADCAST joins — each probes the host's "
        "last-j labels against the tiny aggregated rule table map-side. "
        "The corpus never shuffles and never explodes (no Generate "
        "node over host rows); the only hashpartitioning Exchange keys "
        "on the ~10k-row rule fold (_sfx), and the final count is a "
        "partial-agg'd groupBy on the derived domain. JVM end to end."
    ),
    "warc_roundtrip_panel": (
        "WARC ingest roundtrip (r10, sources/warc.py): ONE zero-shuffle "
        "mapInPandas pass serializes each Arrow batch's documents as "
        "WARC response records (even doc_ids through per-record gzip "
        "members, the Common Crawl layout) and parses them back with "
        "the real parser — blobs never leave the executor, the only "
        "exchange is the final per-source aggregate. At 100 TB the "
        "read path is one task per ~1 GB .warc.gz segment (the format "
        "is designed for exactly this parallelism unit)."
    ),
    "bloom_membership_panel": (
        "Distributed Bloom filter, JVM end to end: the build explodes "
        "the Kirsch-Mitzenmacher positions in-plan and partial-aggregates "
        "bit_or BEFORE the single word_idx exchange (the shuffle carries "
        "at most ceil(n_bits/63) rows per map task); the probe side joins "
        "the word table BROADCAST (a 2^20-bit filter is ~16k rows) and "
        "folds bool_and per key. No UDF, no Python anywhere."
    ),
    "c4_span_dedup_panel": (
        "C4 span dedup: the posexplode stream carries (id, start, md5) — "
        "never span text — into a partial-agg'd groupBy(hash) filtered to "
        "2+ occurrences, so the join-back touches only the duplicated "
        "fraction; the winner is a min(struct) AGGREGATE, not a corpus "
        "window, and the rebuild is an indexed array filter expression."
    ),
    "temperature_mix_panel": (
        "Temperature mixing: one partial-agg'd corpus groupBy to weigh "
        "domains, arithmetic on the tiny domains frame, and a BROADCAST "
        "rates join back — the corpus never shuffles; the sampling "
        "predicate is the portable md5 unit draw under the rounded rate."
    ),
    "training_shards_manifest": (
        "Shard manifest: ONE partial-agg'd groupBy on the md5 assignment "
        "expression; empty shards come from a range() frame joined in — "
        "no corpus-side work grows with n_shards."
    ),
    "yelp_unified_panel": (
        "The reference pipeline end-to-end on literal Yelp-shaped rows: "
        "from_json raw parse, try_cast attribute flags, hours overnight "
        "wrap, trim->split->explode category grain, lexicon sentiment, "
        "elite/friends parsing, prefix-rename star join — all pure JVM "
        "expressions (no Python stage), aggregated with decimal sums "
        "that are exact by fixture design. The DuckDB twin re-derives "
        "everything from the same VALUES rows."
    ),
    "preference_pairs_panel": (
        "Preference-pair construction in ONE aggregate: two struct extrema "
        "+ count over (lang, source). Struct buffers are not hash-aggregable "
        "so the plan shows SortAggregate — note the sort key is the GROUPING "
        "key only and partial_max/partial_min sit BELOW the single exchange: "
        "map-side combine still shrinks the shuffle to one row per "
        "(partition, group). No join, no window anywhere."
    ),
    "mirror_detection_panel": (
        "Cross-host mirror profile: one hash aggregate on the bag-of-words "
        "fingerprint. n_sources is size(collect_set(source)) — NOT "
        "countDistinct — so the plan keeps ObjectHashAggregate instead of "
        "collapsing to an Expand + SortAggregate (the pinned trap when "
        "countDistinct shares a groupBy with a TypedImperative buffer)."
    ),
    "near_dup_clusters_panel": (
        "The composed fuzzy-dedup tail: LSH band groupBy -> in-bucket pair "
        "expansion (Generate, never a self-join) -> two id-keyed "
        "BroadcastHashJoins bounded by candidate count -> CC rounds -> two "
        "tiny aggregates. No CartesianProduct / BroadcastNestedLoopJoin "
        "(pinned)."
    ),
    "compression_quality_panel": (
        "DEFLATE signal: one ArrowEvalPython/MapInPandas pass over the "
        "pruned (doc_id, lang, text) projection — no Exchange until the "
        "tiny per-lang aggregate. The kernel emits exact integers; the "
        "ratio division happens JVM-side on the aggregated sums."
    ),
    "leakage_split_audit": (
        "Split-leakage audit: the split assignment is a row-local md5 "
        "expression (no exchange), the audit is one fingerprint groupBy "
        "per regime plus a broadcast of the 1-row leak count — the "
        "exact-dedup shuffle shape, twice."
    ),
}

# Iterative operators truncate their returned lineage via localCheckpoint
# (the lineage cut IS the scale property), so the registered bench queries
# show a bare RDD scan. These builders re-run a bounded number of rounds
# with checkpoint=False to expose the genuine per-round plan shape.


def _pagerank_round_plan(spark, sf):
    from pyspark.sql import functions as F

    from yelp_business_data_pipeline_spark.operators.pagerank import pagerank
    from yelp_business_data_pipeline_spark.plans.extensions import _friend_edges

    fwd = _friend_edges(spark, sf)
    sym = fwd.unionAll(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return pagerank(sym, max_iter=1, checkpoint=False)


def _cc_star_round_plan(spark, sf):
    from yelp_business_data_pipeline_spark.operators.components import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    return connected_components(pairs, max_iter=4, algorithm="star", checkpoint=False)


def _perplexity_threshold_plan(spark, sf):
    from pyspark.sql import functions as F

    from yelp_business_data_pipeline_spark.operators.ppl import (
        fit_bigram_lm,
        perplexity_threshold_buckets,
        score_perplexity,
    )
    from yelp_business_data_pipeline_spark.plans.registry import tbl

    d = tbl(spark, sf, "documents")
    scored = score_perplexity(d, fit_bigram_lm(d), carry=("lang",)).filter(
        F.col("ppl").isNotNull()
    )
    return perplexity_threshold_buckets(scored, by="lang")


SPECIAL = {
    "perplexity_threshold_buckets (the production CCNet bucket path)": (
        _perplexity_threshold_plan,
        "The scale-safe alternative to the ntile tercile: per-lang 1/3 "
        "and 2/3 ppl cuts via approx_percentile (ObjectHashAggregate, "
        "partial-aggregated map-side, bounded sketch memory) broadcast "
        "back for a three-way comparison — NO Window operator in this "
        "plan, so no language ever funnels through one task's sort. At "
        "web scale 'en' IS most of the corpus; the ntile twin stays the "
        "exact oracle path while this is what production runs "
        "(agreement modulo boundary ties pinned in tests/test_ppl.py).",
    ),
    "pagerank (one round, checkpoint=False)": (
        _pagerank_round_plan,
        "The per-round shape the bench query repeats 8x: ONE equi-join "
        "(edges x ranks on the source vertex) + ONE HashAggregate exchange "
        "on the destination vertex — both keyed on vertex id. Above the "
        "measured 200k-edge crossover the edge side is hash-placed ONCE "
        "and checkpointed with its layout retained (BASELINE.md round-6 "
        "table), making the per-round join exchange-free on the edge "
        "side; below it AQE's stage coalescing wins and edges re-shuffle "
        "cheaply. The dangling-mass term is a 1-row aggregate "
        "crossed on as a broadcast scalar (the only "
        "BroadcastNestedLoopJoin, cardinality 1), never a rank-vector "
        "collect. In production each round ends in localCheckpoint, so "
        "the plan below never compounds.",
    ),
    "connected_components star round (checkpoint=False)": (
        _cc_star_round_plan,
        "One large-star/small-star round-pair (converged single component "
        "shown) over the per-partition contraction's output (one "
        "MapInPandas union-find pass, no exchange): groupBy(min) + "
        "same-key equi-join per half-round, a single distinct per pair, "
        "no cartesian anywhere. Round count is "
        "O(log^2 n) regardless of graph diameter — the property that "
        "lets the friendship chains (diameter ~600 at sf0.1) converge in "
        "~5 pairs where hash-min label propagation would need ~300 "
        "shuffle rounds.",
    ),
}


def main() -> None:
    spark = get_spark(app_name="gen_explain", shuffle_partitions=8)
    sf = "/root/testdata/sf0.001"
    out = [
        "# EXPLAIN — physical plans of the headline queries\n",
        "Generated by `tools/gen_explain.py` (sf0.001, AQE on, pre-execution",
        "plans). What to look for in each plan is annotated; "
        "`tests/test_plans.py` asserts these properties so they can't "
        "silently regress.\n",
    ]
    for name, note in COMMENTARY.items():
        df = QUERIES[name].spark(spark, sf)
        plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        out.append(f"\n## {name}\n\n{note}\n\n```\n{plan.strip()}\n```\n")
    for name, (builder, note) in SPECIAL.items():
        df = builder(spark, sf)
        plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        out.append(f"\n## {name}\n\n{note}\n\n```\n{plan.strip()}\n```\n")
    with open("EXPLAIN.md", "w") as f:
        f.write("\n".join(out))
    print("wrote EXPLAIN.md")


if __name__ == "__main__":
    main()
