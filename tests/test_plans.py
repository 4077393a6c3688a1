"""Physical-plan audits: the scale properties SURVEY.md §4 promises.

These assertions pin the *plan shape*, not just results — a regression that
silently drops a broadcast or stops pushing a filter into the parquet scan
fails here long before it shows up as a 100 TB incident.
"""

from __future__ import annotations

import pytest

from yelp_business_data_pipeline_spark.plans import QUERIES


def plan_str(df, mode: str = "formatted") -> str:
    jdf = df._jdf
    return df.sparkSession._jvm.PythonSQLUtils.explainString(jdf.queryExecution(), mode)


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    return {
        name: plan_str(QUERIES[name].spark(spark, sf_dir))
        for name in (
            "pricing_summary",
            "star_join_revenue",
            "topk_orders_per_segment",
            "graph_two_hop_region_customers",
            "sentiment_by_source",
            "jaccard_pairs_panel",
            "embedding_similarity_panel",
            "shipping_priority_top10",
            "blocked_linkage_pairs",
        )
    }


def test_filter_pushed_to_scan(plans):
    # The shipdate predicate must reach the parquet reader.
    p = plans["pricing_summary"]
    assert "PushedFilters: [" in p and "l_shipdate" in p.split("PushedFilters")[1][:200], p


def test_column_pruning(plans):
    # Scan must read only the needed lineitem columns, not all 11.
    p = plans["pricing_summary"]
    read_schema = p.split("ReadSchema")[1][:400]
    assert "l_orderkey" not in read_schema and "l_suppkey" not in read_schema, read_schema


def test_broadcast_joins(plans):
    for name in ("star_join_revenue", "topk_orders_per_segment", "graph_two_hop_region_customers"):
        assert "BroadcastHashJoin" in plans[name], f"{name} lost its broadcast join"


def test_global_topk_avoids_full_sort(plans, spark, sf_dir):
    # shipping_priority_top10's orderBy+limit must compile to
    # TakeOrderedAndProject (per-partition heaps, no global sort), and the
    # deregistered W1 primitive keeps the same plan shape.
    assert "TakeOrderedAndProject" in plans["shipping_priority_top10"]
    from yelp_business_data_pipeline_spark.plans.core import topk_global_orders

    assert "TakeOrderedAndProject" in plan_str(topk_global_orders(spark, sf_dir))


def test_distinct_agg_never_mixes_with_percentile_buffers(spark, sf_dir):
    # Regression pin for the 30x pathology: countDistinct (Expand-planned)
    # combined with percentile buffers in ONE aggregation drops Spark to
    # SortAggregate with per-row buffer serialization. Both queries were
    # split into two aggs + broadcast join; a SortAggregate reappearing
    # here means someone recombined them.
    for name in ("approx_aggregates", "priority_stats_panel"):
        p = plan_str(QUERIES[name].spark(spark, sf_dir))
        assert "SortAggregate" not in p, f"{name} regressed to sort-based aggregation"


def test_winnowing_is_shuffle_free_until_fingerprint_groupby(spark, sf_dir):
    # The Arrow kernel does per-doc work inside the partition: no Window
    # (the relational form's doc-id sort) may appear; the only exchange is
    # the cross-doc fingerprint groupBy.
    # winnowing_shared_fingerprints is the `winnowing_shared` branch of
    # text_fingerprints_panel; pin the panel's plan (the branch survives
    # verbatim inside the union).
    p = plan_str(QUERIES["text_fingerprints_panel"].spark(spark, sf_dir))
    assert "Window" not in p, "winnowing regressed to the window-shuffle form"
    assert "SortAggregate" not in p


def test_blocked_linkage_has_no_cartesian(plans):
    # The end-to-end linkage query must be block -> verify, never all-pairs.
    p = plans["blocked_linkage_pairs"]
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_no_python_udf_on_bench_path(plans):
    # Sentiment + sketches are pure JVM expressions (SURVEY §4: 'Arrow UDFs
    # only'; here: no UDF at all). BatchEvalPython/ArrowEvalPython in a plan
    # means a Python round-trip crept in.
    for name, p in plans.items():
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
            f"{name} contains a Python UDF stage"
        )


def test_partial_aggregation_present(plans):
    # HashAggregate appears twice (partial + final) around the exchange.
    p = plans["pricing_summary"]
    assert p.count("HashAggregate") >= 2, p


def test_whole_stage_codegen(spark, sf_dir):
    # Codegen subtrees only materialize once AQE finalizes the plan, so
    # execute first; simple-mode then marks codegen'd operators with '*(n)'.
    df = QUERIES["pricing_summary"].spark(spark, sf_dir)
    df.collect()  # count() would build a different plan; collect finalizes THIS one
    p = plan_str(df, "simple")
    assert "isFinalPlan=true" in p and "*(" in p, p


def test_composition_query_plan_shapes(spark, sf_dir):
    """Round-3 composition queries keep their scale shapes: packing and
    budgeting exchange only on the stream/stratum key (window shuffles),
    sampling adds no exchange of its own, and decontamination broadcasts
    the benchmark side instead of shuffling the corpus."""
    pack = plan_str(QUERIES["sequence_packing_offsets"].spark(spark, sf_dir))
    # one window shuffle (its sort partitions by source) and nothing else
    assert pack.count("hashpartitioning(") == 1, pack
    assert "BatchEvalPython" not in pack and "ArrowEvalPython" not in pack

    mix = plan_str(QUERIES["corpus_mix_budget"].spark(spark, sf_dir))
    # stratum window + final groupBy reuse the same source partitioning:
    # the hash-sample filter itself must not exchange
    assert mix.count("hashpartitioning(") <= 2, mix
    assert "BatchEvalPython" not in mix and "ArrowEvalPython" not in mix

    dec = plan_str(QUERIES["decontam_ngram_overlap"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in dec, dec
    assert "SortMergeJoin" not in dec, dec


def test_timeseries_gapfill_plan_shape(spark, sf_dir):
    """Gapfill must stay spine-join + window: no cartesian (sequence/
    explode generates the spine executor-side, never a range crossJoin),
    no Python UDF, and the LOCF carry is a single Window."""
    p = plan_str(QUERIES["timeseries_gapfill_locf"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # formatted mode prints each node twice (tree + details): 1 Window node
    assert p.count("Window") <= 2, p
    assert "Generate" in p  # the sequence()+explode spine


def test_fof_motif_plan_shape(spark, sf_dir):
    """friends_of_friends: equi-joins only (hop + anti), and the explode-
    based edge lineage keeps total parquet scans bounded (3 motif uses x
    at most 2 scan nodes; the round-3 union form exploded to 24)."""
    p = plan_str(QUERIES["friends_of_friends_recommendations"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("Scan parquet") <= 6, f"edge lineage re-expanded: {p.count('Scan parquet')} scans"


def test_iterative_bench_queries_shape_and_counts(spark, sf_dir):
    """pagerank_friend_graph / connected_components_friend_graph (rows-only
    bench trackers): localCheckpoint truncates the returned lineage, so the
    meaningful per-round plan pins live in the operator tests
    (test_components.py); here pin the tail plans are JVM-only with no
    cartesian, and the results carry graph-level invariants — ranks cover
    every friend-graph vertex and sum to 1, components = one per
    represented nation (the chains are nation-local)."""
    from pyspark.sql import functions as F

    pr = QUERIES["pagerank_friend_graph"].spark(spark, sf_dir)
    p = plan_str(pr)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    rows = pr.collect()
    assert len(rows) == n_cust
    assert abs(sum(r.rank for r in rows) - 1.0) < 1e-6

    cc = QUERIES["connected_components_friend_graph"].spark(spark, sf_dir)
    p2 = plan_str(cc)
    assert "BatchEvalPython" not in p2 and "ArrowEvalPython" not in p2
    assert "CartesianProduct" not in p2
    n_nations = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_nationkey").distinct().count()
    )
    comp_rows = cc.collect()
    assert len(comp_rows) == n_nations
    assert sum(r.n_members for r in comp_rows) == n_cust


@pytest.mark.usefixtures("lazy_plans")
def test_iterative_round_plan_shapes_via_checkpoint_off(spark):
    """Lineage cuts off (``lazy_plans``) expose the genuine per-round lineage the bench
    queries truncate: pagerank's round = equi-joins + hash aggregates with
    the only BroadcastNestedLoopJoin being the 1-row dangling-mass scalar;
    star CC's round-pair = groupBy(min) + same-key joins, no cartesian and
    no nested-loop join at all."""
    from yelp_business_data_pipeline_spark.operators.components import connected_components
    from yelp_business_data_pipeline_spark.operators.ranking import pagerank

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    # one round: further rounds re-embed the prior round's subtree in
    # several branches (exactly the lineage compounding the checkpoints
    # exist to cut), so only the single-round plan has a stable shape
    pr = pagerank(e, max_iter=1)
    p = plan_str(pr)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the 1-row dangling-mass broadcast is the round's ONLY nested-loop
    # join (count on the simple plan — formatted prints each node twice)
    assert plan_str(pr, "simple").count("BroadcastNestedLoopJoin") == 1, p

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    cc = connected_components(pairs, max_iter=4, algorithm="star")
    p2 = plan_str(cc)
    assert "CartesianProduct" not in p2 and "BroadcastNestedLoopJoin" not in p2, p2
    assert "BatchEvalPython" not in p2 and "ArrowEvalPython" not in p2


def test_triangle_bench_query_matches_chain_model(spark, sf_dir):
    """The friendship graph is a per-nation (acctbal, custkey)-ordered
    chain with next-1 and next-2 links, so each nation of size L
    contributes exactly max(0, L-2) triangles."""
    from pyspark.sql import functions as F

    got = (
        QUERIES["triangle_count_friend_graph"]
        .spark(spark, sf_dir)
        .filter(F.col("scope") == "global")
        .collect()[0]
        .n_triangles
    )
    sizes = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    want = sum(max(0, r.n - 2) for r in sizes)
    assert got == want


def test_funnel_retention_plan_shapes(spark, sf_dir):
    """funnel: the k chained step windows and the per-user collapse all
    reuse ONE user-key hash partitioning — exactly 2 Exchanges total (the
    user shuffle + the final 1-row aggregate), no Python eval. retention:
    cohort sizes join is a broadcast; no cartesian, no Python eval."""
    from yelp_business_data_pipeline_spark.plans.extensions import (
        funnel_conversion_events,
        retention_cohorts_events,
    )

    p = plan_str(funnel_conversion_events(spark, sf_dir), "simple")
    assert p.count("Exchange") == 2, p
    assert "EvalPython" not in p and "CartesianProduct" not in p

    p2 = plan_str(retention_cohorts_events(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in p2, p2
    assert "EvalPython" not in p2 and "CartesianProduct" not in p2


def test_two_window_frames_share_one_exchange(spark, sf_dir):
    # running_customer_spend stacks a ROWS frame and a time-RANGE frame
    # over the same customer key: frame count must never add exchanges.
    df = QUERIES["running_customer_spend"].spark(spark, sf_dir)
    # formatted mode prints each node twice (tree + details): one Exchange
    # node -> 2 occurrences; two Window nodes -> 4.
    p = plan_str(df)
    assert p.count("Exchange") == 2, p
    assert p.count("Window") >= 4, p


def test_leakage_split_audit_plan_shape(spark, sf_dir):
    """The split itself must stay a shuffle-free per-row expression: the
    only exchanges are the two per-regime audit groupBys (+ their
    partial-agg pairs under AQE) and the per-regime split rollups; the
    leaked-count side joins back via BROADCAST (one row), never a
    shuffle join, and nothing evaluates Python."""
    df = QUERIES["leakage_split_audit"].spark(spark, sf_dir)
    p = plan_str(df, "simple")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert "SortMergeJoin" not in p, p


def test_pca_apply_panel_plan_shape(spark, sf_dir):
    """pca_apply_panel composes the two distributed halves: the apply
    matmul leg is zero-shuffle up to its final exchange-free projection
    (mapInPandas is the sanctioned Arrow path here), and the moment leg's
    only wide node is the bounded (idx, val) groupBy — no joins at all,
    no cartesian."""
    df = QUERIES["pca_apply_panel"].spark(spark, sf_dir)
    p = plan_str(df, "simple")
    assert "Join" not in p, p
    assert "CartesianProduct" not in p
    # both legs scan embeddings; the union is the only plan root above them
    assert p.count("MapInPandas") == 2, p  # apply matmul + moment fold
