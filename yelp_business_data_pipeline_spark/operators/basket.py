"""Market-basket co-occurrence: association pairs with support and lift.

The reference's BI layer ("Sentiment trends by city or category",
reference README.md:301-307) implies grouped analytics over the unified
table; co-occurrence mining ("parts bought together") is the standard
association-analysis query that layer cannot express without a
within-group pair expansion. This is also the LLM-corpus shape for
"entities/tags that co-occur within a document" statistics.

Scale design (the 100 TB shape)
-------------------------------
NO self-join on the basket key. The naive formulation — ``items JOIN
items ON same basket AND a < b`` — shuffles the item table twice and
rebuilds each basket via a sort-merge join; instead we collapse each
basket to a sorted distinct item array with ONE groupBy (collect_set
dedups in the partial aggregate, map-side), then expand ordered pairs
per basket with higher-order functions (executor-local, no shuffle) via
``dedup.bucket_pairs`` — the same pair-expansion kernel every blocking
operator uses. Pair counting is a second groupBy on uniform (item_a,
item_b) keys; per-item basket frequencies reuse the collapsed baskets
(explode -> groupBy item). The basket-count denominator is a 1-row
aggregate crossJoined in (broadcast-of-one-row, the pagerank
dangling-mass pattern), never a driver collect.

Pair expansion is quadratic in basket size, so ``max_basket`` is the
loud-degradation guard (executor-side raise_error naming the size, the
``bucket_pairs`` contract): a pathological mega-basket fails with a
diagnosable message instead of silently building a |basket|^2 array
toward OOM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import bucket_pairs
from .iterutil import cut_lineage


def item_cooccurrence(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pairs: int = 1,
    max_basket: int | None = None,
) -> DataFrame:
    """Ordered item pairs (item_a < item_b) co-occurring in baskets, with
    association statistics.

    For each pair: ``n_pairs`` = number of distinct baskets containing
    both items; ``support`` = n_pairs / n_baskets; ``lift`` =
    (n_pairs * n_baskets) / (n_a * n_b) where ``n_i`` is the number of
    distinct baskets containing item i and ``n_baskets`` counts baskets
    with at least one item. Duplicate (basket, item) rows count once
    (collect_set). ``min_pairs`` prunes the long tail BEFORE the stats
    joins; NULL baskets/items are dropped (no identity, no basket).
    """
    # ONE scan + ONE basket-collapse shuffle feeds every statistic below.
    # Three consumers (pair expansion, item frequencies, basket count)
    # derive from the collapsed frame; without materialization Catalyst
    # prunes each branch differently (distinct collapsed into
    # count(distinct), item counts skipping the array build), re-executing
    # the raw scan per branch — measured 4 scans. A lazy localCheckpoint
    # computes the collapse once on first action and serves all branches
    # from executor-local storage (the pagerank/star-CC lineage pattern;
    # the checkpointed frame is one row per basket — the SMALL shape).
    baskets = cut_lineage(
        df.filter(F.col(basket_col).isNotNull() & F.col(item_col).isNotNull())
        .groupBy(F.col(basket_col).alias("_basket"))
        .agg(F.sort_array(F.collect_set(item_col)).alias("_ids")),
        eager=False,
    )
    n_baskets = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    item_n = (
        baskets.select(F.explode("_ids").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    pair_n = (
        bucket_pairs(
            baskets.filter(F.size("_ids") >= 2),
            max_bucket=max_basket,
            distinct=False,  # one row per (basket, pair): counting multiset
        )
        .groupBy(F.col("doc_a").alias("item_a"), F.col("doc_b").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .filter(F.col("n_pairs") >= min_pairs)
    )
    ia = item_n.select(F.col("item").alias("item_a"), F.col("n_item").alias("_na"))
    ib = item_n.select(F.col("item").alias("item_b"), F.col("n_item").alias("_nb"))
    return (
        pair_n.join(ia, "item_a")
        .join(ib, "item_b")
        .crossJoin(F.broadcast(n_baskets))  # 1-row scalar, never collected
        .select(
            "item_a",
            "item_b",
            "n_pairs",
            F.round(F.col("n_pairs") / F.col("n_baskets"), 6).alias("support"),
            # cast to double BEFORE multiplying: n_pairs * n_baskets as
            # bigints overflows 2^63 at corpus scale (ANSI abort / silent
            # wrap); the double product is what the ratio needs anyway
            F.round(
                (F.col("n_pairs").cast("double") * F.col("n_baskets"))
                / (F.col("_na").cast("double") * F.col("_nb")),
                6,
            ).alias("lift"),
        )
    )
