"""Re-aggregatable sketches — the 100 TB rollup pattern.

At scale you cannot re-scan raw data for every distinct-count slice: you
store a SKETCH per (grain) row in a rollup table and merge sketches at
query time. ``approx_count_distinct`` alone can't do this (its result is a
number, not mergeable state); Spark 3.5+ exposes Apache DataSketches
HyperLogLog state as first-class binary columns:

- ``hll_sketch_agg(col)``  -> binary sketch per group (storable in parquet)
- ``hll_union_agg(sketch)`` -> merged sketch across groups/partitions/days
- ``hll_sketch_estimate(sketch)`` -> the distinct estimate

The invariant that makes rollups correct: estimate(union(sketches)) ==
estimate over the concatenated raw data (within HLL error), regardless of
how the data was partitioned when the sketches were built. Pinned in
``tests/test_sketches.py`` including a parquet round-trip of the binary
sketch column — the "store now, merge months later" scenario.

These are engine-specific binary states (no DuckDB twin), so the driver
surface stays on ``approx_aggregates``'s tolerance predicates; this module
is the persistence-grade variant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def grouped_distinct_sketches(
    df: DataFrame, group_cols: list[str], value_col: str, lg_k: int = 12
) -> DataFrame:
    """One HLL sketch per group over ``value_col`` — the rollup-table row.
    ``lg_k`` trades memory (2^lg_k buckets) for accuracy (~1.04/sqrt(2^lg_k)
    relative error; 12 -> ~1.6%)."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("distinct_sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def merge_distinct_estimate(
    sketches: DataFrame, group_cols: list[str] | None = None,
    sketch_col: str = "distinct_sketch",
) -> DataFrame:
    """Merge sketch rows (optionally re-grouped to a coarser grain) and
    estimate the distinct count — no raw data touched."""
    merged = F.hll_sketch_estimate(F.hll_union_agg(sketch_col)).alias("distinct_estimate")
    if group_cols:
        return sketches.groupBy(*group_cols).agg(merged, F.sum("n_rows").alias("n_rows"))
    return sketches.agg(merged, F.sum("n_rows").alias("n_rows"))


def frequent_tokens(
    df: DataFrame, text_col: str = "text", support: float = 0.01
) -> list[str]:
    """Approximate heavy hitters over the token stream via Spark's
    freqItems (Karp/Schenker/Papadimitriou one-pass counters): returns a
    SUPERSET of every token with frequency > support — the guarantee that
    matters for stopword mining / boilerplate detection at scale (false
    positives are then filtered by one exact count over the small
    candidate set, never over the full vocabulary).
    """
    toks = df.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    return toks.stat.freqItems(["tok"], support).collect()[0][0]


def verified_heavy_hitters(
    df: DataFrame, text_col: str = "text", support: float = 0.01
) -> DataFrame:
    """Exact heavy hitters computed the scale-correct way: freqItems gives
    the bounded candidate superset in one pass; an exact count restricted
    to those candidates (broadcast filter, tiny group-by) removes the
    false positives. Returns (tok, n, freq) for true frequency > support."""
    cands = frequent_tokens(df, text_col, support)
    toks = df.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    total = toks.count()
    return (
        toks.filter(F.col("tok").isin(cands))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("freq", F.col("n") / F.lit(float(total)))
        .filter(F.col("freq") > support)
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketches (histogram rollups)
# ---------------------------------------------------------------------------


def grouped_quantile_sketches(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    bin_edges: list[float],
) -> DataFrame:
    """One mergeable QUANTILE sketch per group: a fixed-edge histogram —
    the percentile counterpart of :func:`grouped_distinct_sketches`.
    ``percentile_approx`` alone can't do rollups (its result is a number,
    not mergeable state); a bin-count array over SHARED edges is the
    simplest state whose element-wise sum is exact aggregation, so
    "store per day, merge per quarter" works without re-scanning raw
    data, and the merged estimate's error is bounded by the bin width
    regardless of how many sketches merged.

    ``bin_edges`` (strictly increasing) define len+1 bins:
    (-inf, e0], (e0, e1], ..., (e_last, inf). Derive them once from a
    representative sample (``df.approxQuantile`` — roughly equi-depth
    edges give near-constant relative error); every sketch that will
    ever merge MUST share the same edges — the caller's contract, guarded
    at the edges: :func:`merge_quantile_sketches` and
    :func:`quantile_from_sketch` both take the edges and assert the
    stored array width matches, so a mismatched edge list fails loudly
    instead of interpolating against the wrong boundaries.

    Per group: ``bin_counts`` (len(edges)+1 longs), ``v_min``/``v_max``
    (exact, for outer-bin interpolation), ``n_vals``. NULL *and NaN*
    values are ignored (a NaN would land in the last bin under Spark's
    NaN ordering and poison v_max and every upper-quantile estimate).
    One aggregate, map-side partial; the bin index is computed ONCE per
    row in a projection (an O(edges) HOF — inlining it into each of the
    n_bins sum aggregates would be O(edges^2) per row).
    """
    if sorted(bin_edges) != list(bin_edges) or len(set(bin_edges)) != len(bin_edges):
        raise ValueError("grouped_quantile_sketches: bin_edges must be strictly increasing")
    v = F.col(value_col).cast("double")
    edges_arr = F.array(*[F.lit(float(e)) for e in bin_edges])
    n_bins = len(bin_edges) + 1
    prepared = df.filter(v.isNotNull() & ~F.isnan(v)).select(
        *group_cols,
        v.alias("_v"),
        # bin index = number of edges strictly below v (v <= e -> earlier bin)
        F.size(F.filter(edges_arr, lambda e: e < v)).alias("_idx"),
    )
    return prepared.groupBy(*group_cols).agg(
        F.array(
            *[
                F.sum((F.col("_idx") == i).cast("long")).alias(f"_b{i}")
                for i in range(n_bins)
            ]
        ).alias("bin_counts"),
        F.min("_v").alias("v_min"),
        F.max("_v").alias("v_max"),
        F.count("_v").alias("n_vals"),
    )


def merge_quantile_sketches(
    sketches: DataFrame,
    bin_edges: list[float],
    group_cols: list[str] | None = None,
    counts_col: str = "bin_counts",
) -> DataFrame:
    """Merge sketch rows (optionally re-grouped to a coarser grain):
    element-wise bin-count sums + exact min/max/n — no raw data touched.
    The merge is EXACT (integer sums), so estimate(merge(sketches)) ==
    estimate(sketch of the concatenated raw data), pinned in pytest.

    ``bin_edges`` must be the edges the sketches were BUILT with: the
    width is taken from them (a pure transformation — no eager job just
    to probe an array length) and every row's stored width is asserted
    against it, so merging sketches built with different edges fails
    loudly instead of silently summing misaligned bins."""
    width = len(bin_edges) + 1
    size_ok = F.assert_true(
        F.size(F.col(counts_col)) == F.lit(width),
        F.lit(
            f"merge_quantile_sketches: sketch width != len(bin_edges)+1={width}; "
            "sketches must merge with the edges they were built with"
        ),
    )
    merged_counts = F.array(
        *[
            F.sum(
                F.when(size_ok.isNull(), F.element_at(F.col(counts_col), i + 1))
            ).alias(f"_m{i}")
            for i in range(width)
        ]
    ).alias("bin_counts")
    aggs = [
        merged_counts,
        F.min("v_min").alias("v_min"),
        F.max("v_max").alias("v_max"),
        F.sum("n_vals").alias("n_vals"),
    ]
    if group_cols:
        return sketches.groupBy(*group_cols).agg(*aggs)
    return sketches.agg(*aggs)


def quantile_from_sketch(
    bin_edges: list[float],
    q: float,
    counts_col: str = "bin_counts",
) -> Column:
    """Column expression estimating the q-quantile from a sketch row
    (``bin_counts`` + ``v_min``/``v_max``): locate the bin holding rank
    ceil(q*n) by a HOF fold over the counts, then interpolate linearly
    inside it. Outer (unbounded) bins interpolate against the stored
    exact min/max, so the estimate always lies within [v_min, v_max];
    the error bound is the width of the bin containing the quantile.
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile_from_sketch: q must be in [0, 1], got {q}")
    counts = F.col(counts_col)
    # loud width guard: estimating with edges the sketch was not built
    # with would silently interpolate against wrong boundaries
    _guard = F.assert_true(
        F.size(counts) == F.lit(len(bin_edges) + 1),
        F.lit(
            f"quantile_from_sketch: sketch width != len(bin_edges)+1="
            f"{len(bin_edges) + 1}; use the edges the sketch was built with"
        ),
    )
    n = F.aggregate(counts, F.lit(0).cast("long"), lambda a, x: a + x)
    target = F.greatest(F.ceil(F.lit(float(q)) * n), F.lit(1)).cast("long")
    # fold: locate the first bin where the running sum reaches the target
    # rank; carry (cum, idx, cum_before, pos) through the scan
    zero = F.struct(
        F.lit(0).cast("long").alias("cum"),
        F.lit(-1).alias("idx"),
        F.lit(0).cast("long").alias("before"),
        F.lit(0).alias("pos"),
    )

    def _step(acc, x):
        new_cum = acc.cum + x
        hit = (acc.idx < 0) & (new_cum >= target)
        return F.struct(
            new_cum.alias("cum"),
            F.when(hit, acc.pos).otherwise(acc.idx).alias("idx"),
            F.when(hit, acc.cum).otherwise(acc.before).alias("before"),
            (acc.pos + 1).alias("pos"),
        )

    st = F.aggregate(counts, zero, _step)
    idx = st.idx
    n_bins = F.size(counts)
    edges_arr = F.array(*[F.lit(float(e)) for e in bin_edges])
    lo = F.when(idx <= 0, F.col("v_min")).otherwise(
        F.element_at(edges_arr, idx)  # 1-based: edge idx-1 in 0-based = element_at(idx)
    )
    hi = F.when(idx >= n_bins - 1, F.col("v_max")).otherwise(
        F.element_at(edges_arr, idx + 1)
    )
    in_bin = F.element_at(counts, idx + 1).cast("double")
    frac = (target - st.before).cast("double") / F.greatest(in_bin, F.lit(1.0))
    est = lo + (hi - lo) * frac
    # clamp: outer-bin edges can sit outside [v_min, v_max]; the guard
    # rides along (assert_true yields NULL when the width matches)
    clamped = F.least(F.greatest(est, F.col("v_min")), F.col("v_max"))
    # all-zero counts (n == 0, unreachable from this module's builders but
    # legal in a hand-built row) leave idx at -1 and element_at(..., 0)
    # always raises in Spark — short-circuit to a NULL estimate instead.
    return F.when(_guard.isNull() & (n > 0), clamped)


# ---------------------------------------------------------------------------
# Mergeable frequent-items sketches (heavy-hitter rollups)
# ---------------------------------------------------------------------------


def _mg_reduce(counter: dict, err: int, m: int) -> tuple[dict, int]:
    """Batch Misra-Gries reduction to <= m counters: subtract the
    (m+1)-th largest count from everything and drop the non-positive
    remainder. ``err`` accumulates the total subtracted — the uniform
    upper-bound slack (true count <= stored count + err for EVERY item,
    present or evicted)."""
    if len(counter) > m:
        d = sorted(counter.values(), reverse=True)[m]
        counter = {k: c - d for k, c in counter.items() if c - d > 0}
        err += d
    return counter, err


def _merge_summaries(rows, m: int):
    """Merge (items, counts, mg_err, n_rows) summary rows: counter-wise
    add, then one MG reduction. Bound composes: err_out <= sum(err_in)
    + the merge reduction's own subtraction."""
    counter: dict = {}
    err = 0
    n = 0
    for items, counts, e, nr in rows:
        for it, c in zip(items, counts):
            counter[it] = counter.get(it, 0) + int(c)
        err += int(e)
        n += int(nr)
    counter, err = _mg_reduce(counter, err, m)
    return counter, err, n


def _summary_sort(counter: dict) -> list:
    # deterministic row content: count desc, then item asc
    return sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))


def grouped_frequent_sketches(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    m: int = 64,
) -> DataFrame:
    """One mergeable FREQUENT-ITEMS sketch per group — the heavy-hitter
    member of the rollup trio (distinct = HLL, percentile = shared-edge
    histogram, heavy hitters = this). Misra-Gries summaries (Misra &
    Gries 1982; the merge analysis is Agarwal et al. 2013, "Mergeable
    Summaries"): at most ``m`` (item, count) counters per group plus a
    scalar ``mg_err`` such that for EVERY item

        stored_count <= true_count <= stored_count + mg_err

    (absent items have stored_count 0), and any item with true count
    > n/(m+1) is guaranteed present. Unlike ``DataFrame.stat.freqItems``
    (a one-shot answer), these rows are STATE: store one per day/source
    in parquet, merge months later with :func:`merge_frequent_sketches`
    — no raw re-scan. The classic application at 100 TB: hot-key
    detection feeding ``skew.salted_join``'s salt-count choice without a
    full groupBy of the fact table.

    Scale shape: one streaming mapInPandas pass builds per-(partition,
    group) partial summaries — each Arrow batch is pre-aggregated with a
    C-speed pandas groupby before touching the Python-level counters
    (the MG loop then runs over DISTINCT (group, item) pairs per batch,
    not rows; bulk-adding a count of c is identical to c unit
    increments, so the bounds are unchanged), worker memory
    O(groups x 2m), never O(rows) — then the per-group merge handles
    only summary rows (groups x partitions x m, corpus-independent).

    NULL items are not counted (no identity — filtered JVM-side, which
    also keeps integral item columns integral through Arrow: a nullable
    int batch would otherwise arrive as float64 and corrupt ids above
    2^53). NULL group keys form one group as usual (normalized from the
    pandas NaN representation — which also means a genuine NaN in a
    FLOAT group column lands in the NULL group; don't sketch on float
    group keys). Caveat that remains: a nullable INTEGRAL group column
    with any null in a batch still transits as float64, so integral
    group values above 2^53 can lose precision — use string/clean-int
    group keys at that magnitude. Output: group cols + (items array,
    counts array, mg_err, n_rows), counts descending with item tiebreak
    — deterministic for a given partition layout (summaries themselves
    are layout-DEPENDENT; only the bounds are layout-free, and the
    tests pin exactly that).
    """
    import pandas as pd

    if m < 1:
        raise ValueError(f"grouped_frequent_sketches: m must be >= 1, got {m}")
    fields = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in group_cols
    )
    item_type = df.schema[item_col].dataType.simpleString()
    out_schema = (
        (f"{fields}, " if fields else "")
        + f"items array<{item_type}>, counts array<long>, "
        "mg_err long, n_rows long"
    )

    cols = list(group_cols) + [item_col]

    def _partials(batches):
        state: dict = {}  # group tuple -> [counter, err, n]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # C-speed per-batch pre-aggregation: the Python loop below
            # runs over distinct (group, item) pairs, not rows
            counted = pdf.groupby(cols, dropna=False, sort=False).size()
            for key, cnt in counted.items():
                if len(cols) == 1:
                    key = (key,)
                gparts, it = key[:-1], key[-1]
                # NaN is the pandas rendering of a NULL group key; NaN is
                # not equal to itself, so normalize to None or every
                # null-key row would mint its own dict entry (O(rows)
                # state — the exact blowup this operator exists to avoid)
                g = tuple(None if pd.isna(x) else x for x in gparts)
                st = state.get(g)
                if st is None:
                    st = state[g] = [{}, 0, 0]
                counter = st[0]
                counter[it] = counter.get(it, 0) + int(cnt)
                st[2] += int(cnt)
                if len(counter) > 2 * m:  # amortized bound: reduce at 2m
                    st[0], st[1] = _mg_reduce(counter, st[1], m)
        if not state:
            return
        out = {c: [] for c in group_cols}
        items_c, counts_c, errs, ns = [], [], [], []
        for g, (counter, err, n) in state.items():
            counter, err = _mg_reduce(counter, err, m)
            pairs = _summary_sort(counter)
            for c, v in zip(group_cols, g):
                out[c].append(v)
            items_c.append([p[0] for p in pairs])
            counts_c.append([p[1] for p in pairs])
            errs.append(err)
            ns.append(n)
        out["items"] = items_c
        out["counts"] = counts_c
        out["mg_err"] = errs
        out["n_rows"] = ns
        yield pd.DataFrame(out)

    # NULL items filtered JVM-side: no identity to count, and it keeps
    # integral item batches integral through Arrow (see docstring)
    prepared = df.select(*group_cols, item_col).filter(F.col(item_col).isNotNull())
    partials = prepared.mapInPandas(_partials, out_schema)
    return merge_frequent_sketches(partials, group_cols, m=m)


def merge_frequent_sketches(
    sketches: DataFrame,
    group_cols: list[str] | None = None,
    m: int = 64,
) -> DataFrame:
    """Merge sketch rows (optionally re-grouped to a coarser grain — pass
    the SUBSET of group columns to keep). Counter-wise add + one MG
    reduction per output group; the err bound composes additively, so
    "store per day, merge per quarter" keeps the containment guarantee.
    Summary rows are tiny (<= m counters each), so the grouped-map merge
    never sees raw data."""
    import pandas as pd

    if m < 1:
        raise ValueError(f"merge_frequent_sketches: m must be >= 1, got {m}")
    keep = list(group_cols or [])

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        counter, err, n = _merge_summaries(
            zip(pdf["items"], pdf["counts"], pdf["mg_err"], pdf["n_rows"]), m
        )
        pairs = _summary_sort(counter)
        row = {c: [pdf[c].iloc[0]] for c in keep}
        row["items"] = [[p[0] for p in pairs]]
        row["counts"] = [[p[1] for p in pairs]]
        row["mg_err"] = [err]
        row["n_rows"] = [n]
        return pd.DataFrame(row)

    fields = ", ".join(
        f"{c} {sketches.schema[c].dataType.simpleString()}" for c in keep
    )
    item_type = sketches.schema["items"].dataType.elementType.simpleString()
    out_schema = (
        (f"{fields}, " if fields else "")
        + f"items array<{item_type}>, counts array<long>, mg_err long, n_rows long"
    )
    if keep:
        return sketches.groupBy(*keep).applyInPandas(_merge, out_schema)

    def _merge_global(pdf: pd.DataFrame) -> pd.DataFrame:
        r = _merge(pdf)
        r.insert(0, "_g", [1])
        return r

    return (
        sketches.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(_merge_global, f"_g int, {out_schema}")
        .drop("_g")
    )


def frequent_items_from_sketch(sketches: DataFrame, min_lower: int = 1) -> DataFrame:
    """Explode sketch rows to (group..., item, count_lower, count_upper)
    — count_upper = count_lower + mg_err is the containment bound. Filter
    ``min_lower`` to keep only items with a guaranteed floor (e.g. the
    hot-key threshold for salting decisions)."""
    other = [c for c in sketches.columns if c not in ("items", "counts", "mg_err", "n_rows")]
    z = F.arrays_zip(F.col("items").alias("item"), F.col("counts").alias("cnt"))
    ex = sketches.select(*other, "mg_err", "n_rows", F.explode(z).alias("p"))
    return (
        ex.select(
            *other,
            F.col("p.item").alias("item"),
            F.col("p.cnt").alias("count_lower"),
            (F.col("p.cnt") + F.col("mg_err")).alias("count_upper"),
            "n_rows",
        )
        .filter(F.col("count_lower") >= F.lit(int(min_lower)))
    )


# ---------------------------------------------------------------------------
# Mergeable KMV sketches (distinct + set-operation estimates)
# ---------------------------------------------------------------------------


def grouped_kmv_sketches(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 256,
) -> DataFrame:
    """One mergeable KMV (k-minimum-values) sketch per group — the
    set-operations member of the rollup family (Bar-Yossef et al. 2002;
    Beyer et al. 2007 "On Synopses for Distinct-Value Estimation"): the
    k smallest DISTINCT xxhash64 values of the group, shifted to
    unsigned order. What it adds over the HLL sketches: K-min arrays
    support INTERSECTION and Jaccard estimates (:func:`kmv_set_estimates`)
    — HLL unions only.

    The killer algebraic property (pinned in pytest as EXACT equality,
    not a tolerance): the k smallest of a union of per-grain k-min
    arrays == the k smallest of the union of the full underlying sets,
    so :func:`merge_kmv_sketches` rolls per-day sketches up to any
    coarser grain with zero estimate degradation vs building at that
    grain directly.

    Scale shape mirrors the MG sketches: one streaming mapInPandas pass
    holds a bounded max-heap of k hashes per (partition, group) — each
    Arrow batch pre-deduplicated with C-speed numpy before the heap
    loop — then the grouped merge sees only k-length arrays. NULL
    values are ignored (no identity). Output: group cols +
    (kmin array<long> ascending, k long, n_rows long) — the row carries
    its build ``k`` so a later merge/estimate with a different capacity
    fails loudly instead of silently producing a non-KMV array (the
    quantile family's shared-edges discipline).
    """
    import heapq

    import numpy as np
    import pandas as pd

    if k < 1:
        raise ValueError(f"grouped_kmv_sketches: k must be >= 1, got {k}")
    fields = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in group_cols
    )
    out_schema = (
        (f"{fields}, " if fields else "") + "kmin array<long>, k long, n_rows long"
    )

    def _insert(st, h: int) -> None:
        heap, members = st[0], st[1]
        if h in members:
            return
        if len(heap) < k:
            heapq.heappush(heap, -h)
            members.add(h)
        elif h < -heap[0]:
            members.discard(-heapq.heapreplace(heap, -h))
            members.add(h)

    def _partials(batches):
        # group tuple -> [neg-heap (max-heap of k smallest), member set, n]
        state: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if not group_cols:
                st = state.get(())
                if st is None:
                    st = state[()] = [[], set(), 0]
                st[2] += len(pdf)
                # C-speed batch pre-dedup + sort: insertions arrive
                # ascending, so once one value misses the heap cutoff the
                # rest of the batch can't enter either
                for h in np.unique(pdf["_h"].to_numpy()):
                    hi = int(h)
                    if len(state[()][0]) >= k and hi >= -state[()][0][0]:
                        break
                    _insert(st, hi)
                continue
            # per-group row counts BEFORE dedup (n_rows is a row count;
            # NaN index entries normalized to None like the MG kernel)
            sizes = pdf.groupby(group_cols, dropna=False, sort=False).size()
            for gk, cnt in sizes.items():
                if len(group_cols) == 1:
                    gk = (gk,)
                key = tuple(None if pd.isna(x) else x for x in gk)
                st = state.get(key)
                if st is None:
                    st = state[key] = [[], set(), 0]
                st[2] += int(cnt)
            # hash dedup per group: the insert loop runs over distinct
            # (group, hash) pairs, not rows
            dd = pdf.drop_duplicates(subset=[*group_cols, "_h"])
            # .tolist(), NOT .to_numpy(): the state keys were built from
            # pandas groupby index values (pd.Timestamp for datetime64
            # columns); numpy scalars (np.datetime64) hash differently
            # and would KeyError on every timestamp group column
            glists = [dd[c].tolist() for c in group_cols]
            hvals = dd["_h"].to_numpy()
            for i in range(len(hvals)):
                key = tuple(
                    None if pd.isna(glists[j][i]) else glists[j][i]
                    for j in range(len(group_cols))
                )
                _insert(state[key], int(hvals[i]))
        if not state:
            return
        out = {c: [] for c in group_cols}
        kmins, ns = [], []
        for g, (heap, _members, n) in state.items():
            for c, v in zip(group_cols, g):
                out[c].append(v)
            kmins.append(sorted(-x for x in heap))
            ns.append(n)
        out["kmin"] = kmins
        out["k"] = [k] * len(kmins)
        out["n_rows"] = ns
        yield pd.DataFrame(out)

    # unsigned order: xxhash64 is signed int64; XORing the sign bit
    # (Long.MIN_VALUE) makes the SIGNED long ordering equal the unsigned
    # hash ordering, so "k smallest" is uniform over the hash space
    h = F.xxhash64(F.col(value_col)).bitwiseXOR(F.lit(-(2**63)))
    prepared = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, h.alias("_h"))
    )
    partials = prepared.mapInPandas(_partials, out_schema)
    return merge_kmv_sketches(partials, group_cols, k=k)


def merge_kmv_sketches(
    sketches: DataFrame,
    group_cols: list[str] | None = None,
    k: int = 256,
    kmin_col: str = "kmin",
) -> DataFrame:
    """Merge KMV rows to a coarser grain: distinct-union the arrays, keep
    the k smallest — EXACTLY the sketch of the concatenated raw data
    (the KMV closure property; pinned as equality). Pure JVM HOFs over
    k-length arrays, no Python stage.

    Loud k guard (the quantile family's shared-edges discipline): each
    input row's stored ``k`` is asserted against the passed ``k`` —
    merging k=64 sketches under k=256 would keep values beyond each
    input's 64th min (evicted at build, so NOT union members), silently
    yielding a non-KMV array and a badly biased estimate."""
    if k < 1:
        raise ValueError(f"merge_kmv_sketches: k must be >= 1, got {k}")
    keep = list(group_cols or [])
    _guard = F.assert_true(
        F.col("k") == F.lit(int(k)),
        F.lit(
            f"merge_kmv_sketches: sketch built with a different k than the "
            f"requested {k}; merge with the k the sketches were built with"
        ),
    )
    guarded = F.when(_guard.isNull(), F.col(kmin_col))
    merged = F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list(guarded)))),
        1,
        k,
    ).alias(kmin_col)
    kc = F.coalesce(F.max("k"), F.lit(int(k))).alias("k")
    n = F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n_rows")
    if keep:
        return sketches.groupBy(*keep).agg(merged, kc, n)
    return sketches.agg(merged, kc, n)


def kmv_distinct_estimate(kmin: Column, k: int) -> Column:
    """Distinct-count estimate from a KMV array: exact |array| when the
    sketch never filled (fewer than k distinct values seen), else the
    standard unbiased (k-1) / r estimator with r = the k-th smallest
    hash as a fraction of the 2^64 hash space."""
    size = F.size(kmin)
    kth_unsigned = F.element_at(kmin, k).cast("double") + F.lit(float(2**63))
    r = kth_unsigned / F.lit(float(2**64))
    return F.when(size < k, size.cast("double")).otherwise(
        F.lit(float(k - 1)) / r
    )


def kmv_set_estimates(
    a: Column,
    b: Column,
    k: int,
) -> Column:
    """Set-operation estimates from two KMV arrays (same k): struct of
    ``jaccard``, ``union_est``, ``intersection_est``.

    K = the k smallest of the union (itself a valid KMV of A∪B — the
    closure property); any element of K that belongs to set A is
    necessarily in A's array (K's values are <= the union's k-th min,
    which is <= A's k-th min), so membership tests against the stored
    arrays are exact. Jaccard ≈ |K ∩ A ∩ B| / |K|; intersection =
    jaccard x union estimate (Beyer et al. 2007). All HOFs — usable in
    a plain select over a sketch-join row."""
    union_arr = F.slice(F.array_sort(F.array_distinct(F.concat(a, b))), 1, k)
    # hash-based set intersection, one pass — not a per-element
    # array_contains scan (O(k^2) per row); arrays are distinct already
    matches = F.size(F.array_intersect(F.array_intersect(union_arr, a), b))
    ksz = F.size(union_arr)
    # both-empty inputs: Jaccard of two empty sets is 0, never 0/0 NaN
    jaccard = F.when(
        ksz > 0, matches.cast("double") / ksz.cast("double")
    ).otherwise(F.lit(0.0))
    union_est = F.when(ksz > 0, kmv_distinct_estimate(union_arr, k)).otherwise(
        F.lit(0.0)
    )
    return F.struct(
        F.round(jaccard, 6).alias("jaccard"),
        F.round(union_est, 4).alias("union_est"),
        F.round(jaccard * union_est, 4).alias("intersection_est"),
    )
