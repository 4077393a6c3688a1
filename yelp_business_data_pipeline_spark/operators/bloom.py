"""Distributed Bloom filter — set membership as a DataFrame.

The filter IS a table, never a driver object: sparse bitmap words
``(word_idx long, word long)`` plus the build parameters carried on every
row (the KMV family's "row carries its k" discipline). That makes it

- **buildable in one shuffle**: explode each key's ``n_hashes`` bit
  positions in-plan, ``groupBy(word_idx).agg(bit_or(mask))`` — partial
  (map-side) aggregation collapses almost everything before the exchange;
- **mergeable EXACTLY**: union + the same ``bit_or`` groupBy. OR is
  idempotent/associative/commutative, so ``merge(build(A), build(B)) ==
  build(A ∪ B)`` bit-for-bit — pinned in pytest as exact word-table
  equality, not a tolerance (the KMV merge-closure precedent);
- **probe-able relationally**: explode probe positions, join the word
  table (broadcast by default — a 2^20-bit filter is ~16k rows), and
  ``bool_and(word & mask != 0)`` per key. A missing word row means the
  bit was never set → definitely absent.

Everything is JVM expressions + JVM aggregates (``bit_or``, ``bool_and``,
``bit_count``): no UDF anywhere, and the md5 hash path has an exact
DuckDB twin (``plans.extensions.BLOOM_MEMBERSHIP_ORACLE``).

Why a Bloom filter when the repo already has HLL/KMV/MG sketches: those
answer *cardinality* questions; this one answers a *membership* question
— "was this canonical URL / content fingerprint ever seen?" — with NO
false negatives by construction, at ~1.3 bytes/key. It does not sit in
front of the streaming fingerprint-store join: a store-join bypass that
routed bloom-negative rows around it measured slower at every store size
from 40k to 10M fingerprints (BASELINE.md, round-11 A/B) and was deleted.

Word layout: 63 usable bits per word (positions 0..62). Bit 63 stays
clear so ``1 << bit`` never reaches the sign bit — DuckDB raises on
BIGINT ``1 << 63`` (signed overflow) where the JVM wraps; keeping the
sign bit out of play is what makes the twin exact (and ``bit_count``
comparable) across engines.

Positions: Kirsch-Mitzenmacher double hashing (Kirsch & Mitzenmacher
2006, "Less Hashing, Same Performance") — ``g_i = (h1 + i*h2) mod m``
over two independently-salted :func:`~.dedup.portable_hash` draws.
h1, h2 < 2^32 and i < n_hashes ≤ 64, so ``h1 + i*h2 < 2^38``: no int64
overflow in either engine, hence identical positions everywhere md5
exists (``impl="xxhash64"`` is the fast engine-specific path, same as
every other sketch family).

Reference scope note: the reference pipeline (notebook ETL glue,
reference README.md) has no membership structure at all — this module is
part of the LLM-scale extension surface, same tier as the incremental
dedup store (operators/incdedup.py).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import portable_hash

__all__ = [
    "bloom_params",
    "build_bloom",
    "merge_blooms",
    "bloom_may_contain",
]

BITS_PER_WORD = 63  # sign bit never used — see module docstring

# Salt prefixes for the two Kirsch-Mitzenmacher base hashes. Distinct
# from every other portable_hash salt in the repo ("mh:", sampling
# salts), so bloom positions never correlate with minhash signatures or
# sampling draws over the same keys.
_SALT_H1 = "blf1:"
_SALT_H2 = "blf2:"


def bloom_params(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Standard sizing: optimal bits ``m = -n ln p / (ln 2)^2`` and hash
    count ``k = (m/n) ln 2`` (rounded, floored at 1, capped at 64 so the
    position arithmetic stays far from int64). Returns ``(n_bits,
    n_hashes)`` for :func:`build_bloom`. Deterministic arithmetic only —
    callers size from a known/estimated cardinality (e.g. a KMV/HLL
    estimate of the store), never from an eager count job."""
    if n_items < 1:
        raise ValueError(f"bloom_params: n_items must be >= 1, got {n_items}")
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"bloom_params: fpp must be in (0, 1), got {fpp}")
    m = math.ceil(-n_items * math.log(fpp) / (math.log(2.0) ** 2))
    k = max(1, min(64, round(m / n_items * math.log(2.0))))
    return m, k


def _positions(value: Column, n_bits: int, n_hashes: int, impl: str) -> Column:
    """Array of the key's ``n_hashes`` bit positions in [0, n_bits)."""
    h1 = portable_hash(value, salt=_SALT_H1, impl=impl)
    h2 = portable_hash(value, salt=_SALT_H2, impl=impl)
    return F.transform(
        F.sequence(F.lit(0), F.lit(int(n_hashes) - 1)),
        lambda i: F.pmod(h1 + i.cast("bigint") * h2, F.lit(int(n_bits))),
    )


def _word_rows(
    df: DataFrame,
    value_col: str,
    n_bits: int,
    n_hashes: int,
    impl: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(``carry...``, word_idx, _mask) rows — one per (key, hash). THE
    single word-layout definition: build and probe both derive their
    word index and bit mask here, so the layout cannot drift between the
    writer and the reader of a filter (the one failure the carried
    build-params guard can't catch)."""
    pos = F.explode(
        _positions(F.col(value_col), n_bits, n_hashes, impl)
    ).alias("_pos")
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*carry, pos)
        .select(
            *carry,
            F.expr(f"_pos div {BITS_PER_WORD}").alias("word_idx"),
            F.expr(
                f"shiftleft(cast(1 as bigint), cast(_pos % {BITS_PER_WORD} as int))"
            ).alias("_mask"),
        )
    )


def _validate_params(n_bits: int, n_hashes: int) -> None:
    if n_bits < 1:
        raise ValueError(f"bloom: n_bits must be >= 1, got {n_bits}")
    if not (1 <= n_hashes <= 64):
        raise ValueError(f"bloom: n_hashes must be in [1, 64], got {n_hashes}")


def build_bloom(
    df: DataFrame,
    value_col: str,
    n_bits: int,
    n_hashes: int,
    impl: str = "md5",
) -> DataFrame:
    """Build the filter over ``df[value_col]`` (NULLs ignored — no
    identity, same policy as every sketch builder). One narrow shuffle:
    the exploded (word_idx, mask) stream partial-aggregates map-side, so
    the exchange carries at most ``ceil(n_bits/63)`` rows per map task
    regardless of input size.

    Output: ``(word_idx long, word long, n_bits long, n_hashes int)`` —
    only words with at least one set bit are materialized (sparse), and
    every row carries the build parameters so a later merge or probe
    with different parameters fails loudly instead of silently testing
    the wrong positions."""
    _validate_params(n_bits, n_hashes)
    return (
        _word_rows(df, value_col, n_bits, n_hashes, impl)
        .groupBy("word_idx")
        .agg(F.bit_or("_mask").alias("word"))
        .withColumn("n_bits", F.lit(int(n_bits)).cast("bigint"))
        .withColumn("n_hashes", F.lit(int(n_hashes)).cast("int"))
    )


def merge_blooms(blooms: list[DataFrame], n_bits: int, n_hashes: int) -> DataFrame:
    """Exact merge: union + ``bit_or`` per word. ``n_bits``/``n_hashes``
    must be the parameters the inputs were BUILT with — every row's
    stored parameters are asserted in-plan (the quantile-sketch
    shared-edges discipline), so merging incompatible filters raises at
    execution instead of producing a bitmap that silently drops
    membership guarantees."""
    _validate_params(n_bits, n_hashes)
    if not blooms:
        raise ValueError("merge_blooms: need at least one filter")
    u = blooms[0]
    for b in blooms[1:]:
        u = u.unionByName(b)
    params_ok = F.assert_true(
        (F.col("n_bits") == F.lit(int(n_bits)))
        & (F.col("n_hashes") == F.lit(int(n_hashes))),
        F.lit(
            f"merge_blooms: filter built with different (n_bits, n_hashes) "
            f"than ({n_bits}, {n_hashes}) — bloom bitmaps only merge with "
            "the parameters they were built with"
        ),
    )
    return (
        u.groupBy("word_idx")
        .agg(F.bit_or(F.when(params_ok.isNull(), F.col("word"))).alias("word"))
        .withColumn("n_bits", F.lit(int(n_bits)).cast("bigint"))
        .withColumn("n_hashes", F.lit(int(n_hashes)).cast("int"))
    )


def bloom_may_contain(
    df: DataFrame,
    bloom: DataFrame,
    value_col: str,
    n_bits: int,
    n_hashes: int,
    out_col: str = "may_contain",
    impl: str = "md5",
) -> DataFrame:
    """Annotate ``df`` with ``out_col`` (boolean, never NULL):

    - ``false`` → DEFINITELY not in the built set (no false negatives —
      the construction guarantee pytest pins as a property, not a
      sample), so the caller may skip any downstream existence join;
    - ``true`` → in the set OR a false positive at the sized rate.

    Plan: distinct probe values → explode positions → join the word
    table on ``word_idx`` (broadcast — ceil(n_bits/63) rows of 16 bytes)
    → ``bool_and`` per value → null-safe join back onto ``df``. A probe
    position whose word row is absent was never set by any build key.

    NULL probe values get ``false``: NULL has no identity, is never
    inserted by :func:`build_bloom`, and the frontier contract
    (operators/urls.py — NULL canonicals never collapse) wants them
    treated as trivially novel.

    ``n_bits``/``n_hashes``/``impl`` must match the build — stored
    parameters are asserted in-plan on every word row consumed."""
    _validate_params(n_bits, n_hashes)
    if out_col in df.columns:
        raise ValueError(f"bloom_may_contain: column {out_col!r} already exists")
    params_ok = F.assert_true(
        (F.col("n_bits") == F.lit(int(n_bits)))
        & (F.col("n_hashes") == F.lit(int(n_hashes))),
        F.lit(
            f"bloom_may_contain: filter built with different (n_bits, "
            f"n_hashes) than ({n_bits}, {n_hashes})"
        ),
    )
    words = F.broadcast(
        bloom.select(
            "word_idx", F.when(params_ok.isNull(), F.col("word")).alias("word")
        )
    )
    probes = _word_rows(
        df.select(F.col(value_col).alias("_v")).distinct(),
        "_v",
        n_bits,
        n_hashes,
        impl,
        carry=("_v",),
    )
    verdicts = (
        probes.join(words, "word_idx", "left")
        .groupBy("_v")
        .agg(
            F.bool_and(
                F.col("word").isNotNull()
                & (F.col("word").bitwiseAND(F.col("_mask")) != 0)
            ).alias("_may")
        )
    )
    out = df.join(
        verdicts, on=F.col(value_col).eqNullSafe(F.col("_v")), how="left"
    )
    return out.select(
        *df.columns, F.coalesce(F.col("_may"), F.lit(False)).alias(out_col)
    )

