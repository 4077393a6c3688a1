"""Generic cleaning / validation operators.

Covers SURVEY.md §2.2 (F1-F4), §2.4 A1 (one-pass null profile), §2.6 D2
(uniqueness validation), and §2.2 P4 (join-conflict renaming, reference
``join/unified_data_analytics.py:23-41``).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def null_profile(df: DataFrame, columns: Iterable[str] | None = None) -> DataFrame:
    """Per-column null count in ONE pass (single partial+final hash agg).

    Reference computes this with a ``sum(when(isNull,1).otherwise(0))`` per
    column (``ETL-script/Review_ETL.py:57-63``, ``User_ETL.py:54-60``). Same
    expression here, but built over ``df.columns`` generically. At 100 TB this
    is a full scan but zero shuffle beyond the single-row final agg.
    """
    cols = list(columns) if columns is not None else df.columns
    # count(when(...)) not sum(when(...)): count is 0 over zero rows where
    # sum is NULL — an empty frame must profile as "no nulls", not as a
    # row of NULLs a caller's `== 0` check silently mishandles.
    return df.agg(
        *[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in cols]
    )


def duplicate_keys(df: DataFrame, keys: Iterable[str]) -> DataFrame:
    """Keys appearing more than once (reference
    ``test_cases/neo4j_test.cypher:2-5``). Returns (keys..., n) rows."""
    keys = list(keys)
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)


def assert_unique_keys(df: DataFrame, keys: Iterable[str]) -> None:
    """Raise if ``keys`` are not unique — D2 uniqueness constraint
    (reference ``neo4j_load/graph.cypher:11-19``)."""
    keys = list(keys)  # materialize once: a generator would be exhausted
    # by duplicate_keys, leaving the error message with an empty list
    dupes = duplicate_keys(df, keys).limit(1).count()
    if dupes:
        raise ValueError(f"duplicate keys found for {keys}")


def prefix_overlapping_columns(
    df: DataFrame, other_columns: Iterable[str], prefix: str, keep: Iterable[str] = ()
) -> DataFrame:
    """Rename ``df`` columns that collide with ``other_columns`` to
    ``<prefix><name>``, except join keys in ``keep``.

    The reference does this with driver-side set algebra + a rename loop
    (``join/unified_data_analytics.py:23-41``; rule ``README.md:188``).
    Metadata-only: no data-plane cost.
    """
    other = set(other_columns)
    keep = set(keep)
    mapping = {c: f"{prefix}{c}" for c in df.columns if c in other and c not in keep}
    # the rename must RESOLVE conflicts, never mint new ones: a prefixed
    # name colliding with an existing column of this frame (or with a
    # column of the other side) would reintroduce the exact ambiguity
    # this utility exists to remove — fail loudly instead.
    untouched = [c for c in df.columns if c not in mapping]
    for old, new in mapping.items():
        if new in untouched or new in mapping:
            raise ValueError(
                f"prefix_overlapping_columns: renaming {old!r} -> {new!r} "
                f"collides with an existing column of this frame; pick a "
                "different prefix"
            )
        if new in other:
            raise ValueError(
                f"prefix_overlapping_columns: renamed {old!r} -> {new!r} "
                f"still collides with the other side's columns; pick a "
                "different prefix"
            )
    return df.withColumnsRenamed(mapping)
