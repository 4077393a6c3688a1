"""Local replica of the driver's DuckDB-oracle comparison.

Runs a registered Spark query and its oracle SQL on the same sf dir and
compares row count, column names, and order-insensitive values (sorted by
all columns, floats rounded). Used by tests and by the dev loop to catch
cross-engine drift before the driver does.
"""

from __future__ import annotations

import math

import duckdb

from yelp_business_data_pipeline_spark.plans import QUERIES
from yelp_business_data_pipeline_spark.schemas import TESTDATA_TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    if v is None:
        return ("\x00null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", round(v, 9))
    if isinstance(v, int):
        return ("i", int(v))
    return ("s", str(v))


def _norm_rows(rows, col_order):
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(r[i]) for i in col_order))
    out.sort()
    return out


def compare(name: str, sf_dir: str, spark) -> tuple[bool, str]:
    return compare_frame(name, QUERIES[name].spark(spark, sf_dir), sf_dir)


def compare_frame(name: str, sdf, sf_dir: str) -> tuple[bool, str]:
    """``compare`` on ``sdf``, the already-built frame of query ``name``."""
    spec = QUERIES[name]
    s_cols = list(sdf.columns)
    s_rows = [tuple(r) for r in sdf.collect()]

    if spec.oracle is None:
        return (len(s_rows) >= 0, f"rows-only: {len(s_rows)} rows")

    con = duck_con(sf_dir)
    cur = con.execute(spec.oracle)
    d_cols = [c[0] for c in cur.description]
    d_rows = cur.fetchall()

    if sorted(s_cols) != sorted(d_cols):
        return (False, f"schema mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        return (False, f"row count mismatch: spark={len(s_rows)} duck={len(d_rows)}")

    s_order = [s_cols.index(c) for c in sorted(s_cols)]
    d_order = [d_cols.index(c) for c in sorted(d_cols)]
    sn = _norm_rows(s_rows, s_order)
    dn = _norm_rows(d_rows, d_order)
    if sn != dn:
        diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
        return (False, f"value mismatch ({len([1 for a, b in zip(sn, dn) if a != b])} rows), first: {diffs}")
    return (True, f"OK: {len(s_rows)} rows")
