"""Readers.

Replaces the reference's object-store mounts + inferred-schema JSON reads
(reference ``ETL-script/Business_ETL.py:21-29,46-53``) with plain paths and
explicit schemas. Corrupt rows are captured in ``_corrupt_record`` instead of
poisoning inference (PERMISSIVE mode), so one bad line in a 100 TB ingest
doesn't fail the job or silently widen a column to string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import TESTDATA_TABLES

CORRUPT_COL = "_corrupt_record"


def read_json_lines(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Read a JSON-lines folder/file/glob.

    With an explicit ``schema`` (the production path):

    - ``keep_corrupt=True``: PERMISSIVE mode, unparseable lines captured
      in a ``_corrupt_record`` column for quarantine/audit pipelines.
      NB per Spark's documented contract, a query projecting ONLY the
      corrupt column (e.g. ``filter(corrupt).count()``) must cache the
      parsed frame first.
    - ``keep_corrupt=False`` (default): DROPMALFORMED mode — corrupt rows
      are dropped by the READER itself. This is deliberate: the
      filter-on-corrupt-column formulation breaks under column pruning
      (Spark forbids queries referencing ONLY the internal corrupt
      column, so a plain ``count()`` on the result would raise
      UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN unless the
      frame is cached first); DROPMALFORMED has no such footgun and
      skips the corrupt-column bookkeeping entirely.

    ``schema=None`` falls back to inference (dev mode — costs an extra
    sampling scan; never on the 100 TB path) with the same corrupt-row
    contract: dropped unless ``keep_corrupt``.
    """
    if schema is None:
        reader = spark.read
        if not keep_corrupt:
            reader = reader.option("mode", "DROPMALFORMED")
        df = reader.json(path)
        if keep_corrupt or CORRUPT_COL not in df.columns:
            return df
        # DROPMALFORMED drops the rows, but inference may still have put
        # the corrupt column into the sampled schema — remove the husk
        return df.drop(CORRUPT_COL)
    if not keep_corrupt:
        return spark.read.schema(schema).option("mode", "DROPMALFORMED").json(path)
    full = schema
    if CORRUPT_COL not in schema.fieldNames():
        full = T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)])
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def load_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver testdata table from ``sf_dir`` (see TESTDATA.md)."""
    return {name: spark.read.parquet(f"{sf_dir}/{name}.parquet") for name in TESTDATA_TABLES}
