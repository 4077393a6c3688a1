"""End-to-end Yelp pipeline orchestration — the engine's equivalent of the
reference's whole deployment: the three domain ETL notebooks + the unified
join job + the graph load, as one callable API.

Reference topology (``README.md:140-152`` job DAG; ``lambda/
trigeer_ETL_Pipeline.py`` trigger): Business ETL ∥ Review ETL ∥ User ETL →
UnifiedAnalytics; domains append, unified rebuilds; Glue crawler refreshes
the catalog; CSV exports feed Neo4j. Here:

- ``run_batch``   — one batch pass raw JSON -> processed parquet ->
  unified -> (optional) graph tables. The three domain loads run
  concurrently, as the reference DAG and ``run_streaming`` do; each load's
  jobs carry the caller's job group, description and tags. The unified
  gate is unchanged: it rebuilds once all three loads have finished and
  all three tables exist. Domains use the idempotent append
  writer (re-running a batch is a no-op); unified is a plain overwrite
  rebuild (Spark deletes, then writes — a failed rebuild leaves the
  unified table missing until the next run rebuilds it).
- ``run_streaming`` — the Lambda-trigger replacement: per-domain file
  streams drain whatever is in the landing folders (Trigger.AvailableNow),
  then the unified table rebuilds once, mirroring the reference's
  "unified depends on all three domains" gate.
- Processed tables register in the Spark catalog (the Glue/Athena
  replacement) so ``spark.sql("SELECT ... FROM yelp_unified")`` works.

Both paths are driven by one per-domain table, ``DOMAINS`` (raw schema,
ETL, partition column), so batch and streaming write the same schema and
layout. Scale: each domain pipeline is one lazy plan ending in a
partitioned write; review output partitions by year(date) and business
by state (SURVEY.md §1.4) so downstream filters prune partitions.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from .operators.business import business_etl
from .operators.graph import build_edges, build_vertices
from .operators.review import review_etl
from .operators.unified import unified_analytics
from .operators.user import user_etl, user_friend_edges
from .schemas import BUSINESS_RAW_SCHEMA, REVIEW_RAW_SCHEMA, USER_RAW_SCHEMA
from .sources.readers import read_json_lines
from .sources.writers import _exists, write_append_idempotent, write_overwrite
from .streaming.pipeline import stream_domain_etl


@dataclass
class YelpPaths:
    business_raw: str
    review_raw: str
    user_raw: str
    out_dir: str

    @property
    def business_out(self) -> str:
        return f"{self.out_dir}/business_processed"

    @property
    def review_out(self) -> str:
        return f"{self.out_dir}/review_processed"

    @property
    def user_out(self) -> str:
        return f"{self.out_dir}/user_processed"

    @property
    def unified_out(self) -> str:
        return f"{self.out_dir}/unified_analytics"


DOMAIN_KEYS = {
    "business": ["business_id", "category"],
    "review": ["review_id"],
    "user": ["user_id", "friend"],
}


class Domain(NamedTuple):
    """One domain table: ``etl(raw, as_of)`` maps the raw JSON frame to
    the processed rows, written partitioned by ``partition_col``."""

    name: str
    raw_schema: T.StructType
    etl: Callable[[DataFrame, str | None], DataFrame]
    partition_col: str | None

    @property
    def partition_by(self) -> list[str] | None:
        return [self.partition_col] if self.partition_col else None

    def raw_path(self, paths: YelpPaths) -> str:
        return getattr(paths, f"{self.name}_raw")

    def out_path(self, paths: YelpPaths) -> str:
        return getattr(paths, f"{self.name}_out")

    def table_schema(self, etl: DataFrame) -> T.StructType:
        """The schema a read of the table written from ``etl`` gives: the
        partition column moves last, where Spark lists it."""
        return T.StructType(
            [f for f in etl.schema if f.name != self.partition_col]
            + [f for f in etl.schema if f.name == self.partition_col]
        )


def _review_etl(raw: DataFrame, as_of: str | None) -> DataFrame:
    # review_year is derived and kept in the schema: it is the partition column
    return review_etl(raw).withColumn("review_year", F.year("date"))


#: In the order ``run_batch`` reports load failures: business, review, user.
DOMAINS = (
    Domain("business", BUSINESS_RAW_SCHEMA, lambda raw, as_of: business_etl(raw), "state"),
    Domain("review", REVIEW_RAW_SCHEMA, _review_etl, "review_year"),
    Domain("user", USER_RAW_SCHEMA, lambda raw, as_of: user_etl(raw, as_of=as_of), None),
)


def run_batch(
    spark: SparkSession,
    paths: YelpPaths,
    as_of: str | None = "2026-01-01 00:00:00",
    build_graph: bool = False,
) -> dict[str, DataFrame]:
    """One batch pass over the raw JSON folders. Returns the output tables,
    each registered as a ``yelp_<name>`` temp view.

    The three domain loads (read, ETL, idempotent append) run concurrently,
    one thread each, with the caller's job group, description and tags;
    unified rebuilds after all three have finished.

    Idempotent: re-running with the same inputs appends nothing (domain
    writers anti-join on primary keys) and rebuilds unified to the same
    state.

    Failure: a failed load does not stop the others. Once every load has
    finished, the first failure in ``DOMAINS`` order is raised, with each
    other failure attached to it as a note, and unified is not rebuilt.
    The domains that loaded keep their rows; since the loads are
    idempotent, re-running after the cause is fixed completes the missing
    domain and rebuilds unified.
    """
    def load(d: Domain) -> T.StructType:
        raw = read_json_lines(spark, d.raw_path(paths), d.raw_schema)
        etl = d.etl(raw, as_of)
        write_append_idempotent(
            etl, d.out_path(paths), keys=DOMAIN_KEYS[d.name], partition_by=d.partition_by,
        )
        return d.table_schema(etl)

    # One wrap per submission: each clones the caller's local properties
    # (job group, description, tags) for its own thread, so the threads
    # never share the one Properties object Spark sets the execution id on.
    with ThreadPoolExecutor(len(DOMAINS)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(load), d) for d in DOMAINS]
    failed = [(d.name, e) for d, f in zip(DOMAINS, futures) if (e := f.exception()) is not None]
    if failed:
        (_, first), *rest = failed
        for name, e in rest:
            first.add_note(f"the {name} load also failed: {type(e).__name__}: {e}")
        raise first
    return _rebuild_unified(spark, paths, build_graph, [f.result() for f in futures])


def run_streaming(
    spark: SparkSession,
    paths: YelpPaths,
    checkpoint_dir: str,
    as_of: str | None = "2026-01-01 00:00:00",
    build_graph: bool = False,
) -> dict[str, DataFrame]:
    """Drain the three domain landing folders via Structured Streaming
    (exactly-once per file), then rebuild unified — the reference's
    S3-event -> Lambda -> job-DAG path without the Lambda.

    The streams append into the same domain tables as ``run_batch``, with
    the same ETL and partition layout from ``DOMAINS``."""
    streams = [
        stream_domain_etl(
            spark, d.raw_path(paths), d.raw_schema, partial(d.etl, as_of=as_of),
            d.out_path(paths), f"{checkpoint_dir}/{d.name}", DOMAIN_KEYS[d.name],
            partition_by=d.partition_by,
        )
        for d in DOMAINS
    ]
    for q in streams:
        q.awaitTermination()
    # the ETL over an empty raw frame: analysis only, no job
    schemas = [
        d.table_schema(d.etl(spark.createDataFrame([], d.raw_schema), as_of))
        for d in DOMAINS
    ]
    return _rebuild_unified(spark, paths, build_graph, schemas)


def _rebuild_unified(
    spark: SparkSession, paths: YelpPaths, build_graph: bool, schemas: list[T.StructType]
) -> dict[str, DataFrame]:
    # The reference's job DAG gates UnifiedAnalytics on ALL THREE domain
    # tasks having produced data (README.md:150,215: 'Only when all three
    # domains have data will the UnifiedAnalytics task execute'). Mirror
    # that: with any domain still missing, return what exists and skip the
    # unified rebuild.
    # Every read names its schema (``schemas``, in ``DOMAINS`` order): an
    # inferring read runs a schema job outside any SQL execution, which
    # carries none of the session's tags.
    out: dict[str, DataFrame] = {
        d.name: spark.read.schema(s).parquet(d.out_path(paths))
        for d, s in zip(DOMAINS, schemas)
        if _exists(spark, d.out_path(paths))
    }
    if len(out) == len(DOMAINS):
        biz_t, rev_t, usr_t = out["business"], out["review"], out["user"]
        unified = unified_analytics(rev_t, usr_t, biz_t)
        write_overwrite(unified, paths.unified_out)
        out["unified"] = spark.read.schema(unified.schema).parquet(paths.unified_out)
        if build_graph:
            out["vertices"] = build_vertices(biz_t, rev_t, usr_t)
            out["edges"] = build_edges(biz_t, rev_t, usr_t, user_friend_edges(usr_t))
    for name, df in out.items():
        df.createOrReplaceTempView(f"yelp_{name}")
    return out
