"""Writers.

The reference's write discipline (reference ``README.md:217-223``): domain
tables are *append*-mode (``ETL-script/Business_ETL.py:159`` et al.), the
unified table is *overwrite* (``join/unified_data_analytics.py:56``). The
reference's append is not idempotent — a re-delivered S3 event duplicates
rows. This engine's append writer dedups against existing primary keys via a
left-anti join (a deliberate, documented improvement; SURVEY.md §7).

Scale notes: partitioned writes enable partition pruning downstream;
``partitionOverwriteMode=dynamic`` (set in the session factory) makes
partitioned overwrites replace only touched partitions. The anti-join reads
only the key column of the existing table (column-pruned parquet scan), so
idempotent append into an existing table at 100 TB costs one key-scan + the
dedup shuffle + one rebalance shuffle, not a rewrite; a first write has no
key-scan, and an unpartitioned one no rebalance.

Write layout (``_write_table``, shared by every writer): a partitioned write
is rebalanced by its partition columns, so AQE sizes the write tasks and a
write adds about ``partition values × ⌈bytes / advisory size⌉`` files
(``spark.sql.adaptive.advisoryPartitionSizeInBytes``, 64 MB by default):
one file per partition value at small scale, a hot value split at the
advisory size (``OptimizeSkewInRebalancePartitions``). An unpartitioned
write keeps its upstream tasks (file-scan splits, or a final shuffle that
AQE coalesces). The exception is ``write_append_idempotent`` into an
existing target: it writes off a persisted anti-join, which keeps all
``spark.sql.shuffle.partitions`` while
``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` is off
(Spark's default), so that unpartitioned append gets a plain REBALANCE. A
first write caches nothing, so AQE coalesces its dedup shuffle like any
other. Each rebalance costs one extra shuffle-map stage.

Stored-table protocol (every module that reads a stored table back goes
through these helpers; ``_filesystem`` is the one place a path's Hadoop
``FileSystem`` is resolved, so any configured scheme works, not only local
paths):

- *Existence.* ``_exists`` asks the filesystem (a metadata call; a read
  attempt on a missing path would work too, but logs a handled-exception
  stack trace). The pipeline's unified-rebuild gate, the streams' stores
  and the rollups use it.
- *Crashed swaps.* A writer asks ``_recover_stale_swap`` instead, which
  checks the primary and its swap backups in one pass: a primary missing
  next to a backup is a crashed merge or compaction and raises, rather
  than letting a first write mask the lost table; a backup next to a
  primary is a finished swap's leftover and is deleted.
- *Typed read-back.* ``_read_target`` reads a table back for merging with
  its partition columns typed as the writer's frame types them. Spark's
  default partition discovery infers a type from directory names, so a
  string value ``'01'`` reads back as int 1, collides with ``'1'`` and is
  re-written as ``g=1``; a numeric-looking store meeting a group ``'ab'``
  then fails the cast. The read passes a schema instead: field names and
  data-column types from the table itself (a column missing on either
  side still fails the merge), partition-column types from the caller, and
  Spark casts each raw directory string to that type without inference
  (SPARK-26188). Switching partition type inference off in the session
  conf would do the same, but every other read on the session during that
  window would lose inference too.
- *Partition-scoped read.* ``_in_partitions`` (``merge_upsert``'s rewrite
  slice, the rollups' stored rows) filters on ``array_contains`` of a scalar
  subquery over the wanted partition values, NULL matching NULL. Spark puts
  it in the scan's ``PartitionFilters`` and reads only those partitions'
  files at any number of values; a null-safe join is not pruned, and a
  literal ``IN`` list costs one JVM call per value to build.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, Observation, SparkSession

#: Directory name Spark/Hive use for a NULL partition value.
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"

def _escape_partition_value(spark: SparkSession, v) -> str:
    """Directory-name form of one partition value, exactly as Spark wrote it.

    Python-side values must first be rendered the way SPARK renders them —
    str() alone diverges: None -> Spark's __HIVE_DEFAULT_PARTITION__ (not
    'None'), booleans -> 'true'/'false' (not 'True'/'False'); dates and
    datetimes str() to the ISO forms Spark writes. Then Spark/Hive
    percent-escape special characters in partition directory names
    (':' -> %3A etc. — ExternalCatalogUtils.escapePathName); building the
    path with a raw f"{c}={v}" targets a nonexistent directory for such
    values, silently leaving stale files behind. Delegate to the SAME JVM
    routine the writer used, so the round-trip is exact by construction.
    """
    if v is None:
        # Spark writes the sentinel literally (it contains no specials).
        return HIVE_DEFAULT_PARTITION
    if isinstance(v, bool):
        rendered = "true" if v else "false"
    elif isinstance(v, _dt.datetime):
        # Spark's timestampToString trims trailing zeros from the
        # fractional-seconds part ('.123000' -> '.123', '.000000' -> '');
        # Python isoformat pads to 6 digits — normalize or the
        # emptied-partition delete targets a directory that doesn't exist.
        rendered = v.isoformat(sep=" ")
        if "." in rendered:
            rendered = rendered.rstrip("0").rstrip(".")
    elif isinstance(v, _dt.date):
        rendered = v.isoformat()
    else:
        rendered = str(v)
    return spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(
        rendered
    )


def _filesystem(spark: SparkSession, path: str):
    """``(fs, hpath)``: the Hadoop ``FileSystem`` holding ``path`` and the
    path as a Hadoop ``Path`` (module notes)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _exists(spark: SparkSession, path: str) -> bool:
    """Whether a stored table (or any file) exists at ``path``."""
    fs, hpath = _filesystem(spark, path)
    return bool(fs.exists(hpath))


def _read_target(spark: SparkSession, path: str, partition_types: dict) -> DataFrame:
    """Read a stored table back for merging, with the partition columns
    named in ``partition_types`` (col -> Spark DataType) typed as given
    rather than inferred from directory names (module notes)."""
    from pyspark.sql import types as T

    stored = spark.read.parquet(path)
    if not partition_types:
        return stored
    schema = T.StructType(
        [
            T.StructField(f.name, partition_types.get(f.name, f.dataType), f.nullable)
            for f in stored.schema
        ]
    )
    return spark.read.schema(schema).parquet(path)


def _in_partitions(frame: DataFrame, values: DataFrame, pcols: list[str]) -> DataFrame:
    """The rows of stored-table ``frame`` whose partition columns ``pcols``
    appear in ``values`` (a frame of partition values), NULL matching NULL
    (module notes)."""
    from pyspark.sql import functions as F

    wanted = values.select(F.collect_set(F.struct(*pcols))).scalar()
    return frame.filter(F.array_contains(wanted, F.struct(*pcols)))


#: staged-swap backup suffixes, one per swapping writer.
_BACKUP_SUFFIXES = ("__premerge", "__precompact")


def _swap_sibling(path: str, suffix: str) -> str:
    """The staging or backup directory of a staged swap of table ``path``:
    a sibling of the table, named from the path without its trailing
    ``/`` (``tbl/`` gives ``tbl__merging``, never ``tbl/__merging`` inside
    the table)."""
    return f"{path.rstrip('/')}{suffix}"


def _recover_stale_swap(fs, jvm, path: str) -> bool:
    """Detect a crashed directory swap BEFORE treating the target as absent
    or readable; return whether the target exists.

    The swap protocol (write staging -> rename primary to backup -> rename
    staging to primary -> delete backup) can crash in two observable
    states:

    - primary MISSING + backup present: mid-swap crash. The data lives
      under the backup (and possibly a complete new copy under staging).
      Creating a "new" table here would silently mask total data loss —
      raise loudly with recovery instructions instead.
    - primary present + backup present: crash between the second rename
      and the backup delete. The swap COMPLETED; the backup is a stale
      pre-swap copy — finish the protocol by deleting it.
    """
    primary_exists = fs.exists(jvm.org.apache.hadoop.fs.Path(path))
    for suffix in _BACKUP_SUFFIXES:
        backup = _swap_sibling(path, suffix)
        b_path = jvm.org.apache.hadoop.fs.Path(backup)
        if not fs.exists(b_path):
            continue
        if primary_exists:
            # completed swap, stale backup: finish the crashed protocol
            fs.delete(b_path, True)
        else:
            raise IOError(
                f"stale swap backup detected: {path} is missing but "
                f"{backup} exists — a directory swap crashed mid-way. "
                f"Restore it (rename {backup} back to {path}) before "
                "writing; refusing to create a fresh table over lost data"
            )
    return bool(primary_exists)


def _swap_directories(fs, jvm, path: str, staging: str, backup: str, op: str) -> None:
    """The shared staged-swap tail: primary -> backup, staging -> primary,
    delete backup; rollback on failure. Crash leaves either the old table,
    or the new table (with a stale backup the next writer cleans via
    _recover_stale_swap), or the old table under ``backup`` — never a half
    table."""
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    s_path = jvm.org.apache.hadoop.fs.Path(staging)
    b_path = jvm.org.apache.hadoop.fs.Path(backup)
    if not fs.rename(hpath, b_path):
        raise IOError(f"{op} swap failed: could not move {path} aside")
    if not fs.rename(s_path, hpath):
        if not fs.rename(b_path, hpath):  # roll back
            raise IOError(
                f"{op} swap failed AND rollback failed: original data is "
                f"intact under {backup}; restore it manually"
            )
        raise IOError(f"{op} swap failed: could not move {staging} into place")
    fs.delete(b_path, True)


def _write_table(
    df: DataFrame,
    path: str,
    mode: str,
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """The write side shared by every table writer: rebalance a partitioned
    write by its partition columns (module notes), sort within the write
    tasks, write parquet.

    The sort runs AFTER the rebalance shuffle (a sort before it would be
    scrambled by the shuffle) and leads with the partition columns: a
    partitioned write requires its input sorted by them, and Spark would
    otherwise add its own sort on top and discard ``sort_by`` — files
    would come out unsorted."""
    pcols = list(partition_by or [])
    out = df.hint("rebalance", *pcols) if pcols else df
    if sort_by:
        out = out.sortWithinPartitions(*pcols, *sort_by)
    out.write.mode(mode).options(**(options or {})).partitionBy(*pcols).parquet(path)


def write_overwrite(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
) -> None:
    """Full rebuild (reference ``join/unified_data_analytics.py:56``): a
    plain Spark overwrite, which deletes the old table and then writes the
    new one. It is not atomic — a write that fails leaves the table missing
    until the next successful rebuild.

    ``sort_by`` sorts within output partitions before writing so parquet
    row-group min/max stats become selective — point/range filters on the
    sort key skip row groups at scan time (SURVEY.md §4 'sorted-on-PK
    writes')."""
    _write_table(df, path, "overwrite", partition_by, sort_by)


def write_append_idempotent(
    df: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
) -> None:
    """Append only rows whose ``keys`` are not already present.

    Emulates MERGE-insert-if-absent (the reference gets this from Neo4j's
    ``MERGE``, ``neo4j_load/graph.cypher:24`` ff., but NOT from its parquet
    appends). New-batch-internal duplicates are also dropped.

    The anti-join uses NULL-SAFE key equality: nullable key components (e.g.
    the user table's ``friend`` column for friendless users) must still
    dedupe — a plain equi-anti-join would re-append NULL-keyed rows forever.

    Cost: a first write (no target yet) is the deduplicating shuffle and
    the write, with no cache and no emptiness probe. An append into an
    existing target adds the anti-join against its key column, a persist
    of its result with an emptiness probe, and one rebalance shuffle
    (module notes).
    """
    from functools import reduce

    from pyspark.sql import functions as F

    spark: SparkSession = df.sparkSession
    fresh = df.dropDuplicates(keys)
    # Appending nothing must not create table state: an empty write would
    # still materialize the directory, falsely signalling "this domain has
    # data" to consumers gating on table existence (pipeline.py's unified
    # DAG gate).
    fs, hpath = _filesystem(spark, path)
    if not _recover_stale_swap(fs, spark._jvm, path):
        # First write: nothing to anti-join against, so the dedup is written
        # directly and counted inside the write job. The directory was absent
        # on entry, so a write that counted no rows removes what it created.
        obs = Observation()
        _write_table(
            fresh.observe(obs, F.count(F.lit(1)).alias("rows")),
            path, "append", partition_by, sort_by,
        )
        if _observed_rows(obs) == 0 and fs.exists(hpath) and not fs.delete(hpath, True):
            raise IOError(f"write_append_idempotent: failed to remove empty {path}")
        return
    key_types = {c: df.schema[c].dataType for c in partition_by or [] if c in keys}
    existing_keys = (
        _read_target(spark, path, key_types)
        .select(*keys)
        .alias("_existing")
    )
    fresh_a = fresh.alias("_fresh")
    cond = reduce(
        lambda a, b: a & b,
        [fresh_a[k].eqNullSafe(existing_keys[k]) for k in keys],
    )
    fresh = fresh_a.join(existing_keys, on=cond, how="left_anti")
    # The anti-join is persisted so the emptiness probe and the write
    # execute it ONCE, not twice (it scans the whole existing key column —
    # at 100 TB recomputing it doubles the advertised cost).
    cached = fresh.persist()
    try:
        if cached.isEmpty():
            return
        out = cached if partition_by else cached.hint("rebalance")
        _write_table(out, path, "append", partition_by, sort_by)
    finally:
        cached.unpersist()


def _observed_rows(obs: Observation) -> int:
    """The ``rows`` count of an Observation attached to a write.

    Spark never runs the observed node of an empty partitioned write
    (pyspark 4.1.2): its metrics row is then empty, and ``Observation.get``
    fails converting it. No metrics row means no row reached the node: 0."""
    if obs._jo.getRow().length() == 0:
        return 0
    return obs.get["rows"]


def merge_upsert(
    df: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    dedup_order_by: list[str] | None = None,
) -> dict:
    """Keyed MERGE emulation on plain parquet: UPDATE matched keys, INSERT
    new ones — the full upsert the reference's Lambda-triggered rebuild
    implies (reference ``README.md:217-223`` re-runs the unified overwrite
    because parquet appends can't update; ``join/unified_data_analytics.py:
    46-56``) but scoped to touched partitions instead of the whole table.

    Plan (partitioned target):

    1. affected partitions = partitions holding a matched key (semi-join,
       key-column-pruned scan) ∪ partitions the source writes into. Collected
       to the driver — small-by-contract (a merge batch touches few
       partitions; the list is partition VALUES, never rows).
    2. rewrite set = (target rows in affected partitions, minus matched keys
       via null-safe anti-join) ∪ source. The slice is the partition-scoped
       read of the module notes, one plan at any affected-set size: only the
       affected partitions' files are read, and unaffected ones
       are never rewritten — at 100 TB the cost is the key scan plus the
       touched slice, not the table.
    3. dynamic partition overwrite writes exactly the partitions present in
       the rewrite set. Safe to read-and-overwrite in one job: dynamic mode
       deletes replaced partition files at COMMIT, after every scan task has
       finished (static mode clears the directory up front, hence the
       staging swap in the unpartitioned branch).
    4. partitions whose every row was matched and re-homed elsewhere (key
       changed partition value) end up absent from the rewrite set, so
       dynamic overwrite would leave their stale files behind — they are
       deleted explicitly from the collected affected-list.

    Source batches must be key-unique (multiple updates for one key is the
    ambiguity Delta's MERGE rejects); pass ``dedup_order_by`` for
    latest-wins resolution instead of the error. SOURCE partition values
    must be non-null (validated); a TARGET holding NULL partitions (other
    writers can produce them) still merges correctly — matched rows in the
    NULL partition are rewritten (null-safe slice) and an emptied NULL
    partition's ``__HIVE_DEFAULT_PARTITION__`` directory is deleted.

    Unpartitioned target: full rewrite through a staged directory swap
    (crash leaves either the old table, or the new table, or the old table
    under ``<path>__premerge`` — never a half table). On real deployments
    prefer a table format with atomic MERGE (Delta/Iceberg); this is the
    portable plain-parquet equivalent, and the jars are absent here.

    Returns ``{"created": bool, "affected_partitions": int,
    "emptied_partitions": int}``.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark: SparkSession = df.sparkSession
    pcols = list(partition_by or [])

    fresh = df
    if dedup_order_by:
        w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in dedup_order_by])
        fresh = (
            fresh.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
        )
    # the source batch feeds three actions (the checks, which also tell an
    # empty batch; key extraction; the rewrite union): persist once so an
    # expensive caller lineage (a CDC batch unioned with stored rows)
    # executes once
    fresh = fresh.persist()
    try:
        return _merge_upsert_body(
            spark, fresh, path, keys, pcols, partition_by, sort_by
        )
    finally:
        fresh.unpersist()


def _merge_upsert_body(
    spark: SparkSession,
    fresh: DataFrame,
    path: str,
    keys: list[str],
    pcols: list[str],
    partition_by: list[str] | None,
    sort_by: list[str] | None,
) -> dict:
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # One collect checks the whole source: per key, its row count and a
    # NULL flag per partition column, the worst key first (a duplicate,
    # else a NULL partition value). No key at all is an empty batch.
    worst = (
        fresh.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            *[F.max(F.col(c).isNull()).alias(f"_null_{c}") for c in pcols],
        )
        .orderBy(F.col("_n").desc(), *[F.col(f"_null_{c}").desc() for c in pcols])
        .limit(1)
        .collect()
    )
    # An empty batch merges nothing: no table creation, no partition scan,
    # no full rewrite of an unpartitioned target (streaming sinks routinely
    # deliver empty micro-batches on restart).
    if not worst:
        return {"created": False, "affected_partitions": 0, "emptied_partitions": 0}
    if worst[0]["_n"] > 1:
        raise ValueError(
            f"merge_upsert: source has multiple rows for key "
            f"{tuple(worst[0][k] for k in keys)}; pass dedup_order_by for latest-wins"
        )
    if any(worst[0][f"_null_{c}"] for c in pcols):
        raise ValueError("merge_upsert: null partition values are not mergeable")

    jvm = spark._jvm
    fs, _ = _filesystem(spark, path)
    if not _recover_stale_swap(fs, jvm, path):
        write_overwrite(fresh, path, partition_by=partition_by, sort_by=sort_by)
        return {"created": True, "affected_partitions": 0, "emptied_partitions": 0}

    tgt = _read_target(spark, path, {c: fresh.schema[c].dataType for c in pcols})
    # A source column typed unlike the stored one would leave files of two
    # types in one table (simpleString omits nullability, which may differ).
    stored = {f.name: f.dataType.simpleString() for f in tgt.schema}
    for f in fresh.schema:
        have, got = stored.get(f.name), f.dataType.simpleString()
        if have is not None and have != got:
            raise ValueError(
                f"merge_upsert: column {f.name!r} is {have} in {path} but {got} in the source"
            )
    src_keys = fresh.select(*keys).dropDuplicates(keys).alias("_src")

    def _key_cond(left):
        return reduce(lambda a, b: a & b, [left[k].eqNullSafe(src_keys[k]) for k in keys])

    if not pcols:
        tgt_a = tgt.alias("_tgt")
        out = tgt_a.join(src_keys, on=_key_cond(tgt_a), how="left_anti").unionByName(fresh)
        staging, backup = _swap_sibling(path, "__merging"), _swap_sibling(path, "__premerge")
        _write_table(out, staging, "overwrite", sort_by=sort_by)
        _swap_directories(fs, jvm, path, staging, backup, "merge")
        return {"created": False, "affected_partitions": 0, "emptied_partitions": 0}

    tgt_a = tgt.alias("_tgt")
    affected_rows = (
        tgt_a.join(src_keys, on=_key_cond(tgt_a), how="left_semi")
        .select(*pcols)
        .unionByName(fresh.select(*pcols))
        .dropDuplicates(pcols)
        .collect()
    )
    affected = {tuple(r[c] for c in pcols) for r in affected_rows}

    # typed as the source types them, but nullable: a target written by
    # other writers may hold a NULL partition
    values = spark.createDataFrame(
        list(affected), T.StructType([T.StructField(c, fresh.schema[c].dataType) for c in pcols])
    )
    tgt_slice = _in_partitions(tgt, values, pcols).alias("_tgt")
    kept = tgt_slice.join(src_keys, on=_key_cond(tgt_slice), how="left_anti")
    out = kept.unionByName(fresh).persist()
    try:
        written = {
            tuple(r[c] for c in pcols) for r in out.select(*pcols).dropDuplicates(pcols).collect()
        }
        # Dynamic partition overwrite is a CORRECTNESS requirement here, not
        # a tuning default: with the Spark-default static mode this overwrite
        # would delete EVERY partition of the target, not just the rewritten
        # ones. Set it on the writer itself rather than trusting the session
        # conf (the project session factory sets dynamic, but merge_upsert
        # must be safe from any session).
        _write_table(
            out, path, "overwrite", pcols, sort_by,
            options={"partitionOverwriteMode": "dynamic"},
        )
    finally:
        out.unpersist()
    emptied = affected - written
    for t in emptied:
        sub = "/".join(
            f"{c}={_escape_partition_value(spark, v)}" for c, v in zip(pcols, t)
        )
        dead = jvm.org.apache.hadoop.fs.Path(f"{path}/{sub}")
        if fs.exists(dead) and not fs.delete(dead, True):
            raise IOError(f"merge_upsert: failed to delete emptied partition {path}/{sub}")
    return {
        "created": False,
        "affected_partitions": len(affected),
        "emptied_partitions": len(emptied),
    }


def export_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """CSV export for external-system interop — the reference's
    parquet -> CSV -> Neo4j bridge (reference README.md:351-353,
    graph.cypher:5). The graph itself lives Spark-side now
    (operators.graph), so this exists purely for interop with external
    consumers; array/struct columns must be flattened first (CSV cannot
    carry them — the reference's flat-schema rule, README.md:160-162)."""
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    partition_by: list[str] | None = None,
    partition_types: dict | None = None,
) -> int:
    """Compact a parquet directory's small files (the operational follow-up
    to idempotent streaming appends and CDC merges, which produce one file
    set per micro-batch) into ~``target_mb`` files. Returns the planned
    file count (per partition-directory when partitioned).

    ``partition_by`` preserves a partitioned layout: rows are hash-
    clustered on the partition columns so each partition directory
    collapses to one file (a heavily-skewed single partition stays one
    task — acceptable for maintenance; split it manually if it exceeds
    executor memory). ``partition_types`` (col -> Spark DataType) types
    those partition columns on the read instead of inferring them from
    directory names — the typed read-back of the module notes, which guards
    the same '01'-reads-back-as-1 hazard for merge_upsert; pass it whenever
    partition values are strings that can look numeric.

    Staged rewrite: write to ``<path>__compacting``, then swap directories
    via filesystem renames so readers never observe a HALF-written table.
    NB this is not fully atomic on plain parquet: between the two renames
    the path briefly does not exist (a concurrent read fails path-not-found
    rather than seeing partial data), and if the rollback rename itself
    fails the primary copy survives under ``<path>__precompact`` (logged).
    On real deployments point callers at a table format with atomic commit
    (Delta/Iceberg OPTIMIZE / rewrite-data-files); plain-parquet
    directory-swap is the portable, crash-recoverable-but-not-atomic
    equivalent.
    """
    import math

    jvm = spark._jvm
    fs, hpath = _filesystem(spark, path)
    _recover_stale_swap(fs, jvm, path)
    total_bytes = fs.getContentSummary(hpath).getLength()
    n_files = max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))

    staging = _swap_sibling(path, "__compacting")
    backup = _swap_sibling(path, "__precompact")
    df = _read_target(spark, path, partition_types or {})
    if partition_by:
        writer = df.repartition(n_files, *partition_by).write.mode("overwrite").partitionBy(
            *partition_by
        )
    else:
        writer = df.repartition(n_files).write.mode("overwrite")
    writer.parquet(staging)
    _swap_directories(fs, jvm, path, staging, backup, "compaction")
    return n_files


def shard_assignment(key, n_shards: int, salt: str = "shard:"):
    """Deterministic shard id in [0, n_shards) from the portable md5
    hash of the key — layout-free (repartitioning the input can never
    move a document between shards) and engine-portable (the manifest
    twin recomputes it in DuckDB). Column-level so readers/auditors can
    re-derive membership without touching the written files."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    from ..operators.dedup import portable_hash

    if n_shards < 1:
        raise ValueError(f"shard_assignment: n_shards must be >= 1, got {n_shards}")
    c = key if isinstance(key, Column) else F.col(key)
    # NULL keys have no shard identity: the hash would be NULL, the
    # writer would emit a __HIVE_DEFAULT_PARTITION__ directory, and the
    # manifest's range() join would silently drop the group — documents
    # on disk that no manifest row accounts for, the exact silent loss
    # the manifest exists to make impossible. Raise in-plan instead
    # (merge_upsert's duplicate-key discipline).
    guard = F.assert_true(
        c.isNotNull(),
        F.lit("shard_assignment: NULL shard key — shard membership is a "
              "pure function of the key; drop or fill NULL keys first"),
    )
    return F.when(
        guard.isNull(),
        F.pmod(portable_hash(c.cast("string"), salt=salt), F.lit(int(n_shards))),
    )


def shard_manifest(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    token_col: str | None = None,
    salt: str = "shard:",
) -> DataFrame:
    """Per-shard accounting — the auditable contract of a shard export:
    ``(shard, n_docs, n_tokens, key_checksum)``. The checksum is the SUM
    of the portable md5 hash of every member key — order-insensitive and
    exactly re-derivable from the raw corpus OR from the written shard
    files, so 'did every document land in exactly the right shard,
    nothing lost, nothing duplicated?' is one aggregate + one equality,
    never a full-corpus diff. Empty shards appear with zero counts (a
    training loader enumerates [0, n_shards) — a silently missing
    manifest row reads as data loss)."""
    from pyspark.sql import functions as F

    from ..operators.dedup import portable_hash

    spark = df.sparkSession
    got = (
        df.groupBy(shard_assignment(key_col, n_shards, salt).alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum(F.col(token_col)).cast("bigint")
                if token_col
                else F.lit(None).cast("bigint")
            ).alias("n_tokens"),
            F.sum(
                portable_hash(F.col(key_col).cast("string"), salt="shardck:")
            ).alias("key_checksum"),
        )
    )
    allshards = spark.range(int(n_shards)).select(
        F.col("id").cast("int").alias("shard")
    )
    return allshards.join(got, "shard", "left").select(
        "shard",
        F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
        F.coalesce("n_tokens", F.lit(0) if token_col else F.lit(None).cast("bigint")).alias("n_tokens"),
        F.coalesce("key_checksum", F.lit(0)).alias("key_checksum"),
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int,
    order_by: list | None = None,
    token_col: str | None = None,
    salt: str = "shard:",
) -> DataFrame:
    """Export a training corpus as ``n_shards`` deterministic shard
    directories plus a manifest — the pipeline-tail sink a trainer
    consumes.

    Determinism contract (pinned in pytest): shard membership is a pure
    function of the key (``shard_assignment``), file content order
    within a shard follows ``order_by`` (default: the key — curriculum
    sorts plug in here), and re-running the export over the same corpus
    writes byte-equivalent shard contents regardless of input
    partitioning — the exactly-once discipline of the other writers at
    the corpus-export grain.

    Layout: ``path/shards/shard=K/`` parquet dirs (ONE file per shard:
    the frame repartitions ON the shard column into ``n_shards`` tasks,
    so each shard's rows live in exactly one task and partitionBy emits
    exactly one file per directory — hash collisions between shard ids
    may co-locate two shards in one task, which still writes one file
    into each of its directories) and ``path/manifest/`` (the
    :func:`shard_manifest` rows, including empty shards). Returns the
    manifest as read back from disk.

    At 100 TB: one hash repartition of the corpus (the unavoidable
    placement shuffle) + an in-task sort; the manifest is a partial-agg'd
    groupBy on the same assignment expression. Readers audit with one
    aggregate per side (manifest == re-derived manifest)."""
    from pyspark.sql import functions as F

    if "shard" in df.columns:
        raise ValueError("write_training_shards: column 'shard' already exists")
    # the key column is ALWAYS the final tiebreaker: a caller-supplied
    # curriculum sort (quality score, length) is rarely a total order,
    # and tied rows would otherwise keep shuffle-arrival order — breaking
    # the byte-equivalence contract across input layouts
    order = list(order_by) + [F.col(key_col)] if order_by is not None else [
        F.col(key_col)
    ]
    sharded = (
        df.withColumn("shard", shard_assignment(key_col, n_shards, salt))
        .repartition(int(n_shards), F.col("shard"))
        .sortWithinPartitions(F.col("shard"), *order)
    )
    sharded.write.mode("overwrite").partitionBy("shard").parquet(f"{path}/shards")
    manifest = shard_manifest(df, key_col, n_shards, token_col, salt)
    manifest.coalesce(1).write.mode("overwrite").parquet(f"{path}/manifest")
    return df.sparkSession.read.parquet(f"{path}/manifest")

