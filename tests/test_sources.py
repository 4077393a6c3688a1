"""Readers and writers: corrupt-record handling, idempotent append,
overwrite, uniqueness validation."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from yelp_business_data_pipeline_spark.operators.cleaning import assert_unique_keys
from yelp_business_data_pipeline_spark.sources import (
    read_json_lines,
    write_append_idempotent,
    write_overwrite,
)

SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
)


def test_read_json_corrupt_rows_dropped(spark, tmp_path):
    p = tmp_path / "rows.json"
    p.write_text('{"id": 1, "v": "a"}\nTHIS IS NOT JSON\n{"id": 2, "v": "b"}')
    df = read_json_lines(spark, str(p), SCHEMA)
    assert sorted(r.id for r in df.collect()) == [1, 2]
    kept = read_json_lines(spark, str(p), SCHEMA, keep_corrupt=True)
    bad = kept.filter(kept["_corrupt_record"].isNotNull()).collect()
    assert len(bad) == 1 and "NOT JSON" in bad[0]._corrupt_record


def test_write_append_idempotent(spark, tmp_path):
    out = str(tmp_path / "t")
    df1 = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b")], ["id", "v"])
    write_append_idempotent(df1, out, keys=["id"])
    assert spark.read.parquet(out).count() == 2  # in-batch dup collapsed
    df2 = spark.createDataFrame([(2, "b"), (3, "c")], ["id", "v"])
    write_append_idempotent(df2, out, keys=["id"])
    got = spark.read.parquet(out)
    assert sorted(r.id for r in got.collect()) == [1, 2, 3]
    assert_unique_keys(got, ["id"])


def test_append_writes_one_file_per_partition_and_rerun_adds_none(spark, tmp_path):
    """The append rebalances by its partition column, so each partition
    directory gets one file, not one per shuffle partition (8 here)."""
    import glob
    import os

    out = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"v{i}", ("a", "b", "c")[i % 3]) for i in range(60)], ["id", "v", "p"]
    ).repartition(8)
    write_append_idempotent(df, out, keys=["id"], partition_by=["p"])
    files = sorted(glob.glob(f"{out}/*/*.parquet"))
    assert [os.path.basename(os.path.dirname(f)) for f in files] == ["p=a", "p=b", "p=c"]
    # re-running the same batch appends nothing: no file, no row
    write_append_idempotent(df, out, keys=["id"], partition_by=["p"])
    assert sorted(glob.glob(f"{out}/*/*.parquet")) == files
    assert spark.read.parquet(out).count() == 60


def test_append_sort_by_survives_rebalance(spark, tmp_path):
    """``sort_by`` orders the rows inside every written file: the sort runs
    after the rebalance shuffle, and a partitioned write keeps it."""
    import glob

    import pyarrow.parquet as pq

    out = str(tmp_path / "t")
    rows = [(i, (i * 7919) % 1000, ("a", "b", "c")[i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, ["id", "k", "p"]).repartition(8)
    for partition_by in (["p"], None):
        path = f"{out}_{bool(partition_by)}"
        write_append_idempotent(df, path, keys=["id"], partition_by=partition_by, sort_by=["k"])
        files = glob.glob(f"{path}/**/*.parquet", recursive=True)
        assert files
        for f in files:
            ks = pq.read_table(f, columns=["k"]).column("k").to_pylist()
            assert ks == sorted(ks), f
        assert spark.read.parquet(path).count() == 300


def _empty_batch(spark, tmp_path, source):
    """An input that yields no rows, built the ways an ETL batch gets there."""
    from pyspark.sql import functions as F

    if source == "static":
        return spark.createDataFrame([], SCHEMA)
    folder = tmp_path / "in"
    folder.mkdir()
    if source == "malformed":
        (folder / "a.json").write_text("{broken\nNOT JSON\n")
    elif source == "filtered":
        (folder / "a.json").write_text('{"id": 1, "v": "x"}\n{"id": 2, "v": "y"}\n')
    df = read_json_lines(spark, str(folder), SCHEMA)
    return df.filter(F.col("id") > 100) if source == "filtered" else df


@pytest.mark.parametrize("partition_by", [["v"], None], ids=["partitioned", "unpartitioned"])
@pytest.mark.parametrize("source", ["static", "empty_folder", "malformed", "filtered"])
def test_empty_first_append_leaves_no_directory(spark, tmp_path, source, partition_by):
    """A first write that appends no rows leaves no table behind: the
    directory the write created is removed, whether Spark ran the
    observed count (unpartitioned) or skipped it (partitioned)."""
    import os

    out = str(tmp_path / "t")
    write_append_idempotent(
        _empty_batch(spark, tmp_path, source), out, keys=["id"], partition_by=partition_by
    )
    assert not os.path.exists(out)


def test_first_append_caches_nothing(spark, tmp_path):
    """A first write has no target to anti-join, so it writes the dedup
    directly and leaves no entry in Spark's CacheManager."""
    # start from an empty CacheManager: earlier modules' frames are not
    # this writer's to count
    spark.catalog.clearCache()
    out = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b")], ["id", "v"])
    write_append_idempotent(df, out, keys=["id"], partition_by=["v"])
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert spark.read.parquet(out).count() == 2


def test_write_overwrite(spark, tmp_path):
    out = str(tmp_path / "t")
    write_overwrite(spark.createDataFrame([(1, "a")], ["id", "v"]), out)
    write_overwrite(spark.createDataFrame([(9, "z")], ["id", "v"]), out)
    rows = spark.read.parquet(out).collect()
    assert [(r.id, r.v) for r in rows] == [(9, "z")]


def test_assert_unique_raises(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b")], ["id", "v"])
    with pytest.raises(ValueError):
        assert_unique_keys(df, ["id"])


def test_export_csv_roundtrip(spark, tmp_path):
    from yelp_business_data_pipeline_spark.sources.writers import export_csv

    out = str(tmp_path / "csv")
    df = spark.createDataFrame([(1, "a", 2.5), (2, "b,with,commas", 3.5)], ["id", "s", "x"])
    export_csv(df, out)
    back = spark.read.option("header", "true").csv(out)
    rows = sorted((r.id, r.s, r.x) for r in back.collect())
    assert rows == [("1", "a", "2.5"), ("2", "b,with,commas", "3.5")]


def test_compact_parquet(spark, tmp_path):
    from yelp_business_data_pipeline_spark.sources.writers import compact_parquet

    out = str(tmp_path / "t")
    # simulate many micro-batch appends -> many small files
    for i in range(6):
        spark.createDataFrame([(i * 10 + j, f"v{i}") for j in range(5)], ["id", "v"]).coalesce(
            2
        ).write.mode("append").parquet(out)
    import glob

    before = len(glob.glob(f"{out}/part-*.parquet"))
    rows_before = sorted(r.id for r in spark.read.parquet(out).collect())
    n = compact_parquet(spark, out, target_mb=128)
    after = len(glob.glob(f"{out}/part-*.parquet"))
    assert n == 1 and after == 1 and after < before
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == rows_before



def test_compact_parquet_path_with_trailing_slash(spark, tmp_path):
    """Compacting ``tbl/`` stages and backs up beside the table, as for
    ``tbl``: the same rows, and no ``__compacting`` or ``__precompact``
    directory left inside the table or beside it."""
    import os

    from yelp_business_data_pipeline_spark.sources.writers import compact_parquet

    def rows(path):
        return sorted((r.id, r.v) for r in spark.read.parquet(path).collect())

    plain, slashed = str(tmp_path / "plain"), str(tmp_path / "tbl") + "/"
    for out in (plain, slashed):
        for i in range(3):
            spark.createDataFrame([(i * 10 + j, f"v{i}") for j in range(5)], ["id", "v"]).coalesce(
                2
            ).write.mode("append").parquet(out)
        assert compact_parquet(spark, out, target_mb=128) == 1
    assert rows(slashed) == rows(plain) and len(rows(plain)) == 15
    assert sorted(os.listdir(tmp_path)) == ["plain", "tbl"]
    assert not any(d.startswith("__") for d in os.listdir(slashed))

def test_schema_evolution_on_append(spark, tmp_path):
    """Appended batches may gain columns over time (the reference re-infers
    schemas per batch, silently drifting; this engine reads evolved tables
    explicitly with mergeSchema and fills missing columns with nulls)."""
    out = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], ["id", "v"]).write.mode("append").parquet(out)
    spark.createDataFrame([(2, "b", 9.5)], ["id", "v", "score"]).write.mode("append").parquet(out)
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    rows = {r.id: r for r in merged.collect()}
    assert set(merged.columns) == {"id", "v", "score"}
    assert rows[1].score is None and rows[2].score == 9.5


def test_orc_roundtrip_with_predicate_pushdown(spark, tmp_path):
    """ORC is the other columnar format Spark speaks natively; the engine's
    readers are format-agnostic DataFrame reads, so a user with ORC inputs
    (common on Hive-era lakes) needs no conversion step. Round-trips values
    and keeps filter pushdown in the scan."""
    out = str(tmp_path / "orc_t")
    df = spark.range(0, 1000).selectExpr("id", "CAST(id % 7 AS INT) AS k", "id * 1.5 AS v")
    df.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert back.count() == 1000
    got = back.filter("k = 3").agg({"v": "sum"}).first()[0]
    want = df.filter("k = 3").agg({"v": "sum"}).first()[0]
    assert got == want
    plan = back.filter("k = 3")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(k), EqualTo(k,3)]" in plan


def test_corrupt_dropping_reader_survives_count_and_inference_drops(spark, tmp_path):
    """Regression: the filter-on-corrupt-column form crashed count() under
    column pruning; DROPMALFORMED must count cleanly, and inference mode
    must honor keep_corrupt=False."""
    from pyspark.sql import types as T

    from yelp_business_data_pipeline_spark.sources.readers import read_json_lines

    p = tmp_path / "in"
    p.mkdir()
    (p / "a.json").write_text('{"id": 1, "v": "x"}\n{broken\n{"id": 2, "v": "y"}\n')
    schema = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.StringType())])
    df = read_json_lines(spark, str(p), schema)
    assert df.count() == 2  # the old formulation raised here
    assert "_corrupt_record" not in df.columns
    inferred = read_json_lines(spark, str(p), None)
    assert inferred.count() == 2
    assert "_corrupt_record" not in inferred.columns
    # quarantine queries on the PERMISSIVE capture path need the cache
    # step Spark's own docs prescribe (corrupt-only projections are
    # disallowed on the raw scan)
    kept = read_json_lines(spark, str(p), schema, keep_corrupt=True).cache()
    try:
        assert kept.filter("_corrupt_record IS NOT NULL").count() == 1
    finally:
        kept.unpersist()


# ---------------------------------------------------------------------------
# training shard export (writers.shard_assignment / shard_manifest /
# write_training_shards)
# ---------------------------------------------------------------------------


def _shard_py(key, n, salt="shard:"):
    import hashlib

    return int(hashlib.md5((salt + str(key)).encode()).hexdigest()[:8], 16) % n


def _docs(spark, n=60):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text body "), F.col("id")).alias("text"),
        (F.col("id") % 7 + 1).alias("tok"),
    )


def test_shard_assignment_matches_python_twin(spark):
    from yelp_business_data_pipeline_spark.sources.writers import shard_assignment

    d = _docs(spark).withColumn("s", shard_assignment("doc_id", 8))
    for r in d.collect():
        assert r["s"] == _shard_py(r["doc_id"], 8)


def test_write_training_shards_roundtrip_and_audit(spark, tmp_path):
    import glob

    from pyspark.sql import functions as F

    from yelp_business_data_pipeline_spark.sources.writers import (
        shard_manifest,
        write_training_shards,
    )

    d = _docs(spark)
    path = str(tmp_path / "export")
    manifest = write_training_shards(
        d, path, "doc_id", n_shards=8, token_col="tok"
    )
    # one file per shard directory
    for sd in glob.glob(f"{path}/shards/shard=*"):
        files = [f for f in glob.glob(f"{sd}/*.parquet")]
        assert len(files) == 1, sd
    # every row lands exactly once, in its assigned shard
    back = spark.read.parquet(f"{path}/shards")
    assert back.count() == 60
    assert back.select("doc_id").distinct().count() == 60
    for r in back.select("doc_id", "shard").collect():
        assert r["shard"] == _shard_py(r["doc_id"], 8)
    # THE audit contract: manifest written == manifest re-derived from
    # the shard files == manifest re-derived from the source corpus
    from_files = shard_manifest(
        back.drop("shard"), "doc_id", 8, token_col="tok"
    )
    from_source = shard_manifest(d, "doc_id", 8, token_col="tok")
    a = sorted(map(tuple, manifest.collect()))
    assert a == sorted(map(tuple, from_files.collect()))
    assert a == sorted(map(tuple, from_source.collect()))
    # manifest totals reconcile with the corpus
    tot = manifest.agg(F.sum("n_docs"), F.sum("n_tokens")).first()
    assert (tot[0], tot[1]) == (60, sum((i % 7) + 1 for i in range(60)))


def test_write_training_shards_is_deterministic_across_layouts(spark, tmp_path):
    from yelp_business_data_pipeline_spark.sources.writers import (
        write_training_shards,
    )

    d = _docs(spark)
    p1, p2 = str(tmp_path / "e1"), str(tmp_path / "e2")
    write_training_shards(d.repartition(13), p1, "doc_id", n_shards=4)
    write_training_shards(d.coalesce(1), p2, "doc_id", n_shards=4)
    for s in range(4):
        a = [tuple(r) for r in spark.read.parquet(f"{p1}/shards/shard={s}").collect()]
        b = [tuple(r) for r in spark.read.parquet(f"{p2}/shards/shard={s}").collect()]
        assert a == b, f"shard {s} content/order differs across input layouts"
        # within-shard order follows the default order_by (the key)
        assert a == sorted(a, key=lambda t: t[0])


def test_shard_manifest_materializes_empty_shards(spark):
    from yelp_business_data_pipeline_spark.sources.writers import shard_manifest

    d = _docs(spark, n=3)  # 3 docs over 16 shards: most shards empty
    rows = {r["shard"]: r for r in shard_manifest(d, "doc_id", 16).collect()}
    assert set(rows) == set(range(16))
    empties = [s for s, r in rows.items() if r["n_docs"] == 0]
    assert len(empties) >= 13
    for s in empties:
        assert rows[s]["key_checksum"] == 0 and rows[s]["n_tokens"] is None


def test_training_shards_guards(spark):
    from pyspark.sql import functions as F

    from yelp_business_data_pipeline_spark.sources.writers import (
        shard_assignment,
        write_training_shards,
    )

    with pytest.raises(ValueError, match="n_shards"):
        shard_assignment("doc_id", 0)
    with pytest.raises(ValueError, match="already exists"):
        write_training_shards(
            _docs(spark).withColumn("shard", F.lit(1)), "/tmp/never", "doc_id", 4
        )


def test_training_shards_manifest_panel_matches_duckdb_twin(spark, sf_dir):
    from tests.oracle_harness import duck_con
    from yelp_business_data_pipeline_spark.plans import QUERIES
    from yelp_business_data_pipeline_spark.plans.extensions import (
        TRAINING_SHARDS_ORACLE,
    )

    srows = [
        tuple(r)
        for r in QUERIES["training_shards_manifest"].spark(spark, sf_dir).collect()
    ]
    drows = [
        tuple(r)
        for r in duck_con(sf_dir).execute(TRAINING_SHARDS_ORACLE).fetchall()
    ]
    assert srows == drows
    # promoted into the 50-slot gate in the r10 rotation (swap_gate_slot)
    names = list(QUERIES)
    assert names.index("training_shards_manifest") < 50
    assert QUERIES["training_shards_manifest"].oracle == TRAINING_SHARDS_ORACLE


def test_shard_null_key_raises_in_plan(spark):
    """NULL keys have no shard identity — silent __HIVE_DEFAULT_PARTITION__
    docs that no manifest row accounts for are exactly what the manifest
    exists to prevent. Loud in-plan raise instead."""
    from pyspark.sql import functions as F

    from yelp_business_data_pipeline_spark.sources.writers import shard_manifest

    d = spark.createDataFrame([(1, 5), (None, 3)], "doc_id long, tok long")
    with pytest.raises(Exception, match="NULL shard key"):
        shard_manifest(d, "doc_id", 4, token_col="tok").collect()


def test_shard_curriculum_ties_still_byte_equivalent(spark, tmp_path):
    """A non-total curriculum order (all-tied quality score) must still
    write identical shard content order across input layouts — the key
    is always the final tiebreaker."""
    from pyspark.sql import functions as F

    from yelp_business_data_pipeline_spark.sources.writers import (
        write_training_shards,
    )

    d = _docs(spark).withColumn("quality", F.lit(1.0))  # every row ties
    p1, p2 = str(tmp_path / "e1"), str(tmp_path / "e2")
    write_training_shards(
        d.repartition(11), p1, "doc_id", 4, order_by=[F.col("quality").desc()]
    )
    write_training_shards(
        d.coalesce(1), p2, "doc_id", 4, order_by=[F.col("quality").desc()]
    )
    for s in range(4):
        a = [tuple(r) for r in spark.read.parquet(f"{p1}/shards/shard={s}").collect()]
        b = [tuple(r) for r in spark.read.parquet(f"{p2}/shards/shard={s}").collect()]
        assert a == b, f"tied curriculum order diverged in shard {s}"
