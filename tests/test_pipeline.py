"""End-to-end pipeline orchestration: batch + streaming entry points,
idempotent re-run, catalog views, graph outputs."""

from __future__ import annotations

import dataclasses
import json
import os
import threading

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from yelp_business_data_pipeline_spark.pipeline import YelpPaths, run_batch, run_streaming

from .test_yelp_etl import BUSINESSES, REVIEWS, USERS


@pytest.fixture()
def paths(tmp_path):
    for name, rows in (("business", BUSINESSES), ("review", REVIEWS), ("user", USERS)):
        d = tmp_path / name
        d.mkdir()
        (d / "batch1.json").write_text("\n".join(json.dumps(r) for r in rows))
    return YelpPaths(
        business_raw=str(tmp_path / "business"),
        review_raw=str(tmp_path / "review"),
        user_raw=str(tmp_path / "user"),
        out_dir=str(tmp_path / "out"),
    )


def _assert_outputs(spark, out):
    assert sorted(r.review_id for r in out["review"].select("review_id").distinct().collect()) == [
        "r1", "r2", "r3",
    ]
    # unified grain: 6 + 6 + 3 rows (reviews x user-friend x category grains)
    assert out["unified"].count() == 15
    # catalog views live (the Athena-replacement surface)
    assert spark.sql("SELECT COUNT(*) AS n FROM yelp_unified").collect()[0].n == 15
    top = spark.sql(
        "SELECT review_id, review_stars FROM yelp_review ORDER BY review_stars DESC, review_id LIMIT 1"
        if "review_stars" in out["review"].columns
        else "SELECT review_id, stars FROM yelp_review ORDER BY stars DESC, review_id LIMIT 1"
    ).collect()
    assert top[0].review_id == "r1"


def test_run_batch_and_idempotent_rerun(spark, paths):
    out = run_batch(spark, paths, build_graph=True)
    _assert_outputs(spark, out)
    assert out["vertices"].filter(F.col("label") == "Review").count() == 3

    # re-run the same batch: appends nothing, unified unchanged
    out2 = run_batch(spark, paths, build_graph=False)
    assert out2["review"].count() == out["review"].count()
    assert out2["unified"].count() == 15


def test_run_streaming(spark, paths, tmp_path):
    out = run_streaming(spark, paths, checkpoint_dir=str(tmp_path / "ckpt"))
    _assert_outputs(spark, out)


def test_unified_gated_on_all_domains(spark, tmp_path):
    """Reference DAG gate: UnifiedAnalytics only runs once all three domain
    tables exist (README.md:215)."""
    import json as _json

    from .test_yelp_etl import REVIEWS

    for name in ("business", "review", "user"):
        (tmp_path / name).mkdir()
    # only reviews have data
    (tmp_path / "review" / "a.json").write_text(
        "\n".join(_json.dumps(r) for r in REVIEWS)
    )
    p = YelpPaths(
        business_raw=str(tmp_path / "business"),
        review_raw=str(tmp_path / "review"),
        user_raw=str(tmp_path / "user"),
        out_dir=str(tmp_path / "out"),
    )
    out = run_batch(spark, p)
    assert "unified" not in out  # gate held
    assert "review" in out and out["review"].count() == 3


def test_partitioned_domain_layout(spark, paths):
    """SURVEY §1.4 scale layout: business partitioned by state, review by
    year — partition directories exist and pruning filters work."""
    import glob

    out = run_batch(spark, paths)
    assert glob.glob(f"{paths.business_out}/state=IL"), "business not partitioned by state"
    assert glob.glob(f"{paths.review_out}/review_year=2021"), "review not partitioned by year"
    # the appends rebalance by partition column: one file per partition
    # directory, not one per shuffle partition and partition value
    part_dirs = glob.glob(f"{paths.business_out}/state=*") + glob.glob(
        f"{paths.review_out}/review_year=*"
    )
    assert part_dirs
    for d in part_dirs + [paths.user_out]:
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d
    # reading with a partition filter still yields correct rows
    il = spark.read.parquet(paths.business_out).filter(F.col("state") == "IL")
    assert il.count() == 3  # 3 categories of b1
    assert "unified" in out and out["unified"].count() == 15


def _settled(spark):
    """The status store, once the listener bus has delivered every event
    of the jobs that have run so far."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore()


def _job_ids(spark) -> set[int]:
    jobs = _settled(spark).jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


@pytest.mark.parametrize("mode", ["batch", "streaming"])
def test_rebuild_reads_back_the_schema_an_inferring_read_gives(spark, paths, tmp_path, mode):
    """The unified rebuild reads every table with a schema it already has
    (no inference job); the frames carry the same columns, types and order
    as a plain read of each table."""
    if mode == "batch":
        out = run_batch(spark, paths)
    else:
        out = run_streaming(spark, paths, checkpoint_dir=str(tmp_path / "ckpt"))
    assert set(out) == {"business", "review", "user", "unified"}
    for name, df in out.items():
        inferred = spark.read.parquet(getattr(paths, f"{name}_out")).schema
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in inferred
        ], name


def test_run_batch_jobs_carry_the_callers_group_and_tags(spark, paths):
    """The domain loads run on their own threads, yet every job of the call
    carries the caller's job group, description and session tag."""
    sc = spark.sparkContext
    group, tag = "run-batch-attribution", "run_batch_attribution"
    before = _job_ids(spark)
    sc.setJobGroup(group, "attributed run_batch")
    spark.addTag(tag)
    try:
        run_batch(spark, paths)
    finally:
        spark.removeTag(tag)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    started = _job_ids(spark) - before
    assert started
    assert started <= set(sc.statusTracker().getJobIdsForGroup(group))
    store = _settled(spark)
    for job_id in started:
        job = store.job(job_id)
        assert job.description().get() == "attributed run_batch", job_id
        tags = [t for t in job.jobTags().mkString("\n").split("\n") if t]
        assert any(t.endswith(f"-{tag}") for t in tags), (job_id, tags)


def _threads() -> set[threading.Thread]:
    """Live threads, less py4j's callback-server connections: the JVM opens
    one whenever it calls into Python, which includes releasing a Python
    object it garbage-collected (a streaming batch function, say), at any
    time and unrelated to the call under test."""
    def callback_connection(t: threading.Thread) -> bool:
        target = getattr(t, "_target", None)
        return isinstance(getattr(target, "__self__", None), ClientServerConnection)

    return {t for t in threading.enumerate() if not callback_connection(t)}


def _rows(df) -> list[str]:
    return sorted(
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=str) for r in df.collect()
    )


def test_failed_load_lets_the_other_loads_finish(spark, paths, tmp_path):
    """A missing review folder fails its load only: business and user are
    written, unified is not rebuilt, and the call leaves no job or thread
    running behind it."""
    broken = dataclasses.replace(paths, review_raw=str(tmp_path / "no_reviews"))
    threads = _threads()
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        run_batch(spark, broken)
    assert os.path.isdir(paths.business_out) and os.path.isdir(paths.user_out)
    assert not os.path.exists(paths.review_out)
    assert not os.path.exists(paths.unified_out)
    _settled(spark)
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert _threads() <= threads  # no thread outlives the call


def test_rerun_after_a_failed_load_matches_a_clean_run(spark, paths, tmp_path):
    """Loads are idempotent: once the missing folder exists, re-running the
    failed batch completes the missing domain and gives the same rows as
    one clean run."""
    broken = dataclasses.replace(paths, review_raw=str(tmp_path / "late_reviews"))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        run_batch(spark, broken)
    os.rename(paths.review_raw, broken.review_raw)
    rerun = run_batch(spark, broken)
    clean = run_batch(spark, dataclasses.replace(broken, out_dir=str(tmp_path / "clean")))
    assert sorted(rerun) == sorted(clean) == ["business", "review", "unified", "user"]
    for name in clean:
        assert _rows(rerun[name]) == _rows(clean[name]), name


def test_every_failed_load_is_reported(spark, paths, tmp_path):
    """Two failed loads: the first in DOMAINS order is raised, and the
    other is attached to it as a note."""
    review_raw, user_raw = str(tmp_path / "no_reviews"), str(tmp_path / "no_users")
    broken = dataclasses.replace(paths, review_raw=review_raw, user_raw=user_raw)
    with pytest.raises(AnalysisException, match="no_reviews") as err:
        run_batch(spark, broken)
    notes = getattr(err.value, "__notes__", [])
    assert len(notes) == 1 and "user load" in notes[0] and "no_users" in notes[0], notes
    assert os.path.isdir(paths.business_out)
