"""End-to-end pipeline orchestration: batch + streaming entry points,
idempotent re-run, catalog views, graph outputs."""

from __future__ import annotations

import json

import pytest
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
