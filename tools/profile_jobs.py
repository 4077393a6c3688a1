#!/usr/bin/env python
"""Per-query job/plan profiler (r12 optimization round).

For each named query, separates the three cost layers the bench's one
number hides:

- build_s:   python time to construct the DataFrame (QUERIES[name].spark)
             — driver-side work in the builder (model fits, collects,
             eager checkpoints) lands here;
- plan_s:    time for Catalyst analysis+optimization of the final frame
             (queryExecution.executedPlan forced via explain string);
- exec_s:    the noop action itself;
- jobs:      Spark job count the action (build+exec) submitted — the
             per-job scheduling floor is ~0.1-0.5 s on local[32], so a
             20-job query pays seconds of pure orchestration.

Usage: python tools/profile_jobs.py [--sf DIR] query [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yelp_business_data_pipeline_spark.plans import QUERIES
from yelp_business_data_pipeline_spark.session import get_spark


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if args and args[0] == "--sf":
        sf_dir = args[1]
        args = args[2:]
    names = args
    spark = get_spark(app_name="profile_jobs")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warmups (bench.py prologue)
    for w in ("topk_orders_per_segment", "ann_cosine_topk_arrow", "lsh_ann_topk"):
        noop(QUERIES[w].spark(spark, sf_dir))

    print(f"{'query':42s} {'build_s':>8s} {'plan_s':>8s} {'exec_s':>8s} {'jobs':>5s}")
    for name in names:
        jobs0 = len(tracker.getJobIdsForGroup(None) or [])
        t0 = time.perf_counter()
        df = QUERIES[name].spark(spark, sf_dir)
        t1 = time.perf_counter()
        _ = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        t2 = time.perf_counter()
        noop(df)
        t3 = time.perf_counter()
        jobs1 = len(tracker.getJobIdsForGroup(None) or [])
        print(
            f"{name:42s} {t1 - t0:8.2f} {t2 - t1:8.2f} {t3 - t2:8.2f} "
            f"{jobs1 - jobs0:5d}"
        )


if __name__ == "__main__":
    main()
