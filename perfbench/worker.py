"""One benchmark session: a fresh Python process and a fresh JVM.

Started by ``run.py``; not meant to be run by hand. It times the set-up of
a SparkSession through ``session.get_spark`` (from this process's start,
JVM launch included), the first pass of the workload (the cold pass), then
passes until one counts as warm: the JIT compile time the JVM recorded
during it is at most ``SETTLE_FRAC`` of the cold pass's. That one pass is
``warm_pass_s``. With ``--trace 1`` it then runs one traced pass and
reports the per-layer metrics. Every pass's output is checked. The result
is written as JSON to ``--result``.
"""

from __future__ import annotations

import argparse
import json
import os
import time

#: A pass is warm once its JIT compile time is at most this share of the
#: cold pass's (see README.md, "Warm-up").
SETTLE_FRAC = 0.75
#: At most this many passes after the cold one look for a warm pass, and
#: none starts later than ``LAST_START_S`` after process start, so a run
#: ends inside the benchmark's 180 s per-run limit on a slow host.
MAX_WARMUP_PASSES = 3
LAST_START_S = 110.0
#: Layers whose Spark stage counters the traced pass reports.
COUNTER_LAYERS = ("readers", "etl", "writers", "unified", "qualityclf", "ppl", "screen", "dedup", "components")


def per_layer_names() -> list[str]:
    """Every per-layer metric the traced run prints, in a fixed order."""
    from probes import StageCounters

    names = [
        "jvm.cold_jit_s", "jvm.cold_gc_s", "jvm.cold_cpu_s",
        "jvm.jit_s", "jvm.gc_s", "jvm.cpu_s", "jvm.warmup_passes",
        "jvm.peak_rss_mb", "workers.peak_pss_mb",
        "trace.pass_s", "trace.overhead_s",
        "readers.scan_s", "readers.rows_in", "readers.malformed_dropped",
        "etl.business_s", "etl.review_s", "etl.user_s", "etl.keep_ratio",
        "writers.append_s", "writers.rows_offered", "writers.rows_appended",
        "writers.output_mb", "writers.files", "writers.rerun_append_s", "writers.rerun_rows_appended",
        "unified.rebuild_s", "unified.grain_ratio",
        "qualityclf.fit_s", "ppl.fit_s",
        "screen.verdict_s", "screen.keep_ratio", "screen.py_worker_cpu_s",
        "dedup.lsh_s", "dedup.candidate_pairs", "dedup.clusters_s", "dedup.merged_docs",
        "components.resolve_s",
    ]
    return names + [f"{layer}.{f}" for layer in COUNTER_LAYERS for f in StageCounters.FIELDS]


def unit_of(name: str) -> str:
    """The unit of a per-layer metric, read from its name's suffix."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True, help="time.monotonic() at process spawn")
    ap.add_argument("--result", required=True)
    a = ap.parse_args()

    from yelp_business_data_pipeline_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(master=f"local[{cores}]")
    setup_s = time.monotonic() - a.t0

    import probes
    import workloads

    with open(os.path.join(a.data, "manifest.json")) as fh:
        manifest = json.load(fh)
    w = workloads.WORKLOADS[a.workload](a.data, a.work, manifest)
    jvm = probes.Jvm(spark)
    memory = probes.MemorySampler(jvm.pid)
    passes: list[dict] = []
    # Each pass writes a fresh output directory under the run directory,
    # which run.py deletes after the session. Deleting a pass's files right
    # before the next pass would, on a filesystem mounted with online
    # discard, queue device work that overlaps the timed region.

    def one_pass() -> dict:
        before, t = jvm.snapshot(), time.monotonic()
        out = w.run_pass(spark)
        rec = {"wall_s": time.monotonic() - t, **probes.delta(jvm.snapshot(), before)}
        rec["problems"] = w.check(out)
        passes.append(rec)
        return rec

    # warm_pass_s is one pass: the first whose JIT time meets the gate.
    # It does not depend on --seconds or on how long the cold pass took.
    cold = one_pass()
    cold["phase"] = "cold"
    warm = None
    while warm is None and len(passes) <= MAX_WARMUP_PASSES and time.monotonic() - a.t0 < LAST_START_S:
        p = one_pass()
        p["phase"] = "warmup"
        if p["jit_s"] <= SETTLE_FRAC * cold["jit_s"]:
            p["phase"], warm = "warm", p
    # A host too slow to meet the gate in time still reports its last
    # pass, and says so.
    settled = warm is not None
    warm = warm or passes[-1]
    result = {
        "setup_s": setup_s,
        "cold_pass_s": cold["wall_s"],
        "warm_pass_s": warm["wall_s"],
        "info": {
            "workload": a.workload,
            "cores": cores,
            "work_fs": probes.filesystem_of(a.work),
            "java": jvm.version,
            "pyspark": spark.version,
            "rows_per_pass": w.rows_per_pass,
            "jit_settled": settled,
            "warm_jit_share": warm["jit_s"] / cold["jit_s"],
            "curve": [{k: p[k] for k in ("phase", "wall_s", "jit_s", "gc_s", "cpu_s")} for p in passes],
        },
    }
    if a.trace:
        tracer = probes.Tracer(spark, jvm, run_id=f"{a.workload}-{os.getpid()}")
        t = time.monotonic()
        out, layer = w.traced_pass(spark, tracer)
        traced_wall = time.monotonic() - t
        passes.append({"phase": "traced", "problems": w.check(out)})
    memory.stop()
    jvm_peak_mb = probes.peak_rss_mb(jvm.pid)
    result["info"]["jvm_peak_rss_mb"] = jvm_peak_mb
    result["info"]["workers_peak_pss_mb"] = memory.workers_peak_mb
    if a.trace:
        layer["trace.pass_s"] = traced_wall
        layer["trace.overhead_s"] = traced_wall - result["warm_pass_s"]
        for k in ("jit_s", "gc_s", "cpu_s"):
            layer[f"jvm.cold_{k}"] = cold[k]
            layer[f"jvm.{k}"] = warm[k]
        layer["jvm.warmup_passes"] = sum(p["phase"] == "warmup" for p in passes)
        layer["jvm.peak_rss_mb"] = jvm_peak_mb
        layer["workers.peak_pss_mb"] = memory.workers_peak_mb
        # a workload may derive a layer's counters itself (components:
        # fuzzy_dedup_clusters' span minus the LSH span)
        for name in COUNTER_LAYERS:
            for f, v in tracer.layer_counters(name).items():
                layer.setdefault(f"{name}.{f}", v)
        result["per_layer"] = {n: layer.get(n, 0) for n in per_layer_names()}
        with open(os.path.join(a.work, "spans.json"), "w") as fh:
            json.dump(tracer.records(), fh)
    result["attempted"] = len(passes)
    result["failed"] = sum(bool(p["problems"]) for p in passes)
    result["problems"] = [q for p in passes for q in p["problems"]][:10]
    spark.stop()
    result["info"]["session_s"] = time.monotonic() - a.t0
    with open(a.result, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
