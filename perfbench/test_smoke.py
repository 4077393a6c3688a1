"""Smoke tests for the benchmark at tiny sizes.

    python3 -m pytest perfbench -q

Every workload runs end to end and prints every metric ``BENCHMARK.json``
names with its unit; the output checks fire on deliberately wrong output;
the benchmark refuses to run without the program next to it. Takes a few
minutes: each run starts a JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
TINY = {"yelp_load": 300, "corpus_curate": 600}


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [*BENCH["command"], "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    if cwd == ROOT:
        cmd += ["--size", str(TINY[workload])]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def test_benchmark_names_its_workloads():
    assert [w["name"] for w in BENCH["workloads"]] == list(TINY)
    assert set(TINY) == set(workloads.WORKLOADS)


@pytest.mark.parametrize("workload", list(TINY))
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_prints_with_its_unit(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 2
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_program():
    bare = os.path.join(ROOT, ".perfbench", f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run("yelp_load", 0, cwd=bare)
        assert proc.returncode != 0
        assert proc.stdout == ""
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def test_generators_are_pure_functions_of_the_seed():
    work = os.path.join(ROOT, ".perfbench", f"gen-{os.getpid()}")
    try:
        a = gen.gen_yelp(f"{work}/a", 3, 200)
        b = gen.gen_yelp(f"{work}/b", 3, 200)
        c = gen.gen_yelp(f"{work}/c", 4, 200)
        assert a == b and a != c
        for name in ("business", "review", "user"):
            for f in os.listdir(f"{work}/a/{name}"):
                with open(f"{work}/a/{name}/{f}") as x, open(f"{work}/b/{name}/{f}") as y:
                    assert x.read() == y.read()
        assert gen.gen_corpus(f"{work}/d", 3, 300) == gen.gen_corpus(f"{work}/e", 3, 300)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = ROOT  # the Python workers import the package
    from yelp_business_data_pipeline_spark.session import get_spark

    s = get_spark(master="local[2]")
    yield s
    s.stop()


@pytest.fixture()
def work():
    d = os.path.join(ROOT, ".perfbench", f"check-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _workload(name: str, work: str):
    kind_gen = gen.gen_yelp if name == "yelp_load" else gen.gen_corpus
    data = os.path.join(work, "data")
    expected = kind_gen(data, 11, TINY[name])
    return workloads.WORKLOADS[name](data, work, {"expected": expected})


def test_yelp_check_fires_on_wrong_output(spark, work):
    w = _workload("yelp_load", work)
    out = w.run_pass(spark)
    assert w.check(out) == []
    # a re-delivered file: one review part appears twice
    part_dir = next(d for d, _, fs in os.walk(w.paths(out).review_out) if any(f.endswith(".parquet") for f in fs))
    part = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
    shutil.copy(os.path.join(part_dir, part), os.path.join(part_dir, "dup-" + part))
    assert any(p.startswith("review:") for p in w.check(out))


def test_corpus_check_fires_on_wrong_output(spark, work):
    w = _workload("corpus_curate", work)
    out = w.run_pass(spark)
    assert w.check(out) == []
    # dedup that resolved nothing: every doc its own entity
    ent = spark.read.parquet(f"{out}/entities").selectExpr("doc_id", "doc_id AS entity_id").collect()
    spark.createDataFrame(ent).write.mode("overwrite").parquet(f"{out}/entities")
    assert any("split" in p for p in w.check(out))
