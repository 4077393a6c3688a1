"""Benchmark entry point.

    python3 perfbench/run.py --workload yelp_load --seed 1 --seconds 45 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed`` (once per seed and size, outside any timed region), runs one
benchmark session in a fresh process and JVM (``worker.py``), and prints
as its last line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it records the core count,
the Java and pyspark versions and the per-pass warm-up curve.

A run's measured work is fixed: one cold pass and the first warm pass
(README.md, "Warm-up"). ``--seconds`` is accepted but does not change it.

Everything the run writes goes under ``.perfbench/`` in the repository
root. Exits non-zero, printing no result, when the program or a session
fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "yelp_business_data_pipeline_spark"

#: workload -> (input kind, size). Sizes keep one session inside the
#: per-run limit; README.md gives the reasoning.
WORKLOADS = {
    "yelp_load": ("yelp", 2_000),
    "corpus_curate": ("corpus", 2_000),
}
SESSION_TIMEOUT_S = 170.0
END_TO_END_UNITS = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s"}


def inputs(kind: str, size: int, seed: int, work: str) -> str:
    """Generate (or reuse) the inputs for ``(kind, size, seed)``."""
    import gen

    data = os.path.join(work, "data", f"{kind}-n{size}-s{seed}")
    if os.path.exists(os.path.join(data, "manifest.json")):
        return data
    shutil.rmtree(data, ignore_errors=True)
    expected = gen.gen_yelp(data, seed, size) if kind == "yelp" else gen.gen_corpus(data, seed, size)
    with open(os.path.join(data, "manifest.json.tmp"), "w") as fh:
        json.dump({"kind": kind, "size": size, "seed": seed, "expected": expected}, fh)
    os.replace(os.path.join(data, "manifest.json.tmp"), os.path.join(data, "manifest.json"))
    return data


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot (``steal`` in ``/proc/stat``). A run records its share, so a
    slow run on a crowded host can be told from a slow program."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid`` (zombies have ended). The session,
    not the process group: pyspark's daemon moves itself and its workers
    into a process group of their own."""
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2 :].split()
            if int(fields[3]) == sid and fields[0] != "Z":
                pids.append(int(name))
    return pids


def stop_session(proc: subprocess.Popen) -> None:
    """Kill every process of the session's process tree (the worker, its
    JVM and the JVM's Python workers) and wait until each has ended. The
    worker has written its result and stopped Spark by then, so nothing is
    lost; a graceful JVM shutdown would only add seconds to every run."""
    while True:
        pids = _session_pids(proc.pid)
        if not pids:
            break
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if proc.poll() is None:
            proc.wait()
        time.sleep(0.05)
    proc.wait()


def session(workload: str, data: str, run_dir: str, trace: int) -> dict | None:
    """Run one worker session; return its result, or None if it failed."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(run_dir, "tmp")
    env.update(
        PYTHONPATH=ROOT,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        # keep both JVMs (spark-submit's launcher and the Spark driver) inside the
        # checkout: temp files under the run, no hsperfdata file in /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
    )
    result = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "session.log")
    t0 = time.monotonic()
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "worker.py"),
                "--workload", workload, "--data", data, "--work", run_dir,
                "--trace", str(trace),
                "--t0", repr(t0), "--result", result,
            ],
            cwd=run_dir, env=env, stdout=fh, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            proc.wait(timeout=SESSION_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"session exceeded {SESSION_TIMEOUT_S:.0f} s", file=sys.stderr)
        finally:
            stop_session(proc)
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log) as fh:
            print("".join(fh.readlines()[-30:]), file=sys.stderr)
        return None
    with open(result) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None, help="override the input size (smoke tests)")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench")
    kind, size = WORKLOADS[a.workload]
    data = inputs(kind, a.size or size, a.seed, work)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    steal = host_steal_s()
    try:
        res = session(a.workload, data, run_dir, a.trace)
        spans = os.path.join(run_dir, "spans.json")
        if os.path.exists(spans):
            os.makedirs(os.path.join(work, "traces"), exist_ok=True)
            os.replace(spans, os.path.join(work, "traces", f"{a.workload}-s{a.seed}-{os.getpid()}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if res is None:
        return 1
    res["info"]["host_steal_s"] = host_steal_s() - steal
    if a.trace:
        from worker import unit_of

        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({"info": res["info"], "problems": res["problems"]}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
