#!/usr/bin/env python3
"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload firehose_push --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. This parent process imports nothing from
the engine: it prepares a scratch directory inside the checkout, runs
the workload in a child process group (`workloads.py`), stops every
process of that group when the child ends or overruns, and prints the
child's result as the last line of stdout. It exits non-zero when the
workload fails, its output is incorrect, or the engine package is not
there to measure.
"""

from __future__ import annotations

import time

T_START = time.monotonic()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "confluent_example_firehose_spark")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# Workload -> how long its child may run. The three workloads of
# BENCHMARK.json fit the 180 s per-run budget; ingest_stream is run by
# hand.
WORKLOADS = {
    "firehose_push": 170,
    "firehose_pull": 170,
    "batch_headline": 170,
    "ingest_stream": 900,
}


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def child_env(work: str) -> dict[str, str]:
    """Engine knobs (overridable from the caller's environment) and
    scratch locations, all inside the checkout."""
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(_cpus()))
    env.setdefault("SPARK_DRIVER_MEM", "4g")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = local
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )
    # Every JVM (spark-submit's launcher and the Spark driver): no
    # perf-data file in /tmp.
    env["JAVA_TOOL_OPTIONS"] = (
        env.get("JAVA_TOOL_OPTIONS", "") + " -XX:+PerfDisableSharedMem").strip()
    env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
    env["PYTHONUNBUFFERED"] = "1"
    return env


def _stop_group(pgid: int) -> None:
    """TERM then KILL the child's process group, and wait until no
    process of it is left (bounded: an unreaped zombie still counts)."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while time.monotonic() < end:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description="firehose engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(PKG_DIR, "__init__.py")):
        print(f"perfbench: engine package not found at {PKG_DIR}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{a.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "workloads.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--result", result_path, "--t-start", repr(T_START),
    ]
    child = subprocess.Popen(cmd, env=child_env(work), cwd=ROOT,
                             start_new_session=True)
    try:
        rc = child.wait(timeout=WORKLOADS[a.workload])
    except subprocess.TimeoutExpired:
        print(f"perfbench: {a.workload} overran {WORKLOADS[a.workload]} s",
              file=sys.stderr)
        rc = None
    finally:
        _stop_group(child.pid)
        child.wait()
    try:
        with open(result_path) as f:
            result = json.load(f)
    except (OSError, ValueError):
        result = None
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or result is None:
        print(f"perfbench: {a.workload} failed (exit {rc})", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
