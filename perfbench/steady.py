#!/usr/bin/env python3
"""Repeat the benchmark over seeds and summarise its spread.

    python3 perfbench/steady.py --workload firehose_push --seeds 1-10
    python3 perfbench/steady.py --workload firehose_pull --seeds 1-5 --traced

For each end-to-end metric this prints the median over the runs and
the spread, the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median, next
to the metric's bound in BENCHMARK.json. With --traced every seed is
also run traced, and the tracing overhead is printed as the traced
run's median minus the untraced median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {out.returncode}")
    return json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    for seed in seeds_of(a.seeds):
        res = run_once(a.workload, seed, a.seconds, 0)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        if a.traced:
            tres = run_once(a.workload, seed, a.seconds, 1)
            for k, v in tres["metrics"].items():
                if k.startswith("traced."):
                    traced.setdefault(k[len("traced."):], []).append(v["value"])
    print(f"{'metric':<16} {'median':>12} {'spread':>8} {'bound':>6} {'overhead':>10}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("inf")
        over = ""
        if k in traced:
            over = f"{statistics.median(traced[k]) - med:+.4g}"
        print(f"{k:<16} {med:>12.4g} {spread:>8.3f} {bounds.get(k, 0):>6} {over:>10}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
