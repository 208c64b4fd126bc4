#!/usr/bin/env python3
"""Steadiness check: run one workload once per seed and summarise each
metric as median, quartiles and spread (interquartile range / median).

    python3 aqlbench/steady.py --workload etl_relational --seeds 1-10

Run it from the root of a checkout. Every run measures for the run_seconds
of BENCHMARK.json, with tracing off. Each spread is compared with the
metric's bound from BENCHMARK.json (end-to-end metrics only); a spread
above a third of the bound is marked. Runs are sequential, one JVM at a
time.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,4,7")
    args = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, attempted, failed = {}, 0, 0
    for seed in seeds(args.seeds):
        r = subprocess.run(
            [sys.executable, "aqlbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"],
            capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if not lines or not lines[-1].startswith("{"):
            sys.exit(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
        res = json.loads(lines[-1])
        attempted += res["attempted"]
        failed += res["failed"]
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={m['value']:.6g}" for k, m in sorted(res["metrics"].items())
                  if k in bounds), flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    print(f"\n{args.workload}: {attempted} ops attempted, {failed} failed")
    print(f"{'metric':34s} {'q1':>12s} {'median':>12s} {'q3':>12s} {'spread':>8s}  bound")
    for k in sorted(values):
        v = [x for x in values[k] if x is not None]
        if len(v) < 2:
            continue
        q1, _, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = " *" if b is not None and spread > b / 3 else ""
        print(f"{k:34s} {q1:12.6g} {med:12.6g} {q3:12.6g} {spread:8.4f}  "
              f"{'' if b is None else b}{flag}")


if __name__ == "__main__":
    main()
