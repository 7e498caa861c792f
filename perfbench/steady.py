#!/usr/bin/env python3
"""Steadiness check: run one workload in two sets of runs, each run on
its own seed, and compare the sets metric by metric.

    python3 perfbench/steady.py --workload backfill [--runs 10] \
        [--first-seed 1] [--traced 2]

For every end-to-end metric of BENCHMARK.json it prints each set's median
and quartiles, the quartile spread as a share of the median, and the gap
between the two set medians (positive = the second set is worse) next to
the metric's bound; then the failed share of each set. `--traced N` adds
N traced runs and prints the tracing overhead (traced minus untraced
median of every end-to-end metric) and the traced runs' per-layer
medians. Runs go one at a time, so they never compete for the machine.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    for line in p.stderr.splitlines():
        if line.startswith("perfbench:"):
            print(f"seed {seed}: {line}", file=sys.stderr)
    return json.loads(p.stdout.strip().splitlines()[-1])


def summary(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]

    sets = []
    seed = args.first_seed
    for s in range(2):
        results = []
        for _ in range(args.runs):
            r = run_once(args.workload, seed, seconds, 0)
            results.append(r)
            print(f"set {s + 1} seed {seed}: " + ", ".join(
                f"{k}={v['value']:.6g}" for k, v in r["metrics"].items()),
                file=sys.stderr, flush=True)
            seed += 1
        sets.append(results)

    print(f"## {args.workload}: 2 sets x {args.runs} runs, --seconds {seconds}\n")
    print("| metric | set 1 median [q1, q3] | spread | set 2 median [q1, q3] "
          "| spread | gap | bound |")
    print("|---|---|---|---|---|---|---|")
    for m in spec["end_to_end"]:
        name, sign = m["name"], (1 if m["better"] == "lower" else -1)
        cells, meds = [], []
        for results in sets:
            q1, med, q3 = summary([r["metrics"][name]["value"] for r in results])
            meds.append(med)
            cells += [f"{med:.6g} [{q1:.6g}, {q3:.6g}]", f"{(q3 - q1) / med:.3f}"]
        gap = sign * (meds[1] - meds[0]) / meds[0]
        print(f"| {name} ({m['unit']}) | " + " | ".join(cells)
              + f" | {gap:+.3f} | {m['bound']} |")
    for i, results in enumerate(sets):
        att = sum(r["attempted"] for r in results)
        fail = sum(r["failed"] for r in results)
        shares = sorted({f"{r['failed']}/{r['attempted']}" for r in results})
        print(f"\nset {i + 1}: failed {fail} of {att} attempted "
              f"(per run: {', '.join(shares)})")

    if args.traced:
        traced = [run_once(args.workload, seed + i, seconds, 1)
                  for i in range(args.traced)]
        print(f"\ntracing overhead ({args.traced} traced runs vs "
              f"{2 * args.runs} untraced):\n")
        print("| metric | untraced median | traced median | traced - untraced |")
        print("|---|---|---|---|")
        for m in spec["end_to_end"]:
            name = m["name"]
            u = statistics.median(r["metrics"][name]["value"]
                                  for rs in sets for r in rs)
            t = statistics.median(r["metrics"][f"traced.{name}"]["value"]
                                  for r in traced)
            print(f"| {name} | {u:.6g} | {t:.6g} | {t - u:+.6g} |")
        print(f"\nper-layer medians of the traced runs:\n")
        print("| metric | unit | median |")
        print("|---|---|---|")
        for m in spec["per_layer"]:
            vals = [r["metrics"][m["name"]]["value"] for r in traced
                    if m["name"] in r["metrics"]]
            shown = f"{statistics.median(vals):.6g}" if vals else "missing"
            print(f"| {m['name']} | {m['unit']} | {shown} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
