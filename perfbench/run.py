#!/usr/bin/env python3
"""Benchmark entry point: one workload, one run.

    python3 perfbench/run.py --workload backfill|catchup --seed N \
        --seconds S --trace 0|1

Run from the repository root (or any copy of its files). The last line of
standard output is one JSON object: `correct`, `attempted`, `failed` and
`metrics` -- the end-to-end metrics with `--trace 0`, the per-layer ones
with `--trace 1`. Everything the run writes lives under
`.perfbench_work/run-<pid>/` and is removed when it ends; the Spark JVM
it starts is stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("backfill", "catchup"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=30)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def stop_spark() -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def cpu_steal() -> tuple[int, int] | None:
    """(steal, total) jiffies of this host's CPUs, where Linux reports them:
    time a virtual machine's CPUs were ready but ran another guest."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (vals[7], sum(vals)) if len(vals) > 7 else None


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import prom_tsdb_copyer_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: the program is not here ({e})", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")

    from workloads import WORKLOADS, Bench

    b = Bench(args, work)
    steal0 = cpu_steal()
    try:
        e2e = WORKLOADS[args.workload](b)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run still uses it
            pass
    steal1 = cpu_steal()
    if steal0 and steal1 and steal1[1] > steal0[1]:
        share = (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
        print(f"perfbench: cpu time stolen by the host: {share:.1%}", file=sys.stderr)
    for reason, n in sorted(b.failures.items()):
        print(f"perfbench: {n} x failed {reason}", file=sys.stderr)
    print(json.dumps(b.result(e2e)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
