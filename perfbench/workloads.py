"""The two workloads: `backfill` and `catchup`.

Both call the program only through its public entry points -- `cli.main`
in-process (one Spark session per run, created here so the CLI reuses
it) and `operators.query.query_range` / `query_instant` -- and time
those calls from outside. Every answer is checked against DuckDB after
the timed phase it came from.

The amount of work is fixed by `--seconds` alone (copy windows and read
rounds per second of run length, calibrated on a 4-core host), never by
the clock: the same arguments always attempt the same operations, so the
share of failed operations is the same in every run and the medians are
always taken over the same mix.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from collections import Counter
from pathlib import Path

import numpy as np

from gen import BASE_MS, DAY_MS, write_history
from oracle import Oracle
from trace import Tracer

HOUR_MS = 3_600_000
MIN_MS = 60_000
GRAIN = {"1m": MIN_MS, "1h": HOUR_MS, "1d": DAY_MS}
CORES = min(4, len(os.sched_getaffinity(0)))
SETUP_REPS = 3
#: one whole-history copy window: a block longer than the history
ONE_WINDOW = "36500d"
ROLES = ("user", "assistant", "tool")
TOOLS = ("search", "exec", "browse", "db")

# backfill: the copy the reference's usage makes, one matcher, one label
BACKFILL_DAYS = 14
BACKFILL_CONVS_PER_DAY = 300
BACKFILL_FLAGS = ["-l", "role=~user|assistant|tool", "-T", "env=prod",
                  "-B", ONE_WINDOW, "--tiers", "1m,1h,1d", "--chunk-tiers", "1h"]
BACKFILL_INGEST_SQL = "role IN ('user', 'assistant', 'tool')"
#: one read round: 12 reads that answer plus two offset_1h reads that
#: raise ValueError on this program (operators/query.py offset guard)
READ_MIX = (["range_1m"] * 3 + ["range_1h"] * 3 + ["range_1d"] * 3
            + ["instant"] * 3 + ["offset_1h"] * 2)
SECONDS_PER_READ_ROUND = 20

# catchup: a base history copied in set-up, then one CLI run per day
CATCHUP_BASE_DAYS = 7
CATCHUP_CONVS_PER_DAY = 400
CATCHUP_KEEP_1M_DAYS = 7
SECONDS_PER_DAY_WINDOW = 5


def median(xs):
    return statistics.median(xs) if xs else 0.0


def fmt_time(ms: int) -> str:
    """A --from/--to argument the CLI parses as an absolute UTC time."""
    t = time.gmtime(ms // 1000)
    return time.strftime("%Y-%m-%d %H:%M:%S", t) + f".{ms % 1000:03d}+0000"


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*.parquet"))


class Bench:
    """One run: the session, the counters and the collected timings."""

    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.traced = args.trace == 1
        self.tr = Tracer(self.traced)
        self.rng = np.random.default_rng([args.seed, 7])
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: Counter = Counter()
        self.windows: list[dict] = []  # per copy window
        self.reads: list[dict] = []    # per read
        self.layer: dict[str, float] = {}

    # ---- session and operations

    def start_session(self) -> float:
        from prom_tsdb_copyer_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work / 'tmp'}"}
        if self.traced:
            from sparkstats import UI_CONF
            conf.update(UI_CONF)
        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)
        return time.perf_counter() - t

    def generate(self, path: Path, days: int, convs_per_day: int) -> float:
        """Median of SETUP_REPS generations of the same files."""
        times = []
        for _ in range(SETUP_REPS):
            shutil.rmtree(path, ignore_errors=True)
            t = time.perf_counter()
            write_history(str(path), self.args.seed, days, convs_per_day)
            times.append(time.perf_counter() - t)
        return median(times)

    def record(self, kind: str, problem: str | None) -> None:
        self.attempted += 1
        if problem:
            self.failed += 1
            self.failures[f"{kind}: {problem}"] += 1

    def _group(self, group: str) -> None:
        if self.traced:
            self.tr.trace_id = group
            self.spark.sparkContext.setJobGroup(group, group)

    def copy(self, argv: list[str], group: str | None = None) -> float:
        """One CLI run; returns its wall seconds."""
        from prom_tsdb_copyer_spark import cli

        if group:
            self._group(group)
        with self.tr.span("copy"):
            t = time.perf_counter()
            rc = cli.main([*argv, "--thread", str(CORES)])
            dt = time.perf_counter() - t
        if rc != 0:
            raise RuntimeError(f"cli.main returned {rc}")
        return dt

    def read(self, spec: dict, fn, warmup: bool = False) -> None:
        """One closed-loop read, timed through the collected answer. A
        warm-up read is checked and counted like any other, but its time
        (the first compilation of its plan shape) stays out of the
        latency figures."""
        self._group(f"{'warmup' if warmup else 'reads'}:{len(self.reads)}")
        with self.tr.span("warmup.read" if warmup else "read", kind=spec["kind"]):
            t = time.perf_counter()
            try:
                df = fn()
                with self.tr.span("spark.collect"):
                    rows = df.collect()
                err = None
            except Exception as e:  # a failed read is counted, not fatal
                rows, err = None, f"{type(e).__name__}: {str(e).splitlines()[0][:120]}"
            dt = time.perf_counter() - t
        self.reads.append({**spec, "s": dt, "rows": rows, "error": err,
                           "warmup": warmup})

    def check_reads(self, oracle: Oracle) -> None:
        for r in self.reads:
            if r["error"]:
                self.record(r["kind"], r["error"])
                continue
            if r["kind"] == "instant":
                bad = oracle.check_instant(r["rows"], r["lo"], r["hi"], r["where"])
            else:
                bad = oracle.check_range(r["rows"], r["step"], r["lo"], r["hi"],
                                         r["where"], r.get("offset", 0))
            self.record(r["kind"], f"{bad} rows disagree" if bad else None)
            r["n_rows"] = len(r["rows"])
            r["rows"] = None

    # ---- results

    def timed_reads(self) -> list[dict]:
        return [r for r in self.reads if not r["warmup"]]

    def result(self, e2e: dict) -> dict:
        if self.traced:
            metrics = self.layer
            metrics.update({f"traced.{k}": v for k, v in e2e.items()})
        else:
            metrics = e2e
        return {
            "correct": True,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)}
                        for k, v in metrics.items()},
        }


def unit_of(name: str) -> str:
    name = name.removeprefix("traced.")
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_ms") or ".p50_ms." in name:
        return "ms"
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("per_sample"):
        return "B/sample"
    if "bytes" in name:
        return "B"
    if name.endswith(("share", "per_row_in", "per_row_returned")):
        return "ratio"
    return "count"


def manifest_entries(target: Path) -> dict[int, dict]:
    out = {}
    for f in sorted((target / "_manifest").glob("window-*.json")):
        e = json.loads(f.read_text())
        out[e["window_start_ms"]] = e
    return out


def check_copy(oracle: Oracle, target: Path, tiers, lo: int, hi: int,
               n_in: int, window_start: int | None = None) -> str | None:
    """A copy's manifest entry and tiers against DuckDB; None when right."""
    entry = manifest_entries(target).get(lo if window_start is None else window_start)
    if entry is None or entry["status"] != "done":
        return "no committed manifest entry"
    if entry["rows_in"] != n_in:
        return f"manifest rows_in {entry['rows_in']} != {n_in}"
    for t in tiers:
        bad = oracle.check_tier(str(target / f"tier={t}"), GRAIN[t],
                                (lo // GRAIN[t]) * GRAIN[t], hi)
        if bad:
            return f"tier {t}: {bad} rows disagree"
    return None


def check_chunks(oracle: Oracle, path: Path) -> str | None:
    """Lossless round trip: the 1h chunk table decodes to the input points."""
    import pyarrow.parquet as pq

    from prom_tsdb_copyer_spark.functions.gorilla import decode_chunks_batched

    t = pq.read_table(str(path), columns=["conv_id", "role", "tool", "bucket_ms",
                                          "cnt", "chunk"])
    ts, vals, idx = decode_chunks_batched(t["chunk"].to_pylist())
    cnt = np.bincount(idx, minlength=t.num_rows)
    if not np.array_equal(cnt, t["cnt"].to_numpy()):
        return "chunk sample counts differ from cnt"
    if not np.array_equal(ts // HOUR_MS * HOUR_MS, t["bucket_ms"].to_numpy()[idx]):
        return "decoded points outside their chunk's bucket"
    bad = oracle.check_points(t["conv_id"].take(idx), t["role"].take(idx),
                              t["tool"].take(idx), ts, vals)
    return f"{bad} decoded points disagree" if bad else None


# ------------------------------------------------------------- backfill


def backfill_read_specs(rng, kinds) -> list[dict]:
    end = BASE_MS + BACKFILL_DAYS * DAY_MS
    specs = []
    for kind in kinds:
        if kind == "range_1m":  # three hours of one role at 1m
            lo = BASE_MS + int(rng.integers(24, BACKFILL_DAYS * 24 - 3)) * HOUR_MS
            role = ROLES[rng.integers(len(ROLES))]
            s = dict(step=MIN_MS, lo=lo, hi=lo + 3 * HOUR_MS - 1,
                     matchers=[f"role={role}"], where=f"role = '{role}'")
        elif kind in ("range_1h", "offset_1h"):  # 3 days at 1h, 1% of convs
            lo = BASE_MS + int(rng.integers(1, BACKFILL_DAYS - 3)) * DAY_MS
            tail = f"{int(rng.integers(100)):02d}"
            s = dict(step=HOUR_MS, lo=lo, hi=lo + 3 * DAY_MS - 1,
                     matchers=[f"conv_id=~c-[0-9]*{tail}"],
                     where=f"right(conv_id, 2) = '{tail}'")
            if kind == "offset_1h":
                s["offset"] = 5 * MIN_MS
        elif kind == "range_1d":  # the whole history of one tool at 1d
            tool = TOOLS[rng.integers(len(TOOLS))]
            s = dict(step=DAY_MS, lo=BASE_MS, hi=end - 1,
                     matchers=[f"tool={tool}"], where=f"tool = '{tool}'")
        else:  # instant at a minute end, PromQL's 5m lookback
            t = BASE_MS + int(rng.integers(24 * 60, BACKFILL_DAYS * 24 * 60)) * MIN_MS - 1
            s = dict(t=t, lo=t + 1 - 5 * MIN_MS, hi=t, matchers=None, where="TRUE")
        specs.append({"kind": str(kind), **s})
    return specs


def run_read(b: Bench, target: Path, series: list[str], spec: dict,
             warmup: bool = False) -> None:
    from prom_tsdb_copyer_spark.operators import query

    if spec["kind"] == "instant":
        b.read(spec, lambda: query.query_instant(
            b.spark, str(target), series, spec["t"], matchers=spec["matchers"]),
            warmup)
    else:
        b.read(spec, lambda: query.query_range(
            b.spark, str(target), series, matchers=spec["matchers"],
            from_ms=spec["lo"], to_ms=spec["hi"], step_ms=spec["step"],
            offset_ms=spec.get("offset", 0)), warmup)


def backfill(b: Bench) -> dict:
    src, target = b.work / "src", b.work / "tiers"
    session_s = b.start_session()
    setup_s = session_s + b.generate(src, BACKFILL_DAYS, BACKFILL_CONVS_PER_DAY)

    oracle = Oracle(str(src), BACKFILL_INGEST_SQL, {"env": "prod"})
    lo, hi = BASE_MS, BASE_MS + BACKFILL_DAYS * DAY_MS - 1
    n_in = oracle.count(lo, hi)
    if b.traced:
        b.tr.install()

    # timed: the whole-history copy as one window. It is the first Spark
    # work of the process, so it includes the JVM's first compilation of
    # every plan, as a backfill job started fresh does
    copy_s = b.copy(["--source", str(src), "--target", str(target),
                     *BACKFILL_FLAGS], "copy:0")
    b.windows.append({"s": copy_s, "n_in": n_in, "lo": lo, "hi": hi})
    # the CLI discovers the extent: the window starts at the first sample
    first = oracle.con.execute("SELECT min(ts_ms) FROM src").fetchone()[0]
    problem = (check_copy(oracle, target, ("1m", "1h", "1d"), lo, hi, n_in, first)
               or check_chunks(oracle, target / "chunks=1h"))
    b.record("copy", problem)
    stored = sum(dir_bytes(target / d) for d in
                 ("tier=1m", "tier=1h", "tier=1d", "chunks=1h"))

    # timed: closed-loop reads, one client
    series = ["conv_id", "role", "tool", "env"]
    rounds = max(1, round(b.args.seconds / SECONDS_PER_READ_ROUND))
    for spec in backfill_read_specs(b.rng, sorted(set(READ_MIX))):
        run_read(b, target, series, spec, warmup=True)
    for _ in range(rounds):
        for spec in backfill_read_specs(b.rng, b.rng.permutation(READ_MIX)):
            run_read(b, target, series, spec)
    b.check_reads(oracle)

    e2e = {
        "setup_s": setup_s,
        "samples_per_s": n_in / copy_s,
        "window_p50_s": copy_s,
        "stored_bytes_per_sample": stored / n_in,
    }
    if b.traced:
        from layers import layer_metrics
        b.layer = layer_metrics(b, target, session_s, n_in, {
            "matchers": ("role=~user|assistant|tool",), "label_append": ("env=prod",),
            "chunk_tiers": ("1h",)}, (lo, hi))
        b.layer["chunk_bytes_per_sample"] = dir_bytes(target / "chunks=1h") / n_in
    return e2e


# -------------------------------------------------------------- catchup


def freshness_reads(b: Bench, target: Path, lo: int, hi: int,
                    warmup: bool = False) -> None:
    """The day [lo, hi] just copied: an instant read at its end, and the
    whole day at 1h for one tool."""
    from prom_tsdb_copyer_spark.operators import query

    series = ["conv_id", "role", "tool"]
    inst = dict(kind="instant", t=hi, lo=hi + 1 - 5 * MIN_MS, hi=hi,
                matchers=None, where="TRUE")
    b.read(inst, lambda: query.query_instant(b.spark, str(target), series, hi),
           warmup)
    tool = TOOLS[b.rng.integers(len(TOOLS))]
    spec = dict(kind="range_1h", step=HOUR_MS, lo=lo, hi=hi,
                matchers=[f"tool={tool}"], where=f"tool = '{tool}'")
    b.read(spec, lambda: query.query_range(
        b.spark, str(target), series, matchers=spec["matchers"],
        from_ms=lo, to_ms=hi, step_ms=HOUR_MS), warmup)


def catchup(b: Bench) -> dict:
    from prom_tsdb_copyer_spark.operators import retention

    n_windows = max(2, round(b.args.seconds / SECONDS_PER_DAY_WINDOW))
    days = CATCHUP_BASE_DAYS + n_windows
    src, target = b.work / "src", b.work / "tiers"
    session_s = b.start_session()
    gen_s = b.generate(src, days, CATCHUP_CONVS_PER_DAY)
    policy = retention.RetentionPolicy({"1m": CATCHUP_KEEP_1M_DAYS * DAY_MS})
    tier_1m = target / "tier=1m"
    # the base history: one window, then 1m expiry as after every day
    t = time.perf_counter()
    base_hi = BASE_MS + CATCHUP_BASE_DAYS * DAY_MS - 1
    b.copy(["--source", str(src), "--target", str(target),
            "--from", fmt_time(BASE_MS), "--to", fmt_time(base_hi), "-B", ONE_WINDOW])
    retention.expire_partitions(str(tier_1m), policy.cutoff_ms("1m", base_hi + 1))
    setup_s = session_s + gen_s + time.perf_counter() - t

    oracle = Oracle(str(src))
    freshness_reads(b, target, base_hi + 1 - DAY_MS, base_hi, warmup=True)
    if b.traced:
        b.tr.install()
    stored = 0
    for i in range(n_windows):
        lo = BASE_MS + (CATCHUP_BASE_DAYS + i) * DAY_MS
        hi = lo + DAY_MS - 1
        window_s = b.copy(["--source", str(src), "--target", str(target),
                           "--from", fmt_time(lo), "--to", fmt_time(hi)], f"copy:{i}")
        n_in = oracle.count(lo, hi)
        day = time.strftime("%Y-%m-%d", time.gmtime(lo // 1000))
        stored += sum(dir_bytes(target / f"tier={t}" / f"part_day={day}")
                      for t in ("1m", "1h", "1d"))
        b.record("copy", check_copy(oracle, target, ("1m", "1h", "1d"),
                                    lo, hi, n_in))

        cutoff = policy.cutoff_ms("1m", hi + 1)
        cutoff_day = time.strftime("%Y-%m-%d", time.gmtime(cutoff // 1000))
        doomed = sorted(p.name for p in tier_1m.glob("part_day=*")
                        if p.name.split("=", 1)[1] < cutoff_day)
        with b.tr.span("retention"):
            t = time.perf_counter()
            dropped = retention.expire_partitions(str(tier_1m), cutoff)
            retention_s = time.perf_counter() - t
        left = [p.name for p in tier_1m.glob("part_day=*")
                if p.name.split("=", 1)[1] < cutoff_day]
        b.record("retention", None if sorted(dropped) == doomed and not left
                 else f"dropped {dropped}, expected {doomed}, left {left}")
        b.windows.append({"s": window_s, "retention_s": retention_s,
                          "dropped": len(dropped), "n_in": n_in, "lo": lo, "hi": hi})

        freshness_reads(b, target, lo, hi)
    b.check_reads(oracle)

    n_total = sum(w["n_in"] for w in b.windows)
    copy_phase_s = sum(w["s"] + w["retention_s"] for w in b.windows)
    e2e = {
        "setup_s": setup_s,
        "samples_per_s": n_total / copy_phase_s,
        "window_p50_s": median([w["s"] for w in b.windows]),
        "stored_bytes_per_sample": stored / n_total,
    }
    if b.traced:
        from layers import layer_metrics
        last = b.windows[-1]
        b.layer = layer_metrics(b, target, session_s, n_total, {},
                                (last["lo"], last["hi"]))
        b.layer["chunk_bytes_per_sample"] = 0.0
    return e2e


WORKLOADS = {"backfill": backfill, "catchup": catchup}
UNITS = {
    "setup_s": "s", "samples_per_s": "samples/s", "window_p50_s": "s",
    "stored_bytes_per_sample": "B/sample",
}
