"""Per-layer metrics of a traced run, by package module.

Sources: the spans recorded around the package's public functions
(trace.py), Spark's REST counters per phase (sparkstats.py), the
written tables' files, and two legs that run only here: the 1m rollup
and the 1h Gorilla encode, each into Spark's `noop` sink, so that their
time without the parquet sink shows.
"""

from __future__ import annotations

import statistics
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq

import sparkstats
from workloads import median

TABLES = {"1m": "tier=1m", "1h": "tier=1h", "1d": "tier=1d", "chunks_1h": "chunks=1h"}
READ_KINDS = ("range_1m", "range_1h", "range_1d", "instant", "offset_1h")
COPY_MODULES = ("cli", "sources.tables", "sources.manifest", "plans.copy_job",
                "functions.gorilla", "operators.retention", "pyspark.read")
READ_MODULES = ("operators.query", "pyspark.read", "spark")
SPARK_COUNTERS = ("jobs", "tasks", "executor_cpu_s", "gc_s",
                  "shuffle_write_bytes", "spill_bytes", "input_bytes")


def _module(span_name: str) -> str:
    return span_name.rsplit(".", 1)[0]


def _table_stats(target: Path) -> dict:
    out = {}
    for key, d in TABLES.items():
        files = sorted((target / d).rglob("*.parquet"))
        out[f"tables.files.{key}"] = len(files)
        out[f"tables.bytes.{key}"] = sum(f.stat().st_size for f in files)
        out[f"tables.rows.{key}"] = sum(pq.read_metadata(f).num_rows for f in files)
    return out


def _noop_legs(b, job_kwargs: dict, lo: int, hi: int) -> dict:
    """The copy's 1m aggregation and its 1h Gorilla encode over the same
    rows, each into `noop`: the time the sink does not account for."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from prom_tsdb_copyer_spark.functions.gorilla import encode_tier_chunks
    from prom_tsdb_copyer_spark.operators.rollup import rollup
    from prom_tsdb_copyer_spark.operators.windows import time_range_pred
    from prom_tsdb_copyer_spark.plans.copy_job import CopyJob, filtered_samples

    spark = b.spark
    b.spark.sparkContext.setJobGroup("noop", "noop")
    src = spark.read.parquet(str(b.work / "src"))
    job = CopyJob(**job_kwargs)
    df = filtered_samples(src.where(time_range_pred(src, "ts", lo, hi)), job)
    series = [c for c in job.series_cols if c in src.columns] + [
        p.split("=", 1)[0] for p in job.label_append]
    # the copy's single-shuffle clustering of the 1m tier
    # (plans/copy_job.py: 8 chunks per partition, 2 partitions per core)
    n_parts = max(2 * spark.sparkContext.defaultParallelism, 8)
    cluster = (lo, max((hi - lo + 1) // (8 * n_parts), 1), n_parts)
    # each leg runs twice and keeps the second time: the first pays the
    # compilation of a plan shape the copy never ran
    for _ in range(2):
        t = time.perf_counter()
        rollup(df, series, "value", "1m", cluster=cluster).write.format("noop") \
            .mode("overwrite").save()
        agg_s = time.perf_counter() - t
    for _ in range(2):
        obs = Observation("chunks")
        t = time.perf_counter()
        encode_tier_chunks(df, series, "1h") \
            .observe(obs, F.count(F.lit(1)).alias("n")) \
            .write.format("noop").mode("overwrite").save()
        enc_s = time.perf_counter() - t
    return {"rollup.agg_1m_nosink_s": agg_s, "gorilla.encode_nosink_s": enc_s,
            "gorilla.chunks": obs.get["n"]}


def layer_metrics(b, target: Path, session_s: float, rows_in: int,
                  job_kwargs: dict, noop_range: tuple[int, int]) -> dict:
    tr = b.tr
    tr.uninstall()
    for name in tr.missing:
        print(f"perfbench: wrapper target missing: {name}", file=sys.stderr)
    sp = tr.spans
    m: dict[str, float] = {"session.start_s": session_s,
                           "trace.missing_wrappers": len(tr.missing)}

    # ---- copy path, per window (one trace id per window)
    copies = tr.roots("copy")
    per_window = []
    for root in copies:
        below = tr.under(root)
        w = {"write": {k: 0.0 for k in TABLES}, "open": 0.0, "files": 0,
             "extent": 0.0, "bookkeeping": 0.0}
        for i in below:
            s = sp[i]
            if s.name == "sources.tables.write_tier":
                key = Path(s.attrs.get("path", "")).name.replace("tier=", "") \
                    .replace("chunks=", "chunks_")
                if key in w["write"]:
                    w["write"][key] += s.dur
            elif s.name == "pyspark.read.parquet" and "files" in s.attrs:
                w["open"] += s.dur
                w["files"] += s.attrs["files"]
            elif s.name == "sources.tables.time_extent":
                w["extent"] += s.dur
            elif s.name == "sources.manifest.window":
                inner = sum(sp[j].dur for j in below if sp[j].parent == i
                            and sp[j].name in ("plans.copy_job.run_and_write_rollups",
                                               "sources.manifest.write_entry"))
                w["bookkeeping"] += s.dur - inner
        per_window.append(w)
    for k in TABLES:
        m[f"copy_job.write_s.{k}"] = median([w["write"][k] for w in per_window])
    m["copy_job.readback_open_s"] = median([w["open"] for w in per_window])
    m["copy_job.readback_files"] = median([w["files"] for w in per_window])
    m["cli.extent_s"] = median([w["extent"] for w in per_window])
    m["manifest.bookkeeping_s"] = median([w["bookkeeping"] for w in per_window])

    # self time by module over the copy phase (windows plus retention)
    phase_roots = copies + tr.roots("retention")
    wall = sum(sp[r].dur for r in phase_roots)
    by_mod = {k: 0.0 for k in COPY_MODULES}
    for r in phase_roots:
        for i in tr.under(r):
            mod = _module(sp[i].name)
            by_mod[mod] = by_mod.get(mod, 0.0) + sp[i].self_s
    uncovered = sum(sp[r].self_s for r in phase_roots)
    for k, v in by_mod.items():
        m[f"self_s.copy.{k}"] = v
    m["self_s.copy.uncovered"] = uncovered
    m["trace.copy_covered_share"] = 1 - uncovered / wall if wall else 0.0

    # ---- retention
    m["retention.expire_s"] = median([w["retention_s"] for w in b.windows
                                       if "retention_s" in w])
    m["retention.partitions_dropped"] = sum(w.get("dropped", 0) for w in b.windows)

    # ---- reads
    reads = tr.roots("read")
    opens, runs = [], []
    by_mod = {k: 0.0 for k in READ_MODULES}
    uncovered = 0.0
    for root, r in zip(reads, b.timed_reads()):
        below = [sp[i] for i in tr.under(root)]
        for s in below:
            by_mod[_module(s.name)] = by_mod.get(_module(s.name), 0.0) + s.self_s
        uncovered += sp[root].self_s
        if not r["error"]:
            opens.append(sum(s.dur for s in below if s.name == "pyspark.read.parquet"))
            runs.append(sum(s.dur for s in below if s.name == "spark.collect"))
    for k, v in by_mod.items():
        m[f"self_s.reads.{k}"] = v
    m["self_s.reads.uncovered"] = uncovered
    m["query.open_s"] = median(opens)
    m["query.run_s"] = median(runs)
    for kind in READ_KINDS:
        m[f"query.p50_ms.{kind}"] = median(
            [r["s"] * 1000 for r in b.timed_reads() if r["kind"] == kind])
    ok = sorted(r["s"] * 1000 for r in b.timed_reads() if not r["error"])
    m["query.p50_ms"] = median(ok)
    m["query.p90_ms"] = statistics.quantiles(ok, n=10)[-1] if len(ok) > 1 else 0.0

    # ---- noop legs, then Spark's counters (the legs run as group "noop")
    m.update(_noop_legs(b, job_kwargs, *noop_range))
    m["tables.sink_1m_s"] = m["copy_job.write_s.1m"] - m["rollup.agg_1m_nosink_s"]
    stats = sparkstats.collect(b.spark)
    phases = stats["phases"]
    for phase in ("copy", "reads"):
        p = phases.get(phase, {})
        for c in SPARK_COUNTERS:
            m[f"spark.{phase}.{c}"] = p.get(c, 0)
    copy_p = phases.get("copy", {})
    m["manifest.readback_rows_per_row_in"] = copy_p.get("tier_scan_rows", 0) / rows_in
    m["manifest.jobs_per_window"] = median(
        [n for g, n in stats["jobs_per_group"].items() if g.startswith("copy:")])
    read_p = phases.get("reads", {})
    n_ok = sum(1 for r in b.timed_reads() if not r["error"])
    returned = sum(r.get("n_rows", 0) for r in b.timed_reads())
    m["query.rows_scanned_per_row_returned"] = (
        read_p.get("tier_scan_rows", 0) / returned if returned else 0.0)
    m["query.files_scanned"] = read_p.get("scan_files", 0) / n_ok if n_ok else 0.0
    m.update(_table_stats(target))
    return m
