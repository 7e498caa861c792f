"""Spark's own counters per benchmark phase, read from its REST status
API (the UI is enabled only in the traced run).

Every Spark job the benchmark causes runs under a job group
`<phase>:<n>` (one per copy window, one per read), so stages and SQL
executions map back to the phase and to the window or read that
started them.
"""

from __future__ import annotations

import json
import re
import urllib.request

UI_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",  # any free port
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


LOCATION = re.compile(r"Location: \w+ \[([^\]]*)\]")


def _get(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def _num(s) -> float:
    """A SQL metric value: '1,234' or '12.3 ms (...)' -> its first number."""
    head = str(s).split()[0].replace(",", "")
    try:
        return float(head)
    except ValueError:
        return 0.0


def collect(spark) -> dict:
    """{phase: {counter: value}} and {group: jobs} over every job run so far.

    Counters: jobs, tasks, executor CPU s, GC s, shuffle write bytes,
    spill bytes (memory + disk), input bytes; per scan of a tier or chunk
    table the rows and files it read (`tier_scan_rows`, `scan_files`),
    and the rows of every other scan (`other_scan_rows`)."""
    jobs = _get(spark, "jobs")
    stages = {s["stageId"]: s for s in _get(spark, "stages")}
    sql = _get(spark, "sql?details=true&planDescription=true&offset=0&length=100000")
    group_of_job = {j["jobId"]: j.get("jobGroup") or "" for j in jobs}
    jobs_per_group: dict[str, int] = {}
    phases: dict[str, dict] = {}

    def ph(group: str) -> dict:
        return phases.setdefault(group.split(":")[0], {
            "jobs": 0, "tasks": 0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
            "tier_scan_rows": 0, "other_scan_rows": 0, "scan_files": 0})

    for j in jobs:
        g = j.get("jobGroup") or ""
        jobs_per_group[g] = jobs_per_group.get(g, 0) + 1
        p = ph(g)
        p["jobs"] += 1
        for sid in j.get("stageIds", []):
            s = stages.pop(sid, None)  # a stage shared by jobs counts once
            if s is None:
                continue
            p["tasks"] += s.get("numCompleteTasks", 0)
            p["executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            p["gc_s"] += s.get("jvmGcTime", 0) / 1e3
            p["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
            p["spill_bytes"] += (s.get("memoryBytesSpilled", 0)
                                 + s.get("diskBytesSpilled", 0))
            p["input_bytes"] += s.get("inputBytes", 0)
    for ex in sql:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        if not ids:
            continue
        p = ph(group_of_job.get(ids[0], ""))
        # every plan of the copy and read paths scans one table; its
        # Location line tells a tier read-back from a source scan
        scanned = " ".join(LOCATION.findall(ex.get("planDescription", "")))
        tier = "tier=" in scanned or "chunks=" in scanned
        for node in ex.get("nodes", []):
            if not node.get("nodeName", "").startswith("Scan"):
                continue
            m = {x["name"]: x["value"] for x in node.get("metrics", [])}
            rows = _num(m.get("number of output rows", 0))
            p["tier_scan_rows" if tier else "other_scan_rows"] += rows
            if tier:
                p["scan_files"] += _num(m.get("number of files read", 0))
    return {"phases": phases, "jobs_per_group": jobs_per_group}
