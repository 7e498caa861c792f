"""Spans around the package's public functions, kept in memory.

The traced run replaces each wrapped function at its module attribute
(or class attribute) with a timing wrapper. The copy path imports these
names inside its function bodies, so the patched attribute is what it
calls. A target that no longer exists is listed in `missing`, never
fatal: the per-layer metrics that depend on it then read as absent.

A span is (name, start, end, parent, trace id, attrs). Self time is the
span's duration minus the part of it that its child spans cover; spans
here nest strictly (one thread, one Spark action at a time), so that is
the duration minus the children's durations.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import time
from dataclasses import dataclass, field

PKG = "prom_tsdb_copyer_spark"

#: (module, attribute path, span name) of every wrapped public function
TARGETS = (
    ("cli", "main", "cli.main"),
    ("sources.tables", "time_extent", "sources.tables.time_extent"),
    ("sources.manifest", "ResumableRollup.run", "sources.manifest.window"),
    ("sources.manifest", "write_entry", "sources.manifest.write_entry"),
    ("plans.copy_job", "run_and_write_rollups",
     "plans.copy_job.run_and_write_rollups"),
    ("sources.tables", "write_tier", "sources.tables.write_tier"),
    ("functions.gorilla", "encode_tier_chunks",
     "functions.gorilla.encode_tier_chunks"),
    ("operators.query", "read_tier_auto", "operators.query.read_tier_auto"),
    ("operators.query", "query_range", "operators.query.query_range"),
    ("operators.query", "query_instant", "operators.query.query_instant"),
    ("operators.retention", "expire_partitions",
     "operators.retention.expire_partitions"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    trace: str = ""
    attrs: dict = field(default_factory=dict)
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    """Span recorder. `enabled=False` makes every span a no-op, so the
    untraced run pays one attribute test per boundary and nothing else."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.trace_id = ""
        self.missing: list[str] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(name, time.perf_counter(),
                  parent=self._stack[-1] if self._stack else -1,
                  trace=self.trace_id, attrs=attrs)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()
            if sp.parent >= 0:
                self.spans[sp.parent].child_s += sp.dur

    def _wrap(self, fn, name: str, describe):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, **describe(args, kwargs)):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap every target plus `DataFrameReader.parquet`; spans
        recorded before this (set-up) are dropped."""
        self.spans.clear()
        for mod_name, attr_path, span_name in TARGETS:
            try:
                owner = importlib.import_module(f"{PKG}.{mod_name}")
                *outer, attr = attr_path.split(".")
                for part in outer:
                    owner = getattr(owner, part)
                fn = getattr(owner, attr)
            except (ImportError, AttributeError):
                self.missing.append(f"{mod_name}.{attr_path}")
                continue
            self._patch(owner, attr, self._wrap(fn, span_name, _describe))
        try:
            from pyspark.sql.readwriter import DataFrameReader

            self._patch(DataFrameReader, "parquet", self._wrap(
                DataFrameReader.parquet, "pyspark.read.parquet", _describe_read))
        except (ImportError, AttributeError):
            self.missing.append("pyspark.DataFrameReader.parquet")

    def _patch(self, owner, attr, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()

    # ---- queries over the recorded spans

    def under(self, root: int) -> list[int]:
        """Indices of the spans below `root` (descendants, not itself)."""
        out, frontier = [], {root}
        for i in range(root + 1, len(self.spans)):
            if self.spans[i].parent in frontier:
                frontier.add(i)
                out.append(i)
        return out

    def roots(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]


def _describe(args, kwargs) -> dict:
    """The path argument of a wrapped call, when it has one."""
    for a in (*args, *kwargs.values()):
        if isinstance(a, str) and os.sep in a:
            return {"path": a}
    return {}


def _describe_read(args, kwargs) -> dict:
    """Path and, for a tier or chunk table, the data files it holds now:
    a read filtered on bucket_ms alone lists and opens every one."""
    paths = [a for a in args[1:] if isinstance(a, str)]
    if not paths:
        return {}
    out = {"path": paths[0]}
    if "tier=" in paths[0] or "chunks=" in paths[0]:
        out["files"] = count_files(paths[0])
    return out


def count_files(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(f.endswith(".parquet") for f in files)
    return n
