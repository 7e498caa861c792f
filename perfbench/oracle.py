"""Answers computed apart from the program, with DuckDB over the
generated input files.

Every check returns the number of disagreeing rows (0 = agrees). Tier and
read answers are compared row by row on their keys: counts, min, max,
first/last values and order keys exactly, sums to 1e-9 relative (Spark
and DuckDB add the same doubles in different orders).
"""

from __future__ import annotations

import os

import duckdb

SERIES = ("conv_id", "role", "tool")
AGG = "cnt, sum_val, min_val, max_val, first_val, last_val, first_ord, last_ord"


class Oracle:
    def __init__(self, src_dir: str, ingest_where: str = "TRUE",
                 appended: dict[str, str] | None = None):
        """`ingest_where` is the copy's -l matcher written as SQL over the
        input columns; `appended` the -T labels, which become constant
        series columns of every tier."""
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute(f"""
            CREATE TABLE src AS
            SELECT conv_id, role, tool, value,
                   epoch_ms(ts) AS ts_ms, epoch_us(ts) AS ord
            FROM read_parquet('{os.path.join(src_dir, '*.parquet')}')""")
        self.ingest_where = ingest_where
        self.appended = dict(appended or {})
        self.series = list(SERIES) + list(self.appended)

    def count(self, lo_ms: int, hi_ms: int, where: str = "TRUE") -> int:
        return self.con.execute(
            f"SELECT count(*) FROM src WHERE ts_ms BETWEEN {lo_ms} AND {hi_ms}"
            f" AND ({self.ingest_where}) AND ({where})").fetchone()[0]

    def _labels(self) -> str:
        return "".join(f", '{v}' AS {k}" for k, v in self.appended.items())

    def expected_tier(self, grain_ms: int, lo_ms: int, hi_ms: int,
                      where: str = "TRUE", offset_ms: int = 0) -> str:
        """SQL of (series..., bucket_ms, AGG) from raw samples in
        [lo_ms, hi_ms] that pass the ingest matcher and `where`. A PromQL
        `offset` reads the range shifted back and reports each bucket
        shifted forward again."""
        lo_ms, hi_ms = lo_ms - offset_ms, hi_ms - offset_ms
        return f"""
            SELECT conv_id, role, tool{self._labels()},
                   (ts_ms // {grain_ms}) * {grain_ms} + {offset_ms} AS bucket_ms,
                   count(*) AS cnt, sum(value) AS sum_val,
                   min(value) AS min_val, max(value) AS max_val,
                   arg_min(value, ord) AS first_val,
                   arg_max(value, ord) AS last_val,
                   min(ord) AS first_ord, max(ord) AS last_ord
            FROM src
            WHERE ts_ms BETWEEN {lo_ms} AND {hi_ms}
              AND ({self.ingest_where}) AND ({where})
            GROUP BY ALL"""

    def _diff(self, expected_sql: str, actual_sql: str, keys: list[str],
              exact: list[str], approx: list[str]) -> int:
        on = " AND ".join(f"e.{k} IS NOT DISTINCT FROM a.{k}" for k in keys)
        bad = ["e.conv_id IS NULL", "a.conv_id IS NULL"]  # unmatched rows
        bad += [f"e.{c} IS DISTINCT FROM a.{c}" for c in exact]
        bad += [f"abs(e.{c} - a.{c}) > 1e-9 * greatest(1.0, abs(e.{c}))"
                f" OR (e.{c} IS NULL) <> (a.{c} IS NULL)" for c in approx]
        return self.con.execute(f"""
            SELECT count(*) FROM ({expected_sql}) e
            FULL OUTER JOIN ({actual_sql}) a ON {on}
            WHERE {' OR '.join(f'({b})' for b in bad)}""").fetchone()[0]

    def check_tier(self, tier_dir: str, grain_ms: int, lo_ms: int,
                   hi_ms: int) -> int:
        """A written tier table against the raw samples of [lo_ms, hi_ms]:
        every bucket starting in the range, and each row in the part_day
        directory of its bucket."""
        actual = f"""
            SELECT * FROM read_parquet('{tier_dir}/*/*.parquet',
                                       hive_partitioning = true)
            WHERE bucket_ms BETWEEN {lo_ms} AND {hi_ms}"""
        misplaced = self.con.execute(f"""
            SELECT count(*) FROM ({actual})
            WHERE CAST(part_day AS DATE) <> CAST(epoch_ms(bucket_ms) AS DATE)
            """).fetchone()[0]
        return misplaced + self._diff(
            self.expected_tier(grain_ms, lo_ms, hi_ms), actual,
            self.series + ["bucket_ms"],
            ["cnt", "min_val", "max_val", "first_val", "last_val",
             "first_ord", "last_ord"], ["sum_val"])

    def check_range(self, rows, step_ms: int, lo_ms: int, hi_ms: int,
                    where: str, offset_ms: int = 0) -> int:
        """A query_range answer (collected rows) against the raw samples."""
        actual = self._register(rows, self.series + ["bucket_ms", *AGG.split(", ")])
        return self._diff(
            self.expected_tier(step_ms, lo_ms, hi_ms, where, offset_ms),
            f"SELECT * FROM {actual}", self.series + ["bucket_ms"],
            ["cnt", "min_val", "max_val", "first_val", "last_val",
             "first_ord", "last_ord"], ["sum_val"])

    def check_instant(self, rows, lo_ms: int, hi_ms: int, where: str) -> int:
        """A query_instant answer: per series the last sample in
        [lo_ms, hi_ms], its order key, and the 1m bucket it sits in."""
        actual = self._register(rows, self.series + ["value", "sample_ord", "bucket_ms"])
        expected = f"""
            SELECT conv_id, role, tool{self._labels()},
                   arg_max(value, ord) AS value, max(ord) AS sample_ord,
                   max((ts_ms // 60000) * 60000) AS bucket_ms
            FROM src
            WHERE ts_ms BETWEEN {lo_ms} AND {hi_ms}
              AND ({self.ingest_where}) AND ({where})
            GROUP BY ALL"""
        return self._diff(expected, f"SELECT * FROM {actual}", self.series,
                          ["value", "sample_ord", "bucket_ms"], [])

    def check_points(self, conv, role, tool, ts_ms, values) -> int:
        """Decoded chunk points against the raw samples that passed the
        ingest matcher: the same multiset of (series, ts, value)."""
        import pyarrow as pa

        pts = pa.table({"conv_id": conv, "role": role, "tool": tool,
                        "ts_ms": ts_ms, "value": values})
        self.con.register("pts", pts)
        raw = (f"SELECT conv_id, role, tool, ts_ms, value FROM src"
               f" WHERE {self.ingest_where}")
        n = self.con.execute(f"""
            SELECT (SELECT count(*) FROM ({raw} EXCEPT ALL SELECT * FROM pts))
                 + (SELECT count(*) FROM (SELECT * FROM pts EXCEPT ALL {raw}))
            """).fetchone()[0]
        self.con.unregister("pts")
        return n

    def _register(self, rows, cols: list[str]) -> str:
        import pandas as pd

        name = "answer"
        df = pd.DataFrame([tuple(r[c] for c in cols) for r in rows], columns=cols)
        for c in cols:
            if c not in self.series:
                df[c] = df[c].astype("float64" if c.endswith("_val") or c == "value"
                                     else "int64")
        self.con.register(name, df)
        return name
