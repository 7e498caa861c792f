"""Seeded transcript history for the benchmark.

One row per conversation turn, the engine's transcripts schema:
    (conv_id string, turn_idx int32, role string, text string,
     tool string?, ts timestamp[us], value double)

Make-up: `convs_per_day` conversations start on every day of the history
(steady daily arrivals, uniform start time within the day). Conversation
lengths are zipf(1.5) clipped to [1, MAX_TURNS], so a handful of
conversations are hot: a 2000-turn conversation runs for about three
weeks of 1 s - 30 min gaps and owns thousands of samples. Values are
per-turn latencies in seconds with three decimals, so the 1m/1h/1d sums
are inexact doubles and the Gorilla XOR stream sees real mantissas.
Turns past the end of the history are cut, so every day holds its own
arrivals plus the tails of earlier conversations.

Files: one zstd parquet file per UTC day, rows in time order, as a daily
export would land. The same (seed, days, convs_per_day) always gives
byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_MS = 1767225600000  # 2026-01-01T00:00:00Z
DAY_MS = 86_400_000
MAX_TURNS = 2000
ZIPF_A = 1.5
TOOLS = np.array(["search", "exec", "browse", "db"], dtype=object)


def make_history(seed: int, days: int, convs_per_day: int) -> pa.Table:
    """The whole history as one Arrow table sorted by ts."""
    rng = np.random.default_rng(seed)
    n_convs = days * convs_per_day
    lengths = np.clip(rng.zipf(ZIPF_A, n_convs), 1, MAX_TURNS).astype(np.int64)
    total = int(lengths.sum())
    conv_first = np.concatenate([[0], np.cumsum(lengths)[:-1]])

    start_ms = (BASE_MS + np.repeat(np.arange(days), convs_per_day) * DAY_MS
                + rng.integers(0, DAY_MS, n_convs))
    gaps = rng.integers(1000, 30 * 60 * 1000, total)
    gaps[conv_first] = 0
    csum = np.cumsum(gaps)
    ts_ms = np.repeat(start_ms, lengths) + csum - np.repeat(csum[conv_first], lengths)

    conv = np.repeat(np.arange(n_convs), lengths)
    turn_idx = np.arange(total) - np.repeat(conv_first, lengths)

    # roles: user/assistant alternation, system at turn 0 with p=.3,
    # a tool call after an assistant turn with p=.2
    roles = np.where(turn_idx % 2 == 0, "user", "assistant").astype(object)
    roles[(turn_idx == 0) & (rng.random(total) < 0.3)] = "system"
    after_assistant = np.zeros(total, dtype=bool)
    after_assistant[1:] = (roles[:-1] == "assistant") & (turn_idx[1:] > 0)
    tool_turn = after_assistant & (rng.random(total) < 0.2)
    roles[tool_turn] = "tool"
    tools = np.full(total, None, dtype=object)
    tools[tool_turn] = TOOLS[rng.integers(0, len(TOOLS), int(tool_turn.sum()))]
    values = np.round(rng.lognormal(0.0, 1.0, total), 3)

    keep = ts_ms < BASE_MS + days * DAY_MS
    order = np.argsort(ts_ms[keep], kind="stable")

    def col(a):
        return a[keep][order]

    names = np.array([f"c-{i:06d}" for i in range(n_convs)], dtype=object)
    return pa.table({
        "conv_id": pa.array(names[col(conv)], pa.string()),
        "turn_idx": pa.array(col(turn_idx).astype(np.int32)),
        "role": pa.array(col(roles), pa.string()),
        "text": pa.array(np.full(int(keep.sum()), "t", dtype=object), pa.string()),
        "tool": pa.array(col(tools), pa.string()),
        "ts": pa.array(col(ts_ms) * 1000, pa.timestamp("us")),
        "value": pa.array(col(values), pa.float64()),
    })


def write_history(path: str, seed: int, days: int, convs_per_day: int) -> int:
    """Write one parquet file per day under `path`; returns the row count."""
    table = make_history(seed, days, convs_per_day)
    os.makedirs(path, exist_ok=True)
    day = (table["ts"].to_numpy().astype("datetime64[ms]").astype(np.int64)
           - BASE_MS) // DAY_MS
    bounds = np.searchsorted(day, np.arange(days + 1))
    for d in range(days):
        lo, hi = int(bounds[d]), int(bounds[d + 1])
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"day-{d:03d}.parquet"),
                       compression="zstd")
    return table.num_rows
