"""Span recorder and the arithmetic the benchmark reports.

Spans stay in memory (a list of dicts) and are written out once, when
the run ends. A span has a name, a start and end (``time.perf_counter``
seconds), its parent span and the id of the operation it belongs to.
Nothing here imports Spark, so the arithmetic is unit-tested on its own.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager


class Recorder:
    """In-memory spans. ``enabled=False`` makes every call a no-op, so the
    untraced run pays one attribute check per wrapped call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    direct children cover (children clipped to the parent interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = union_length(
            (max(a, lo), min(b, hi)) for a, b in kids.get(s["id"], ()) if b > lo and a < hi
        )
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_self_seconds(spans: list[dict]) -> dict[str, float]:
    """Self time summed per span name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


def tail_percentile(samples, beyond: int = 10):
    """Highest whole percentile p whose nearest-rank value still has at
    least ``beyond`` samples ranked after it. Returns ``(p, value, n)``;
    ``p`` is None when there are too few samples (then value is the max)."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        k = max(1, math.ceil(p / 100 * n))  # 1-based nearest rank
        if n - k >= beyond:
            return p, xs[k - 1], n
    return None, (xs[-1] if xs else float("nan")), n


def median(xs) -> float:
    xs = sorted(xs)
    n = len(xs)
    if not n:
        return float("nan")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def warehouse_walk(root: str) -> dict:
    """Bytes and files on disk under a snapshot-table warehouse, split
    into data files (``*.parquet`` under a ``data`` directory), delete
    files (``*.parquet`` anywhere else) and metadata (everything else:
    snapshot JSON, pointers, checksums, markers)."""
    out = {"data_files": 0, "data_bytes": 0, "delete_files": 0,
           "delete_bytes": 0, "meta_bytes": 0}
    for dirpath, _dirs, files in os.walk(root):
        in_data = f"{os.sep}data{os.sep}" in dirpath + os.sep
        for f in files:
            size = os.path.getsize(os.path.join(dirpath, f))
            if f.endswith(".parquet") and not f.startswith("."):
                kind = "data" if in_data else "delete"
                out[f"{kind}_files"] += 1
                out[f"{kind}_bytes"] += size
            else:
                out["meta_bytes"] += size
    return out


def walk_delta(before: dict, after: dict) -> dict:
    """Per-key growth between two walks, floored at 0: an operation that
    removes files is reported as writing nothing, not a negative amount."""
    return {k: max(0, after[k] - before[k]) for k in after}
