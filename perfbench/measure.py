"""Measurement helpers of the benchmark that need no Spark: percentiles,
process-tree CPU and memory from ``/proc``, spans with self time, stream
progress parsing and the output-checksum comparison.

Kept free of Spark imports so the unit tests in ``tests/`` run in
milliseconds.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager

# Samples a reported percentile must leave above it: with fewer, the value
# is set by one or two outliers and does not repeat between runs.
TAIL_SAMPLES = 10


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-quantile (0..1) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def kind_p50(samples) -> float:
    """Geometric mean over op kinds of each kind's median latency, from
    ``(kind, ms)`` pairs. A median pooled over a fixed mix of kinds falls
    in the gap between two kinds' clusters and jumps between runs; this
    one moves only when the kinds' own latencies move."""
    by_kind: dict[str, list[float]] = {}
    for kind, ms in samples:
        by_kind.setdefault(kind, []).append(ms)
    logs = [math.log(percentile(v, 0.5)) for v in by_kind.values()]
    return math.exp(sum(logs) / len(logs))


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie beyond the ``q``-quantile: n(1 - q),
    so a p90 needs 100 samples to leave ten beyond it."""
    return math.floor(n * (1 - q) + 1e-9)


def highest_supported_percentile(n: int, beyond: int = TAIL_SAMPLES) -> float:
    """The highest quantile, in whole percent, that leaves at least
    ``beyond`` of ``n`` samples above it (0.0 when ``n`` is too small)."""
    for pct in range(99, 0, -1):
        if samples_beyond(n, pct / 100) >= beyond:
            return pct / 100
    return 0.0


# ---------------------------------------------------------------- /proc ---

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def stat_fields(pid: int, proc: str = "/proc") -> list[str] | None:
    try:
        with open(f"{proc}/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'.
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and every live descendant, found through the ppid field."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        fields = stat_fields(int(name), proc)
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_ms(root: int, proc: str = "/proc") -> float:
    """User plus system CPU of ``root``'s process tree, in ms. Ended
    children that were waited for are counted through cutime/cstime."""
    ticks = 0
    for pid in tree_pids(root, proc):
        fields = stat_fields(pid, proc)
        if fields is not None:
            # fields[0] is stat field 3 (state): utime..cstime are 14..17.
            ticks += sum(int(x) for x in fields[11:15])
    return ticks * 1000.0 / _CLK_TCK


def tree_pss_mb(root: int, proc: str = "/proc") -> float:
    """Proportional set size of ``root``'s process tree, in MiB. Unlike
    RSS it counts a page shared by several processes once in total, so
    the Python workers Spark forks from one daemon are not counted twice."""
    kb = 0
    for pid in tree_pids(root, proc):
        try:
            with open(f"{proc}/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:  # the process ended while being read
            pass
    return kb / 1024


class PeakSampler:
    """Samples the tree's PSS on a thread and keeps the peak."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def box_probe_ms(n: int = 2_000_000) -> float:
    """Wall time of a fixed single-threaded integer loop: compared before
    and after a run it tells a slower box apart from slower code."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return (time.perf_counter() - t0) * 1000.0


# ---------------------------------------------------------------- spans ---

class Tracer:
    """Spans kept in memory: name, start, end, parent and op id. A
    disabled tracer records nothing and costs one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name, start, end, parent=None, op=None) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "op": op}
        )
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, op=None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.perf_counter(), None, parent, op)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _covered(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans) -> dict[int, float]:
    """Per span id: its duration minus the part of it covered by its
    children, in the spans' time unit."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(lo, s["start"]), min(hi, s["end"]))
            for lo, hi in kids.get(s["id"], ())
            if hi > s["start"] and lo < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - _covered(clipped)
    return out


def self_time_by_layer(spans) -> dict[str, float]:
    """Total self time per span name."""
    per = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + per[s["id"]]
    return out


def descendants(spans, root_id: int) -> list[dict]:
    """``root_id``'s span and every span below it."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [s for s in spans if s["id"] == root_id]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], ()))
    return out


# ------------------------------------------------------ stream progress ---

# durationMs keys of StreamingQueryProgress that name a phase of a trigger.
PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
          "latestOffset", "getBatch")


def parse_progress(progress_json: str) -> dict:
    """The fields of one ``StreamingQueryProgress.json`` the benchmark
    reads: phase durations, input and sink rows, and state-store figures
    summed over the query's stateful operators."""
    p = json.loads(progress_json)
    dur = p.get("durationMs", {})
    ops = p.get("stateOperators", [])
    custom = [o.get("customMetrics", {}) for o in ops]
    hits = sum(c.get("loadedMapCacheHitCount", 0) for c in custom)
    misses = sum(c.get("loadedMapCacheMissCount", 0) for c in custom)
    return {
        "batch_id": p["batchId"],
        "timestamp": p["timestamp"],
        "trigger_ms": dur.get("triggerExecution", 0),
        "phases_ms": {k: dur.get(k, 0) for k in PHASES},
        "input_rows": p.get("numInputRows", 0),
        "sink_rows": max(p.get("sink", {}).get("numOutputRows", 0), 0),
        "state_update_ms": sum(o.get("allUpdatesTimeMs", 0) for o in ops),
        "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
        "state_rows_total": sum(o.get("numRowsTotal", 0) for o in ops),
        "state_memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
        "state_cache_hits": hits,
        "state_cache_misses": misses,
    }


# -------------------------------------------------------------- checks ---

class OutputMismatch(Exception):
    """An op's output differs from the expected one."""


def check_output(name: str, got, expected) -> None:
    """Raise :class:`OutputMismatch` unless ``got`` equals ``expected``
    (``(rows, checksum...)`` tuples)."""
    if tuple(got) != tuple(expected):
        raise OutputMismatch(f"{name}: got {tuple(got)}, expected {tuple(expected)}")
