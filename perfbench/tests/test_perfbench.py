"""Unit tests of the benchmark's own measuring code (no Spark needed):
``python3 -m pytest perfbench/tests -q`` from the repository root."""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import harness  # noqa: E402
import measure  # noqa: E402


# ---------------------------------------------------------- percentiles ---

def test_percentile_interpolates():
    assert measure.percentile([3, 1, 2], 0.5) == 2
    assert measure.percentile([0, 10], 0.25) == 2.5
    with pytest.raises(ValueError):
        measure.percentile([], 0.5)


@pytest.mark.parametrize("n, expected", [(100, 0.90), (1000, 0.99), (21, 0.52), (20, 0.50), (9, 0.0)])
def test_highest_percentile_leaves_ten_samples_beyond(n, expected):
    q = measure.highest_supported_percentile(n)
    assert q == expected
    if q:
        assert measure.samples_beyond(n, q) >= 10
        assert measure.samples_beyond(n, q + 0.01) < 10 or q == 0.99


def test_kind_p50_is_the_geometric_mean_of_kind_medians():
    samples = [("a", 100.0), ("b", 400.0), ("a", 300.0), ("b", 400.0), ("a", 100.0)]
    assert measure.kind_p50(samples) == pytest.approx((100.0 * 400.0) ** 0.5)
    assert measure.kind_p50([("a", 7.0)]) == pytest.approx(7.0)


def test_p90_needs_a_hundred_samples():
    assert measure.samples_beyond(100, 0.9) == 10
    assert measure.samples_beyond(99, 0.9) < 10


# ----------------------------------------------------------------- /proc ---

def _fake_proc(tmp_path, procs):
    """procs: pid -> (ppid, comm, utime, stime, cutime, cstime) in ticks."""
    for pid, (ppid, comm, *cpu) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        # Fields 3..13 before utime: state ppid pgrp session tty tpgid flags
        # minflt cminflt majflt cmajflt.
        head = ["S", str(ppid), "1", "1", "0", "-1", "0", "0", "0", "0", "0"]
        tail = ["20", "0", "1", "0"]
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(head + [str(c) for c in cpu] + tail))
        (d / "smaps_rollup").write_text(f"00-ff ---p 0 0:0 0 [rollup]\nRss: 4096 kB\nPss: {pid * 1024} kB\n")
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_tree_cpu_sums_descendants_only(tmp_path):
    proc = _fake_proc(tmp_path, {
        10: (1, "python3", 100, 50, 0, 0),
        11: (10, "java (spark) x", 400, 100, 7, 3),  # comm with spaces and ')'
        12: (11, "python3 -m daemon", 20, 10, 30, 10),
        13: (1, "unrelated", 999, 999, 0, 0),
    })
    ticks = (100 + 50) + (400 + 100 + 7 + 3) + (20 + 10 + 30 + 10)
    assert measure.tree_pids(10, proc) and sorted(measure.tree_pids(10, proc)) == [10, 11, 12]
    assert measure.tree_cpu_ms(10, proc) == pytest.approx(ticks * 1000 / os.sysconf("SC_CLK_TCK"))


def test_tree_pss_counts_each_process(tmp_path):
    proc = _fake_proc(tmp_path, {20: (1, "a", 0, 0, 0, 0), 21: (20, "b", 0, 0, 0, 0)})
    assert measure.tree_pss_mb(20, proc) == 20 + 21


def test_tree_cpu_of_this_process_grows():
    before = measure.tree_cpu_ms(os.getpid())
    measure.box_probe_ms(300_000)
    assert measure.tree_cpu_ms(os.getpid()) >= before


# ---------------------------------------------------------------- spans ---

def _span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "op": 0}


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "read", 1.0, 4.0, 0),
        _span(2, "build", 3.0, 6.0, 0),  # overlaps read: 1..6 covered once
        _span(3, "action", 8.0, 9.0, 0),
        _span(4, "stage", 8.2, 8.7, 3),
    ]
    own = measure.self_times(spans)
    assert own[0] == pytest.approx(10 - 5 - 1)
    assert own[3] == pytest.approx(0.5)
    by_layer = measure.self_time_by_layer(spans)
    assert by_layer["op"] == pytest.approx(4.0)
    assert by_layer["stage"] == pytest.approx(0.5)


def test_self_times_cover_the_root_when_children_nest():
    spans = [_span(0, "op", 0.0, 2.0), _span(1, "a", 0.5, 1.5, 0), _span(2, "b", 0.7, 0.9, 1)]
    assert sum(measure.self_times(spans).values()) == pytest.approx(2.0)


def test_child_outside_parent_is_clipped():
    spans = [_span(0, "op", 0.0, 1.0), _span(1, "late", 0.5, 3.0, 0)]
    assert measure.self_times(spans)[0] == pytest.approx(0.5)


def test_tracer_records_nesting_and_disabled_records_nothing():
    t = measure.Tracer(enabled=True)
    with t.span("op", op=7) as root:
        with t.span("read", op=7):
            pass
    assert [s["parent"] for s in t.spans] == [None, root]
    assert all(s["end"] >= s["start"] for s in t.spans)
    off = measure.Tracer(enabled=False)
    with off.span("op") as sid:
        assert sid is None
    assert off.spans == []


def test_descendants_follow_parent_links():
    spans = [_span(0, "op", 0, 1), _span(1, "a", 0, 1, 0), _span(2, "b", 0, 1, 1),
             _span(3, "op", 1, 2)]
    assert sorted(s["id"] for s in measure.descendants(spans, 0)) == [0, 1, 2]


# ------------------------------------------------------------- progress ---

PROGRESS = {
    "id": "q", "runId": "r", "name": "w2_3", "timestamp": "2026-01-02T03:04:05.678Z",
    "batchId": 2, "numInputRows": 4800,
    "durationMs": {"addBatch": 700, "commitOffsets": 30, "getBatch": 5, "latestOffset": 31,
                   "queryPlanning": 40, "triggerExecution": 830, "walCommit": 24},
    "stateOperators": [
        {"operatorName": "applyInPandasWithState", "numRowsTotal": 24, "numRowsUpdated": 24,
         "allUpdatesTimeMs": 1500, "commitTimeMs": 200, "memoryUsedBytes": 9000,
         "customMetrics": {"loadedMapCacheHitCount": 6, "loadedMapCacheMissCount": 2}},
        {"operatorName": "x", "numRowsTotal": 1, "allUpdatesTimeMs": 5, "commitTimeMs": 1,
         "memoryUsedBytes": 100, "customMetrics": {}},
    ],
    "sources": [], "sink": {"description": "MemorySink", "numOutputRows": 96},
}


def test_parse_progress_reads_phases_state_and_sink():
    p = measure.parse_progress(json.dumps(PROGRESS))
    assert p["trigger_ms"] == 830
    assert p["phases_ms"] == {"addBatch": 700, "queryPlanning": 40, "walCommit": 24,
                              "commitOffsets": 30, "latestOffset": 31, "getBatch": 5}
    assert (p["input_rows"], p["sink_rows"]) == (4800, 96)
    assert (p["state_update_ms"], p["state_commit_ms"]) == (1505, 201)
    assert (p["state_rows_total"], p["state_memory_bytes"]) == (25, 9100)
    assert (p["state_cache_hits"], p["state_cache_misses"]) == (6, 2)


def test_parse_progress_tolerates_missing_sections():
    bare = {"batchId": 0, "timestamp": "2026-01-02T03:04:05.678Z", "numInputRows": 0,
            "durationMs": {"triggerExecution": 3}, "sink": {"numOutputRows": -1}}
    p = measure.parse_progress(json.dumps(bare))
    assert p["sink_rows"] == 0 and p["phases_ms"]["addBatch"] == 0 and p["state_rows_total"] == 0


# --------------------------------------------------------------- checks ---

def test_tampered_expected_checksum_is_caught():
    got = (400_000, 858_993_459_200_123, -12_345_678_901)
    measure.check_output("w1", got, got)
    for i in range(3):
        tampered = list(got)
        tampered[i] += 1
        with pytest.raises(measure.OutputMismatch):
            measure.check_output("w1", got, tampered)


# ------------------------------------------------------ BENCHMARK.json ---

def test_benchmark_json_lists_what_the_harness_reports():
    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(harness.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(harness.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == harness.per_layer_names()
