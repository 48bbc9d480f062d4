"""Tests for the benchmark's own code, on canned inputs (no Spark).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import run
from perfbench.eventlog import EventLog
from perfbench.stats import percentile, supported_percentile, timing_summary
from perfbench.tracer import Tracer, covered, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _task(launch, finish, run_ms, gc_ms=0, read=(0, 0), write=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Shuffle Read Metrics": {"Remote Bytes Read": read[0], "Local Bytes Read": read[1]},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
            "Memory Bytes Spilled": 999,
            "Disk Bytes Spilled": spill,
        },
    }


CANNED = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
    {"Event": "SparkListenerJobStart", "Submission Time": 1000},
    {"Event": "SparkListenerJobStart", "Submission Time": 2500},
    {"Event": "SparkListenerJobStart", "Submission Time": 9000},  # outside
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Submission Time": 1000}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Submission Time": 2600}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Submission Time": 2700}},
    _task(1000, 2000, 900, gc_ms=100, read=(1_000_000, 500_000), write=2_000_000),
    _task(1500, 2500, 1000, spill=3_000_000),  # overlaps the first
    _task(3000, 3500, 500),
    _task(8000, 8500, 500),  # launched outside the window
]


def test_eventlog_window_counters():
    w = EventLog(CANNED).window(1000, 5000, cores=2)
    assert w["jobs"] == 2
    assert w["stages"] == 3
    assert w["tasks"] == 3
    assert w["task_cpu_s"] == pytest.approx(2.4)
    assert w["gc_s"] == pytest.approx(0.1)
    assert w["shuffle_read_mb"] == pytest.approx(1.5)
    assert w["shuffle_write_mb"] == pytest.approx(2.0)
    assert w["spill_mb"] == pytest.approx(3.0)
    # tasks cover [1000, 2500] and [3000, 3500] of a 4 s window
    assert w["no_task_s"] == pytest.approx(4.0 - 2.0)
    assert w["busy_frac"] == pytest.approx(2.4 / (4.0 * 2))


def test_eventlog_reads_json_lines(tmp_path):
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in CANNED) + "\n")
    ev = EventLog.from_dir(str(tmp_path))
    assert len(ev.tasks) == 4 and len(ev.jobs) == 3
    assert ev.window(0, 10_000, 1)["tasks"] == 4


def test_percentile_needs_ten_samples_beyond():
    assert supported_percentile(9) is None
    assert supported_percentile(19) is None
    assert supported_percentile(20) == 50.0
    assert supported_percentile(40) == 75.0
    assert supported_percentile(100) == 90.0
    assert supported_percentile(200) == 95.0
    assert supported_percentile(1000) == 99.0
    assert supported_percentile(10_000) == 99.9


def test_timing_summary_reports_count_and_tail():
    s = timing_summary([3.0, 1.0, 2.0])
    assert s == {"p50": 2.0, "tail_pct": None, "tail": None, "n": 3}
    vals = list(range(1, 101))
    s = timing_summary(vals)
    assert s["n"] == 100 and s["tail_pct"] == 90.0
    assert s["tail"] == pytest.approx(percentile(vals, 90.0)) == pytest.approx(90.1)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert covered([], 0, 1) == 0


def test_self_time_subtracts_child_cover():
    spans = [
        {"id": 0, "name": "run", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "epoch", "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "name": "epoch", "parent": 0, "start": 6.0, "end": 9.0},
        {"id": 3, "name": "engine.ingest", "parent": 1, "start": 1.0, "end": 2.0},
        {"id": 4, "name": "probe", "parent": 1, "start": 1.5, "end": 3.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 7)
    assert st[1] == pytest.approx(4 - 2)  # children cover [1, 3]
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)


def test_tracer_nests_and_writes(tmp_path):
    tr = Tracer()
    with tr.span("run"):
        with tr.span("epoch", epoch=0) as attrs:
            attrs["selected"] = 5
        tr.add("engine.ingest", 0.0, 0.0, tr.last("epoch")["id"])
    assert [s["parent"] for s in tr.spans] == [None, 0, 1]
    assert tr.spans[1]["attrs"] == {"epoch": 0, "selected": 5}
    out = tmp_path / "spans.json"
    tr.write(str(out))
    assert len(json.loads(out.read_text())["spans"]) == 3

    off = Tracer(enabled=False)
    with off.span("run"):
        pass
    assert off.spans == []


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
        k: v[:2] for k, v in run.LAYERS.items()}
