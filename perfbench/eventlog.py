"""Reader for Spark's JSON event log (uncompressed, non-rolling).

``EventLog`` loads the job, stage and task records once; ``window``
turns the records that start inside a wall-clock window into the
counters the benchmark reports per operation (epoch or query): job and
stage counts, summed task run / GC time, shuffle and spill bytes, the
time no task was running, and core occupancy.
"""

from __future__ import annotations

import json
import os

from perfbench.tracer import covered

MB = 1e6


class EventLog:
    def __init__(self, events):
        self.jobs: list[float] = []  # submission times, ms
        self.stages: list[float] = []  # submission times, ms
        self.tasks: list[dict] = []
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                self.jobs.append(ev.get("Submission Time", 0))
            elif kind == "SparkListenerStageCompleted":
                self.stages.append((ev.get("Stage Info") or {}).get("Submission Time", 0))
            elif kind == "SparkListenerTaskEnd":
                ti = ev.get("Task Info") or {}
                tm = ev.get("Task Metrics") or {}
                rd = tm.get("Shuffle Read Metrics") or {}
                wr = tm.get("Shuffle Write Metrics") or {}
                self.tasks.append({
                    "launch": ti.get("Launch Time", 0),
                    "finish": ti.get("Finish Time", 0),
                    "run_ms": tm.get("Executor Run Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "read_b": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                    "write_b": wr.get("Shuffle Bytes Written", 0),
                    "spill_b": tm.get("Disk Bytes Spilled", 0),
                })

    @classmethod
    def from_dir(cls, path: str) -> "EventLog":
        """Read every event-log file under ``path`` (one app per run)."""
        def events():
            for fn in sorted(os.listdir(path)):
                with open(os.path.join(path, fn)) as f:
                    for line in f:
                        if line.strip():
                            yield json.loads(line)

        return cls(events())

    def window(self, t0_ms: float, t1_ms: float, cores: int) -> dict:
        """Counters for records starting in [t0_ms, t1_ms)."""
        inside = lambda t: t0_ms <= t < t1_ms  # noqa: E731
        tasks = [t for t in self.tasks if inside(t["launch"])]
        wall_s = (t1_ms - t0_ms) / 1e3
        run_s = sum(t["run_ms"] for t in tasks) / 1e3
        busy_s = covered(((t["launch"], t["finish"]) for t in tasks), t0_ms, t1_ms) / 1e3
        return {
            "jobs": sum(1 for t in self.jobs if inside(t)),
            "stages": sum(1 for t in self.stages if inside(t)),
            "tasks": len(tasks),
            "task_cpu_s": run_s,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "shuffle_read_mb": sum(t["read_b"] for t in tasks) / MB,
            "shuffle_write_mb": sum(t["write_b"] for t in tasks) / MB,
            "spill_mb": sum(t["spill_b"] for t in tasks) / MB,
            "no_task_s": wall_s - busy_s,
            "busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        }
