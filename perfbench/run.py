"""Benchmark of the crawl frontier engine and its operator battery.

Usage (from the repository root):

    python3 perfbench/run.py --workload {link_storm,battery} --seed N \
        --seconds S --trace {0,1}

Workloads (see ``crawl.py`` and ``battery.py``):

- ``link_storm``: a crawl of a fixed 20k-page synthetic web with 30
  out-links a page and no page body, cuckoo seen-set tier, seeded with a
  seed-salted host-diverse burst; then a timed ``CrawlEngine.resume()``.
- ``battery``: the ``queries.py`` operator set over tables generated
  from the seed, each result checked against DuckDB.

The timed window runs whole operations (epochs, or passes over the
query set) until ``--seconds`` have passed and at least the workload's
minimum (2 epochs, 1 pass) has run.  One Spark session per run,
``local[nproc]``, driver memory sized from ``/proc/meminfo``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
(``E2E``); with ``--trace 1`` the run also probes each layer, reports
the per-layer metrics (``LAYERS``) and writes its spans.
The line before it is the full report: the workload's own end-to-end
metrics by name and unit (``reported``: urls_per_s, epoch_s_p50,
resume_s, warehouse_mb, battery_s, peak_rss_mb, task_cpu_s, error_rate),
the host fingerprint, a busy-loop calibration probe before and after the
run, and the correctness notes.  It is also written under
``.bench_build/perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import battery, crawl, host  # noqa: E402
from perfbench.eventlog import EventLog  # noqa: E402
from perfbench.tracer import Tracer  # noqa: E402

OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("link_storm", "battery")

# name -> (unit, better, bound); bound = tolerated worsening of the median
# Time spreads of 6-13 % between seeds on the 4-core host, where a
# busy-loop probe swings +-30 %, are why no bound is tighter.  The report
# line also carries urls_per_s, epoch_s_p50, resume_s, warehouse_mb and
# battery_s, which not every workload measures, and peak_rss_mb, which
# spread 9 % on battery (the heap is not always fully touched in one pass).
E2E = {
    "setup_s": ("s", "lower", 0.25),
    "work_s": ("s", "lower", 0.25),
    "task_cpu_s": ("core-s", "lower", 0.25),
}
# name -> (unit, better, the end-to-end metric and workload it should move).
# Layers a workload does not run report 0.
_LS = "link_storm"
LAYERS = {
    **{f"engine.{p}_s": ("s", "lower", f"work_s on {_LS} (lazily billed phase wall)")
       for p in ("ingest", "select", "fetch_parse", "rank", "status_fold", "denied",
                 "commit", "reload")},
    "engine.jobs_per_op": ("count", "lower", f"work_s on {_LS} and battery"),
    "engine.stages_per_op": ("count", "lower", f"work_s on {_LS} and battery"),
    "engine.no_task_s": ("s", "lower", f"work_s on {_LS}"),
    "engine.busy_frac": ("fraction", "higher", f"work_s on {_LS}"),
    "spark.task_cpu_s": ("core-s", "lower", "task_cpu_s on both workloads"),
    "spark.gc_s": ("s", "lower", "task_cpu_s on both workloads"),
    "spark.shuffle_read_mb": ("MB", "lower", "task_cpu_s on both workloads"),
    "spark.shuffle_write_mb": ("MB", "lower", "task_cpu_s on both workloads"),
    "spark.spill_mb": ("MB", "lower", "task_cpu_s on both workloads"),
    "urls.canon_us_per_url": ("us", "lower", f"work_s on {_LS}"),
    "urls.distinct_frac": ("fraction", "lower", f"work_s on {_LS}"),
    "seen.probe_us_per_key": ("us", "lower", f"work_s on {_LS}; none on battery"),
    "seen.positive_frac": ("fraction", "lower", f"work_s on {_LS}"),
    "seen.false_positive_frac": ("fraction", "lower", f"work_s on {_LS}"),
    "seen.load_factor": ("fraction", "lower", f"peak_rss_mb (report line) on {_LS}"),
    "frontier.select_s": ("s", "lower", f"work_s on {_LS}"),
    "frontier.ready_rows": ("count", "higher", f"work_s on {_LS}"),
    "frontier.selected_rows": ("count", "higher", f"work_s on {_LS}"),
    "frontier.merge_s": ("s", "lower", f"work_s on {_LS}"),
    "robots.gate_us_per_row": ("us", "lower", f"work_s on {_LS}"),
    "robots.denied_frac": ("fraction", "lower", f"work_s on {_LS}"),
    "extract.parse_us_per_page": ("us", "lower", f"work_s on {_LS} (small pages)"),
    "extract.mb_in": ("MB", "lower", f"work_s on {_LS}"),
    "checkpoint.write_s": ("s", "lower", f"work_s on {_LS}"),
    "checkpoint.write_mb": ("MB", "lower", f"warehouse_mb (report line) on {_LS}"),
    "checkpoint.read_s": ("s", "lower", f"resume_s (report line) and work_s on {_LS}"),
    **{f"queries.{q}_s": ("s", "lower", "work_s on battery") for q in battery.QUERY_SET},
    "trace.overhead_frac": ("fraction", "lower", "none: traced minus untraced share"),
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def event_metrics(ev: EventLog, windows, cores: int) -> dict:
    """Per-operation event-log counters (means over the timed ops)."""
    per_op = [ev.window(a, b, cores) for a, b in windows]
    mean = lambda k: sum(w[k] for w in per_op) / len(per_op)  # noqa: E731
    return {
        "engine.jobs_per_op": mean("jobs"),
        "engine.stages_per_op": mean("stages"),
        "engine.no_task_s": mean("no_task_s"),
        "engine.busy_frac": mean("busy_frac"),
        **{f"spark.{k}": mean(k) for k in (
            "task_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")},
    }


def check_repeat(workload: str, seed: int, counts) -> list[str]:
    """Counts must be identical across runs with the same seed: the first
    run of a seed in this checkout records them, later runs compare."""
    path = os.path.join(OUT, "counts", f"{workload}-{seed}.json")
    if os.path.exists(path):
        with open(path) as f:
            before = json.load(f)
        return [] if before == counts else [f"counts differ from an earlier run of seed {seed}"]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(counts, f)
    return []


def stop(spark) -> None:
    """Stop Spark and wait until the JVM (and the Python workers under
    it) has exited: closing its stdin is the gateway's exit signal."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "crawler_pyspider_spark")):
        print(f"perfbench: no crawler_pyspider_spark package under {ROOT}", file=sys.stderr)
        return 2
    workload = battery if args.workload == "battery" else crawl

    work = os.path.join(OUT, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer(enabled=bool(args.trace))
    calib = [host.calibrate()]
    try:
        with tracer.span("run", workload=args.workload, seed=args.seed):
            t = time.monotonic()
            spark, cores = host.start_session(ROOT, work, args.workload)
            session_s = time.monotonic() - t
            try:
                report = workload.run(spark, cores, args.seed, args.seconds, tracer, work)
            finally:
                stop(spark)
        calib.append(host.calibrate())
        ev = EventLog.from_dir(os.path.join(work, "events"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    windows = report.pop("windows")
    timed = ev.window(windows[0][0], windows[-1][1], cores)
    report["e2e"]["task_cpu_s"] = timed["task_cpu_s"]
    report["reported"]["task_cpu_s"] = {"value": timed["task_cpu_s"], "unit": "core-s"}
    op_sum = sum(b - a for a, b in windows) / 1e3
    report["notes"] += check_repeat(args.workload, args.seed, report.pop("counts"))
    if report["notes"] and not report["failed"]:
        report["failed"] = 1
    if args.trace:
        report["layer"] = {
            **dict.fromkeys(LAYERS, 0.0),
            **report.get("layer", {}),
            **event_metrics(ev, windows, cores),
            "trace.overhead_frac": (report["e2e"]["work_s"] - op_sum) / op_sum,
        }
    report.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        session_s=session_s, host=host.fingerprint(), calibration_ops_per_s=calib,
    )
    report["reported"]["error_rate"] = {
        "value": report["failed"] / report["attempted"], "unit": "fraction"}
    os.makedirs(OUT, exist_ok=True)
    stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1)
    if args.trace:
        tracer.write(stem + "-spans.json")

    spec = LAYERS if args.trace else E2E
    values = report["layer"] if args.trace else report["e2e"]
    print(json.dumps(report))
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": values[k], "unit": v[0]} for k, v in spec.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
