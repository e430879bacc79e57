"""Fold Spark's own event log into the ``eventlog.*`` per-layer metrics.

Spark 4 writes a rolling directory ``eventlog_v2_<app id>/events_*``;
the session is built with ``spark.eventLog.compress=false`` so the
files are plain JSON lines. Only jobs submitted inside the measured
window count, which also picks up the crawl's untagged sink-flush jobs
(they run on pool threads that carry no job description).
"""

from __future__ import annotations

import glob
import json
import os
import statistics

# "time to initialize Python workers" is not used: on a reused worker it
# keeps growing from task to task, so it cannot be summed. A worker's
# start-up is reported once, by the task that launched it.
_PY_START = "time to start Python workers"
_PY_RUN = "time to run Python workers"
_MB = 1024.0 * 1024.0


def _events(log_dir: str, app_id: str):
    for path in sorted(glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except ValueError:  # a torn last line of a live log
                    continue


def fold(log_dir: str, app_id: str, t0: float, t1: float, cores: int) -> dict:
    """Metrics for the jobs submitted in wall-clock window [t0, t1] (s)."""
    lo, hi = t0 * 1000.0, t1 * 1000.0
    stages: set[int] = set()
    jobs = 0
    run_ms: dict[int, list[float]] = {}
    py_init = py_run = read_b = write_b = 0.0
    # a job's start event precedes the end events of its tasks
    for e in _events(log_dir, app_id):
        if e["Event"] == "SparkListenerJobStart" and lo <= e["Submission Time"] <= hi:
            jobs += 1
            stages.update(e["Stage IDs"])
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stages:
            continue
        m = e.get("Task Metrics") or {}
        run_ms.setdefault(e["Stage ID"], []).append(float(m.get("Executor Run Time", 0)))
        sr = m.get("Shuffle Read Metrics") or {}
        read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        for acc in e["Task Info"].get("Accumulables", []):
            if acc.get("Name") == _PY_START:
                py_init += float(acc.get("Update", 0))
            elif acc.get("Name") == _PY_RUN:
                py_run += float(acc.get("Update", 0))
    tasks = sum(len(v) for v in run_ms.values())
    busy_ms = sum(sum(v) for v in run_ms.values())
    skew = 0.0
    if run_ms:
        widest = max(run_ms.values(), key=len)
        med = statistics.median(widest)
        skew = max(widest) / med if med > 0 else 0.0
    return {
        "eventlog.jobs": jobs,
        "eventlog.stages": len(run_ms),
        "eventlog.tasks": tasks,
        "eventlog.core_busy_share": busy_ms / max(1.0, (hi - lo) * cores),
        "eventlog.py_worker_init_s": py_init / 1000.0,
        "eventlog.py_worker_run_s": py_run / 1000.0,
        "eventlog.shuffle_read_mb": read_b / _MB,
        "eventlog.shuffle_write_mb": write_b / _MB,
        "eventlog.task_skew": skew,
    }
