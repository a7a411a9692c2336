"""Engine-wide metrics from Spark's own event log (uncompressed JSON lines).

Only jobs submitted and tasks launched inside a time window are counted,
so the warm-up crawl and the untraced control crawl of a traced run stay
out of the traced crawl's numbers.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

POOLS = ("critical", "harvest", "lagging")

# SQL metrics of the Arrow Python runners (Spark 4.1 names); ms and bytes
PY_RUN = "time to run Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"


def _events(log_dir: str):
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".") and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    with open(files[0]) as f:
        for line in f:
            yield json.loads(line)


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def window_metrics(log_dir: str, t0: float, t1: float) -> dict:
    """Job, pool and task metrics for jobs/tasks started in [t0, t1] (epoch s)."""
    lo, hi = int(t0 * 1000), int(t1 * 1000)
    jobs: dict[int, dict] = {}
    acc = defaultdict(float)
    for e in _events(log_dir):
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            if lo <= e["Submission Time"] <= hi:
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "start": e["Submission Time"],
                    "pool": props.get("spark.scheduler.pool", "default"),
                    "label": props.get("spark.job.description"),
                }
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif ev == "SparkListenerTaskEnd":
            info = e["Task Info"]
            if not lo <= info["Launch Time"] <= hi:
                continue
            tm = e.get("Task Metrics") or {}
            acc["tasks"] += 1
            acc["run_ms"] += tm.get("Executor Run Time", 0)
            acc["cpu_ns"] += tm.get("Executor CPU Time", 0)
            acc["gc_ms"] += tm.get("JVM GC Time", 0)
            acc["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            acc["shuffle_b"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            for a in info.get("Accumulables") or ():
                if a.get("Name") in (PY_RUN, PY_INIT, PY_SENT):
                    acc[a["Name"]] += float(a.get("Update") or 0)
    busy = {p: [] for p in POOLS}
    labels = defaultdict(int)
    for j in jobs.values():
        if j["pool"] in busy and "end" in j:
            busy[j["pool"]].append((j["start"], j["end"]))
        if j["label"]:
            labels[j["label"]] += 1
    return {
        "jobs": len(jobs),
        "jobs_by_label": dict(labels),
        "pool_busy_s": {p: _union_s(iv) for p, iv in busy.items()},
        "tasks": int(acc["tasks"]),
        "executor_run_s": acc["run_ms"] / 1e3,
        "executor_cpu_s": acc["cpu_ns"] / 1e9,
        "gc_s": acc["gc_ms"] / 1e3,
        "spill_mb": acc["spill_b"] / 1e6,
        "shuffle_write_mb": acc["shuffle_b"] / 1e6,
        "python_run_s": acc[PY_RUN] / 1e3,
        "python_init_s": acc[PY_INIT] / 1e3,
        "python_mb_sent": acc[PY_SENT] / 1e6,
    }
