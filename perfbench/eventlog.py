"""Per-stage statistics from a Spark event log (JSON lines, uncompressed).

Groups tasks by the job group the benchmark set around each traced
action (``SparkContext.setJobGroup``), and reports for every stage:
task count, run-time maximum over median, JVM GC seconds, shuffle bytes
written and bytes spilled.  A stage is the Python stage when one of its
RDDs was created by a ``mapInPandas`` operator.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope") or ""
        if "MapInPandas" in scope or "MapInPandas" in rdd.get("Name", ""):
            return True
    return False


def stage_stats(paths: list[str]) -> dict[str, list[dict]]:
    """job group -> one dict per stage that ran tasks, in stage order."""
    group_of_stage: dict[int, str] = {}
    python_stage: dict[int, bool] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    for sid in ev.get("Stage IDs", []):
                        group_of_stage[sid] = props.get("spark.jobGroup.id")
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    python_stage[info["Stage ID"]] = _is_python_stage(info)
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    tasks[ev["Stage ID"]].append(ev["Task Metrics"])
    out: dict[str, list[dict]] = defaultdict(list)
    for sid in sorted(tasks):
        ms = tasks[sid]
        run = [m.get("Executor Run Time", 0) / 1000 for m in ms]
        med = statistics.median(run)
        out[group_of_stage.get(sid)].append(
            {
                "stage": sid,
                "python": python_stage.get(sid, False),
                "tasks": len(ms),
                "run_s": sum(run),
                "skew": max(run) / med if med > 0 else 1.0,
                "gc_s": sum(m.get("JVM GC Time", 0) for m in ms) / 1000,
                "shuffle_write_mb": sum(
                    (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    for m in ms
                ) / 1e6,
                "spill_mb": sum(
                    m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0)
                    for m in ms
                ) / 1e6,
            }
        )
    return out


def find_log(log_dir: str, app_id: str) -> list[str]:
    """The event log files of a stopped application, in write order.

    Spark 4 writes a rolling log by default: a directory
    ``eventlog_v2_<app>`` of ``events_<n>_<app>`` parts."""
    rolled = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolled):
        parts = [n for n in os.listdir(rolled) if n.startswith("events_")]
        parts.sort(key=lambda n: int(n.split("_")[1]))
        return [os.path.join(rolled, n) for n in parts]
    plain = os.path.join(log_dir, app_id)
    if os.path.exists(plain):
        return [plain]
    raise FileNotFoundError(f"no completed event log for {app_id} in {log_dir}")
