"""Per-job task metrics from a Spark JSON event log.

The benchmark labels each job it runs with ``setJobDescription``; the log
maps each job to its stages (``SparkListenerJobStart``) and each finished
task to its stage (``SparkListenerTaskEnd``). ``read_log`` attributes every
task to the label of the job that ran its stage, and ``layer_metrics``
sums the tasks of a set of labels.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass


@dataclass(frozen=True)
class Task:
    label: str
    stage: int
    kind: str              # ShuffleMapTask or ResultTask
    failed: bool
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    shuffle_write_records: int
    shuffle_read_bytes: int
    spill_bytes: int


def read_log(path: str) -> list[Task]:
    stage_label: dict[int, str] = {}
    tasks: list[Task] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                label = (ev.get("Properties") or {}).get("spark.job.description") or ""
                for sid in ev["Stage IDs"]:
                    stage_label.setdefault(sid, label)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                read = m["Shuffle Read Metrics"]
                write = m["Shuffle Write Metrics"]
                tasks.append(Task(
                    label=stage_label.get(ev["Stage ID"], ""),
                    stage=ev["Stage ID"],
                    kind=ev["Task Type"],
                    failed=ev["Task End Reason"]["Reason"] != "Success",
                    run_ms=m["Executor Run Time"],
                    cpu_ns=m["Executor CPU Time"],
                    gc_ms=m["JVM GC Time"],
                    shuffle_write_bytes=write["Shuffle Bytes Written"],
                    shuffle_write_records=write["Shuffle Records Written"],
                    shuffle_read_bytes=read["Remote Bytes Read"] + read["Local Bytes Read"],
                    spill_bytes=m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
                ))
    return tasks


def task_max_over_median(tasks: list[Task]) -> float:
    """The largest ratio, over stages of two or more tasks, of the slowest
    task's run time to the stage's median task run time (1.0 if none)."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.run_ms)
    ratios = [
        max(times) / statistics.median(times)
        for times in by_stage.values()
        if len(times) > 1 and statistics.median(times) > 0
    ]
    return max(ratios, default=1.0)


def layer_metrics(tasks: list[Task], wall_s: float, cores: int) -> dict[str, float]:
    """Task sums of one pass; ``wall_s`` is the pass's driver-side time."""
    run_s = sum(t.run_ms for t in tasks) / 1e3
    return {
        "tasks": len(tasks),
        "failed_tasks": sum(t.failed for t in tasks),
        "executor_run_s": run_s,
        "executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "jvm_gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "shuffle_write_records": sum(t.shuffle_write_records for t in tasks),
        "shuffle_read_bytes": sum(t.shuffle_read_bytes for t in tasks),
        "spill_bytes": sum(t.spill_bytes for t in tasks),
        "core_utilization": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "task_max_over_median": task_max_over_median(tasks),
        "map_stage_s": sum(t.run_ms for t in tasks if t.kind == "ShuffleMapTask") / 1e3,
        "reduce_stage_s": sum(t.run_ms for t in tasks if t.kind == "ResultTask") / 1e3,
    }
