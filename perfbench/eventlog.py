"""Spark runtime metrics from a Spark event log (JSON lines).

The traced run starts its session with ``spark.eventLog.enabled``; after
the session stops, the jobs and tasks that started inside the given
wall-clock windows (one per epoch or query) are summarised.
"""

from __future__ import annotations

import json
import os
import statistics


def _events(log_dir: str):
    """Events of every log under ``log_dir``: plain files, or the
    ``events_*`` parts of a rolling log directory."""
    for dirpath, _, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith("appstatus_") or name.startswith("."):
                continue
            with open(os.path.join(dirpath, name)) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        yield json.loads(line)


def session_metrics(log_dir: str, windows: list[tuple[float, float]]) -> dict[str, float]:
    """``windows`` are (start, end) wall-clock seconds, one per step.
    Returns SQL executions (the program's DataFrame actions), jobs and
    tasks per step, shuffle write and spill in MB, GC seconds, and the
    task skew (max / median task run time) of the heaviest stage, all
    over work started inside the windows. Adaptive execution submits a
    job per query stage at run time, so concurrent actions can share or
    split stage jobs and the job count may differ by one between runs;
    the execution count does not."""
    ms = [(s * 1000.0, e * 1000.0) for s, e in windows]

    def inside(t: float) -> bool:
        return any(s <= t <= e for s, e in ms)

    executions = 0
    jobs = 0
    tasks = 0
    shuffle_bytes = 0
    spill_bytes = 0
    gc_ms = 0
    stage_tasks: dict[int, list[float]] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            if inside(ev.get("time", 0)):
                executions += 1
        elif kind == "SparkListenerJobStart":
            if inside(ev.get("Submission Time", 0)):
                jobs += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            if not inside(info.get("Launch Time", 0)):
                continue
            m = ev.get("Task Metrics") or {}
            tasks += 1
            shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill_bytes += m.get("Disk Bytes Spilled", 0)
            gc_ms += m.get("JVM GC Time", 0)
            stage_tasks.setdefault(ev.get("Stage ID", -1), []).append(
                float(m.get("Executor Run Time", 0))
            )
    skew = 1.0
    if stage_tasks:
        heaviest = max(stage_tasks.values(), key=sum)
        med = statistics.median(heaviest)
        if med > 0:
            skew = max(heaviest) / med
    n = max(1, len(windows))
    return {
        "session.sql_executions_per_epoch": executions / n,
        "session.jobs_per_epoch": jobs / n,
        "session.tasks_per_epoch": tasks / n,
        "session.shuffle_write_mb": shuffle_bytes / 1e6,
        "session.spill_mb": spill_bytes / 1e6,
        "session.gc_s": gc_ms / 1000.0,
        "session.task_skew": skew,
    }
