"""Fold a Spark event log into per-layer figures for the traced run.

Every traced layer call runs under its own Spark job group; the stage
submissions in the event log carry that group, so each task's executor run
time, GC time, shuffle write and spill can be charged to the layer that
caused it. Iteration totals are taken independently, from the launch times
of all tasks inside the iteration's wall-clock window, so the per-layer sum
can be checked against them.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path


def event_file(log_dir: Path, app_id: str) -> Path:
    """Return the application's event log file.

    The launcher turns event-log compression and rolling off for traced
    runs, so the log is the single JSON-lines file ``<log_dir>/<app_id>``."""
    path = log_dir / app_id
    if not path.is_file():
        raise FileNotFoundError(f"no uncompressed event log {path}")
    return path


def zero() -> dict:
    return {"task_ms": 0, "gc_ms": 0, "shuffle_write_b": 0, "spill_b": 0,
            "tasks": 0, "jobs": 0}


def fold(path: Path, windows) -> tuple:
    """Fold task metrics by job group and by wall-clock window.

    ``windows`` maps a window name to ``(start_ms, end_ms)`` epoch times.
    Returns ``(by_group, by_window)``: dicts of summed executor run time,
    GC time, shuffle bytes written, bytes spilled to disk, task count and
    (by group only) job count."""
    stage_group: dict = {}
    by_group: dict = defaultdict(zero)
    by_window: dict = defaultdict(zero)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                by_group[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                add = {
                    "task_ms": tm.get("Executor Run Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "shuffle_write_b": (
                        tm.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0),
                    "spill_b": tm.get("Disk Bytes Spilled", 0),
                    "tasks": 1,
                }
                targets = [by_group[stage_group.get(ev["Stage ID"])]]
                launch = ev["Task Info"]["Launch Time"]
                targets += [
                    by_window[name]
                    for name, (lo, hi) in windows.items()
                    if lo <= launch <= hi
                ]
                for acc in targets:
                    for k, v in add.items():
                        acc[k] += v
    return dict(by_group), dict(by_window)
