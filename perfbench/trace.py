"""Per-layer numbers from the Spark event log of the traced pass.

A traced run launches the JVM with the `spark.eventLog.*` settings below
(launch configuration only; the engine is unchanged). Every call the
benchmark makes in the timed pass runs under its own job group, cleared
after the call, so each job, stage and task is charged to one op and one
phase.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, fields

GROUP = "spark.jobGroup.id"

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


@contextmanager
def job_group(sc, group: str | None):
    """Run the body under job group ``group`` (no-op when None). The group
    is a thread-local property that would otherwise stick to every later
    call on this thread, so it is always cleared afterwards."""
    if group is None:
        yield
        return
    sc.setLocalProperty(GROUP, group)
    try:
        yield
    finally:
        sc.setLocalProperty(GROUP, None)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_ms: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_records: int = 0
    spill_bytes: int = 0

    def add(self, other: "GroupStats") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def read_events(log_dir: str) -> list[dict]:
    events: list[dict] = []
    for root, _, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.endswith(".crc"):
                continue
            with open(os.path.join(root, name), encoding="utf-8") as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def parse(events: list[dict]) -> tuple[dict[str, GroupStats], list[tuple[int, int]]]:
    """Per-group stats, plus the (submit_ms, end_ms) interval of every job
    that ran under a group."""
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[tuple[int, int], str] = {}
    job_start: dict[int, int] = {}
    intervals: list[tuple[int, int]] = []
    for e in events:
        kind = e.get("Event")
        props = e.get("Properties") or {}
        if kind == "SparkListenerJobStart":
            if props.get(GROUP):
                stats[props[GROUP]].jobs += 1
                job_start[e["Job ID"]] = e["Submission Time"]
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in job_start:
                intervals.append((job_start[e["Job ID"]], e["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            if props.get(GROUP):
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = props[GROUP]
                stats[props[GROUP]].stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get((e["Stage ID"], e["Stage Attempt ID"]))
            if group is None:
                continue
            s = stats[group]
            s.tasks += 1
            s.failed_tasks += bool(e["Task Info"].get("Failed"))
            m = e.get("Task Metrics") or {}
            s.task_ms += m.get("Executor Run Time", 0)
            s.gc_ms += m.get("JVM GC Time", 0)
            s.spill_bytes += m.get("Disk Bytes Spilled", 0)
            read = m.get("Shuffle Read Metrics") or {}
            s.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
            s.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            s.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return dict(stats), intervals


def busy_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total
