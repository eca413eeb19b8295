"""Per-job-group counters read from an uncompressed Spark event log.

The benchmark tags its work with ``SparkContext.setJobGroup`` (one group per
crawl wave or per query key) and runs its traced session with
``spark.eventLog.compress=false``. This module maps every stage and task in
the log back to the group of the job that ran it, and sums the task
metrics per group. Nothing here talks to Spark.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    #: (launch, finish) of every task, in seconds since the epoch
    task_intervals: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: "GroupStats") -> None:
        for name in ("jobs", "stages", "tasks", "shuffle_read_bytes",
                     "shuffle_write_bytes", "spill_bytes", "executor_run_s",
                     "executor_cpu_s", "gc_s"):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        self.task_intervals.extend(other.task_intervals)


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` in write order.

    Spark 4 writes rolling logs, ``eventlog_v2_<app>/events_<n>_<app>``;
    a plain single-file log is a file directly in ``log_dir``.
    """
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        def index(path: str) -> tuple[str, int]:
            m = re.match(r"events_(\d+)_", os.path.basename(path))
            return os.path.dirname(path), int(m.group(1)) if m else 0
        return sorted(rolled, key=index)
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*"))
                  if os.path.isfile(p))


def read_events(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def parse(events) -> dict[str | None, GroupStats]:
    """Sum jobs, stages, tasks and task metrics per job group.

    Work started outside any group is filed under ``None``.
    """
    out: dict[str | None, GroupStats] = {}
    stage_group: dict[int, str | None] = {}

    def stats(g):
        if g not in out:
            out[g] = GroupStats()
        return out[g]

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group(e.get("Properties"))
            stats(g).jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = g
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            g = _group(e.get("Properties")) if "Properties" in e \
                else stage_group.get(sid)
            stage_group[sid] = g
            stats(g).stages += 1
        elif kind == "SparkListenerTaskEnd":
            s = stats(stage_group.get(e["Stage ID"]))
            info = e["Task Info"]
            m = e.get("Task Metrics") or {}
            s.tasks += 1
            if info.get("Finish Time"):
                s.task_intervals.append(
                    (info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
            s.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
            s.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            s.gc_s += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            s.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            s.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            s.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return out


def no_task_seconds(intervals, start: float, end: float) -> float:
    """Seconds of ``[start, end]`` during which no task was running.

    Task intervals may overlap (several cores) and may stick out of the
    window; only their union inside the window counts as busy.
    """
    if end <= start:
        return 0.0
    busy = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return (end - start) - busy
