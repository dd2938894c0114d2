"""Spark event-log reader: task metrics grouped by a job-local property.

Spark writes one JSON event per line (`spark.eventLog.enabled`). A task's
`SparkListenerTaskEnd` names its stage only; the stage's
`SparkListenerStageSubmitted` carries the submitting job's local properties,
which is where `spark.jobGroup.id` (and any custom property) lives. So tasks
are attributed to a group through their stage.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

MB = 1024 * 1024


def read_events(path: str) -> list[dict]:
    """Events of one log file, or of every log file under a directory (Spark
    4 rolling logs are directories of `events_*` files)."""
    if os.path.isdir(path):
        files = sorted(p for p in glob.glob(os.path.join(path, "**"), recursive=True)
                       if os.path.isfile(p) and "appstatus" not in os.path.basename(p))
    else:
        files = [path]
    events = []
    for fname in files:
        with open(fname) as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    continue   # a torn last line of an unfinished log
    return events


@dataclass
class GroupStats:
    tasks: int = 0
    task_s: float = 0.0          # sum of executorRunTime
    cpu_s: float = 0.0           # sum of executorCpuTime (JVM task threads)
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0        # disk bytes spilled
    job_s: float = 0.0           # union of the group's job intervals
    # stage id -> task durations, for the skew figure
    stage_durations: dict = field(default_factory=dict)

    @property
    def task_skew(self) -> float:
        """max / median task duration in the stage holding most task time;
        1.0 when the group ran no tasks."""
        if not self.stage_durations:
            return 1.0
        durs = max(self.stage_durations.values(), key=sum)
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 1.0


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


def group_stats(events: list[dict], prop: str = "spark.jobGroup.id",
                rename: dict[str, str] | None = None
                ) -> dict[str | None, GroupStats]:
    """Task metrics per value of the job-local property `prop` (None for
    jobs that did not set it); `rename` folds values into one group (a
    streaming query's micro-batch jobs run under its run id)."""
    rename = rename or {}

    def group_of(ev: dict) -> str | None:
        g = (ev.get("Properties") or {}).get(prop)
        return rename.get(g, g)

    stage_group: dict[tuple[int, int], str | None] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, int] = {}
    jobs: dict[str | None, list[tuple[int, int]]] = {}
    out: dict[str | None, GroupStats] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            si = ev["Stage Info"]
            key = (si["Stage ID"], si.get("Stage Attempt ID", 0))
            stage_group[key] = group_of(ev)
        elif kind == "SparkListenerJobStart":
            job_group[ev["Job ID"]] = group_of(ev)
            job_start[ev["Job ID"]] = ev["Submission Time"]
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                jobs.setdefault(job_group[jid], []).append(
                    (job_start[jid], ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            g = out.setdefault(stage_group.get(key), GroupStats())
            ti = ev["Task Info"]
            tm = ev.get("Task Metrics") or {}
            g.tasks += 1
            g.task_s += tm.get("Executor Run Time", 0) / 1000.0
            g.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            g.shuffle_write_mb += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / MB
            g.spill_mb += tm.get("Disk Bytes Spilled", 0) / MB
            g.stage_durations.setdefault(key, []).append(
                (ti["Finish Time"] - ti["Launch Time"]) / 1000.0)
    for grp, ivs in jobs.items():
        out.setdefault(grp, GroupStats()).job_s = _union_s(ivs)
    return out
