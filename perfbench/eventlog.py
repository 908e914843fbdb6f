"""Reader for Spark's uncompressed JSON event log.

The traced run tags every phase it drives with a job group
``<pass tag>|<query>|<phase>`` (or ``<pass tag>|catalog|<table>``,
``<pass tag>|sinks``, ...). This module folds the log's job, stage and
task events into per-group totals, so a pass's build, execute, catalog
and sink work can be summed separately.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass

MB = 1024 * 1024


@dataclass
class GroupTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    slowest_stage_s: float = 0.0

    def add(self, other: "GroupTotals") -> None:
        for k, v in vars(other).items():
            if k == "slowest_stage_s":
                self.slowest_stage_s = max(self.slowest_stage_s, v)
            else:
                setattr(self, k, getattr(self, k) + v)


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def read_event_log(path: str) -> dict[str, GroupTotals]:
    """Job group id -> totals of the jobs, stages and tasks it ran."""
    totals: dict[str, GroupTotals] = defaultdict(GroupTotals)
    stage_group: dict[tuple[int, int], str] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = _group(ev.get("Properties"))
                if g:
                    totals[g].jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                g = _group(ev.get("Properties"))
                if g:
                    stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                g = stage_group.get((info["Stage ID"], info["Stage Attempt ID"]))
                if g and "Completion Time" in info and "Submission Time" in info:
                    t = totals[g]
                    t.stages += 1
                    span = (info["Completion Time"] - info["Submission Time"]) / 1000
                    t.slowest_stage_s = max(t.slowest_stage_s, span)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                m = ev.get("Task Metrics")
                if not g or not m:
                    continue
                t = totals[g]
                t.tasks += 1
                t.task_s += m["Executor Run Time"] / 1000
                t.cpu_s += m["Executor CPU Time"] / 1e9
                t.gc_s += m["JVM GC Time"] / 1000
                rd = m["Shuffle Read Metrics"]
                t.shuffle_read_mb += (rd["Remote Bytes Read"] + rd["Local Bytes Read"]) / MB
                t.shuffle_write_mb += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                t.spill_mb += m["Disk Bytes Spilled"] / MB
    return dict(totals)


def sum_groups(totals: dict[str, GroupTotals], prefix: str, suffix: str = "") -> GroupTotals:
    """Totals over every group starting with ``prefix`` and ending
    with ``suffix``."""
    out = GroupTotals()
    for g, t in totals.items():
        if g.startswith(prefix) and g.endswith(suffix):
            out.add(t)
    return out
