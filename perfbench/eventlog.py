"""Fold an uncompressed Spark event log into per-job-group totals.

Spark writes one JSON object per line. Three event types carry what
the layer breakdown needs:

- ``SparkListenerJobStart`` names the job's stages and carries the
  job group in its properties (``spark.jobGroup.id``);
- ``SparkListenerStageCompleted`` gives each stage's busy interval;
- ``SparkListenerTaskEnd`` gives each task's run time, CPU time, GC
  time, shuffle bytes and spill.

Only the standard library is used, so the log must be written with
``spark.eventLog.compress=false``.
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    intervals: list[tuple[int, int]] = field(default_factory=list)

    @property
    def busy_ms(self) -> float:
        """Wall time during which at least one stage of the group ran
        (the union of the stage intervals, so overlapping stages count
        once)."""
        total, end = 0, None
        for s, e in sorted(self.intervals):
            if end is None or s > end:
                total += e - s
                end = e
            elif e > end:
                total += e - end
                end = e
        return float(total)

    def add(self, other: GroupTotals) -> None:
        for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.intervals.extend(other.intervals)


def fold(lines: Iterable[str]) -> dict[str | None, GroupTotals]:
    """Per job group totals. Jobs started without a group fold under
    ``None``. Tasks and stages are attributed through the job that
    submitted their stage."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, GroupTotals] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            out.setdefault(group, GroupTotals()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = out.setdefault(stage_group.get(info["Stage ID"]), GroupTotals())
            g.stages += 1
            if "Submission Time" in info and "Completion Time" in info:
                g.intervals.append((info["Submission Time"], info["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            g = out.setdefault(stage_group.get(ev["Stage ID"]), GroupTotals())
            g.tasks += 1
            if not m:
                continue
            g.run_ms += m.get("Executor Run Time", 0)
            g.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            g.gc_ms += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics", {})
            g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            g.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return out


def fold_file(path: str) -> dict[str | None, GroupTotals]:
    with open(path) as f:
        return fold(f)
