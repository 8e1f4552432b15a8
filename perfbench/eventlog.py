"""Fold a Spark event log into per-job-group totals.

A Spark event log is one JSON object per line. Three event kinds matter:

* ``SparkListenerJobStart`` names the job, its submission time, the stages
  it may run and, in its properties, the ``spark.jobGroup.id`` that the
  submitting thread set;
* ``SparkListenerStageCompleted`` marks a stage that really ran (a stage a
  job lists but skips because its shuffle output already exists never
  completes);
* ``SparkListenerTaskEnd`` carries one task's metrics: shuffle bytes read
  and written, and bytes spilled.

A stage is charged to the first job that lists it, which is the job that
ran it. Jobs without a group (launched from a thread that never set one)
can be charged to a group by their submission time: ``fold`` takes an
optional ``untagged`` callback that maps a submission time in seconds to
a group name.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable
from dataclasses import dataclass

MB = 1 << 20


@dataclass
class GroupTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    untagged_jobs: int = 0

    @property
    def shuffle_mb(self) -> float:
        return self.shuffle_write_bytes / MB

    @property
    def spill_mb(self) -> float:
        return self.spill_bytes / MB


def read_events(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def fold(
    events: Iterable[dict],
    untagged: Callable[[float], str | None] | None = None,
) -> dict[str, GroupTotals]:
    """Totals per job group. A job with no group goes to
    ``untagged(submission_seconds)`` when that returns a name (and counts
    as an untagged job there), and is dropped otherwise."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, GroupTotals] = {}

    def totals(job_id: int) -> GroupTotals | None:
        group = job_group.get(job_id)
        return out.setdefault(group, GroupTotals()) if group else None

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job_id = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            tagged = group is not None
            if not tagged and untagged is not None:
                group = untagged(ev["Submission Time"] / 1000.0)
            job_group[job_id] = group
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, job_id)
            t = totals(job_id)
            if t is not None:
                t.jobs += 1
                t.untagged_jobs += 0 if tagged else 1
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            t = totals(stage_job.get(sid, -1))
            if t is not None:
                t.stages += 1
        elif kind == "SparkListenerTaskEnd":
            t = totals(stage_job.get(ev["Stage ID"], -1))
            if t is None:
                continue
            t.tasks += 1
            m = ev.get("Task Metrics") or {}
            read = m.get("Shuffle Read Metrics") or {}
            write = m.get("Shuffle Write Metrics") or {}
            t.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get(
                "Local Bytes Read", 0
            )
            t.shuffle_write_bytes += write.get("Shuffle Bytes Written", 0)
            t.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return out
