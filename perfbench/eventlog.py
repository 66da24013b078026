"""Spark event-log parser: per-job-group work counts and times.

The traced run labels every Spark job with ``setJobGroup("<query>:<phase>")``
and writes Spark's uncompressed JSON event log. This module folds the
``JobStart``/``JobEnd``, ``TaskEnd``, ``StageCompleted`` and
``BlockUpdated`` events of one log into a :class:`GroupStats` per job
group. Only those event types are decoded; the (large) SQL plan events
are skipped by a prefix test before ``json.loads``.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.stats import union_length

_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerTaskEnd",
    "SparkListenerStageCompleted",
    "SparkListenerBlockUpdated",
)
_PREFIXES = tuple(f'{{"Event":"{name}"' for name in _WANTED)


@dataclass
class GroupStats:
    """Work done by the jobs of one job group (times in seconds)."""

    jobs: int = 0
    stages: int = 0  # stage attempts that ran at least one task
    tasks: int = 0
    task_s: float = 0.0  # executor run time, summed over tasks
    cpu_s: float = 0.0  # JVM CPU time, summed over tasks
    gc_s: float = 0.0
    shuffle_bytes: int = 0  # shuffle bytes written
    spill_bytes: int = 0  # bytes spilled to disk
    single_task_stage_s: float = 0.0  # wall of stages that ran one task
    job_wall_s: float = 0.0  # union of the jobs' [start, end] intervals
    idle_s: float = 0.0  # job wall not covered by any of its tasks


@dataclass
class EventLog:
    groups: dict[str, GroupStats] = field(default_factory=dict)
    cache_write_bytes: int = 0  # memory + disk size of stored RDD blocks

    def group(self, name: str) -> GroupStats:
        return self.groups.get(name, GroupStats())


def parse_lines(lines) -> EventLog:
    """Fold event-log lines (JSON, one event per line) into an EventLog."""
    job_group: dict[int, str | None] = {}
    job_span: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    # keyed by (stage id, attempt): task [launch, finish] spans in
    # seconds, task metric sums, and stage wall time
    task_spans: dict[tuple[int, int], list[tuple[float, float]]] = defaultdict(list)
    per_stage_metrics: dict[tuple[int, int], GroupStats] = defaultdict(GroupStats)
    stage_wall: dict[tuple[int, int], float] = {}
    out = EventLog()

    for line in lines:
        # Spark writes compact JSON with the event name first
        if not line.startswith(_PREFIXES):
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_span[jid] = [ev["Submission Time"] / 1000.0, ev["Submission Time"] / 1000.0]
            for sid in ev.get("Stage IDs", []):
                # a stage listed by several jobs ran in the first of them;
                # the later ones skip it
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_span:
                job_span[jid][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            info = ev["Task Info"]
            task_spans[key].append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
            m = ev.get("Task Metrics") or {}
            s = per_stage_metrics[key]
            s.tasks += 1
            s.task_s += m.get("Executor Run Time", 0) / 1000.0
            s.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            s.gc_s += m.get("JVM GC Time", 0) / 1000.0
            s.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            s.spill_bytes += m.get("Disk Bytes Spilled", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            if "Submission Time" in info and "Completion Time" in info:
                stage_wall[key] = (info["Completion Time"] - info["Submission Time"]) / 1000.0
        elif kind == "SparkListenerBlockUpdated":
            b = ev["Block Updated Info"]
            level = b.get("Storage Level") or {}
            if b.get("Block ID", "").startswith("rdd_") and (
                level.get("Use Memory") or level.get("Use Disk")
            ):
                out.cache_write_bytes += b.get("Memory Size", 0) + b.get("Disk Size", 0)

    job_tasks: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for key, s in per_stage_metrics.items():
        jid = stage_job.get(key[0])
        if jid is None:
            continue
        g = out.groups.setdefault(job_group.get(jid) or "", GroupStats())
        g.stages += 1
        g.tasks += s.tasks
        g.task_s += s.task_s
        g.cpu_s += s.cpu_s
        g.gc_s += s.gc_s
        g.shuffle_bytes += s.shuffle_bytes
        g.spill_bytes += s.spill_bytes
        if s.tasks == 1:
            g.single_task_stage_s += stage_wall.get(key, 0.0)
        job_tasks[jid].extend(task_spans[key])

    spans_by_group: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for jid, (start, end) in job_span.items():
        name = job_group.get(jid) or ""
        g = out.groups.setdefault(name, GroupStats())
        g.jobs += 1
        spans_by_group[name].append((start, end))
        covered = union_length(
            [(max(a, start), min(b, end)) for a, b in job_tasks[jid] if min(b, end) > max(a, start)]
        )
        g.idle_s += max(0.0, (end - start) - covered)
    for name, spans in spans_by_group.items():
        out.groups[name].job_wall_s = union_length(spans)
    return out


def parse_file(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse_lines(f)
