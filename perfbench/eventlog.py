"""Reduce a Spark event log to per-job-group execution metrics.

Input is an uncompressed event log (one JSON event per line, as written
with ``spark.eventLog.compress=false``). Tasks are attributed to the job
group of the stage that ran them, taken from the stage's submission
properties (``spark.jobGroup.id``) and, failing that, from the job that
lists the stage. Tasks whose stage has no job group, such as jobs started
from a plain ``threading.Thread`` that did not inherit the caller's local
properties, land in the explicit ``None`` group.

For each group:

* ``jobs``, ``stages``, ``tasks``: counts (stages that ran at least one
  task);
* ``task_run_s``, ``task_cpu_s``, ``gc_s``: summed executor run time,
  executor CPU time and JVM GC time of the group's tasks;
* ``spill_mb``: disk bytes spilled, in MB (10**6 bytes);
* ``task_skew``: the worst stage's max/median task duration (stages with
  at least two tasks; 1.0 when there are none);
* ``no_task_s``: summed over jobs, the part of each job's wall time
  (submission to completion) during which none of its tasks was running.

Self-test: ``python3 -m pytest perfbench``.
"""

from __future__ import annotations

import gzip
import json
import statistics
from collections.abc import Iterable

EVENTS = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerTaskEnd",
)

FIELDS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "spill_mb", "task_skew", "no_task_s",
)


def read_events(path: str) -> list[dict]:
    """The events this module reads, in log order (``.gz`` is unpacked)."""
    out = []
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8") as fh:
        for line in fh:
            # Cheap prefilter: most lines are SQL plan / block events.
            if '"SparkListener' not in line[:60]:
                continue
            ev = json.loads(line)
            if ev.get("Event") in EVENTS:
                out.append(ev)
    return out


def _uncovered_ms(start: float, end: float, spans: list[tuple[float, float]]) -> float:
    """Length of [start, end] not covered by any of ``spans``."""
    covered, cursor = 0.0, start
    for a, b in sorted(spans):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return max(0.0, (end - start) - covered)


def reduce_events(
    events: Iterable[dict], window: tuple[float, float] | None = None
) -> dict[str | None, dict[str, float]]:
    """Metrics per job group (``None`` = tasks with no job group).

    ``window`` = (first, last) epoch milliseconds: only jobs submitted and
    tasks launched inside it are counted."""
    lo, hi = window or (float("-inf"), float("inf"))
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            if not lo <= ev["Submission Time"] <= hi:
                continue
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"],
                "end": None,
                "stages": list(ev.get("Stage IDs", [])),
            }
            for sid in jobs[jid]["stages"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            sid = ev["Stage Info"]["Stage ID"]
            if "spark.jobGroup.id" in props:
                stage_group[sid] = props["spark.jobGroup.id"]
        elif kind == "SparkListenerTaskEnd":
            info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
            if not lo <= info["Launch Time"] <= hi:
                continue
            tasks.setdefault(ev["Stage ID"], []).append({
                "launch": info["Launch Time"],
                "finish": info["Finish Time"],
                "run_ms": metrics.get("Executor Run Time", 0),
                "cpu_ns": metrics.get("Executor CPU Time", 0),
                "gc_ms": metrics.get("JVM GC Time", 0),
                "spill": metrics.get("Disk Bytes Spilled", 0),
            })

    def group_of_stage(sid: int) -> str | None:
        if sid in stage_group:
            return stage_group[sid]
        jid = stage_job.get(sid)
        return jobs[jid]["group"] if jid is not None else None

    out: dict[str | None, dict[str, float]] = {}

    def bucket(group: str | None) -> dict[str, float]:
        if group not in out:
            out[group] = dict.fromkeys(FIELDS, 0.0)
            out[group]["task_skew"] = 1.0
        return out[group]

    for sid, ts in tasks.items():
        b = bucket(group_of_stage(sid))
        b["stages"] += 1
        b["tasks"] += len(ts)
        b["task_run_s"] += sum(t["run_ms"] for t in ts) / 1e3
        b["task_cpu_s"] += sum(t["cpu_ns"] for t in ts) / 1e9
        b["gc_s"] += sum(t["gc_ms"] for t in ts) / 1e3
        b["spill_mb"] += sum(t["spill"] for t in ts) / 1e6
        if len(ts) >= 2:
            durs = [t["finish"] - t["launch"] for t in ts]
            med = statistics.median(durs)
            if med > 0:
                b["task_skew"] = max(b["task_skew"], max(durs) / med)
    for job in jobs.values():
        if job["end"] is None:
            continue
        b = bucket(job["group"])
        b["jobs"] += 1
        spans = [
            (t["launch"], t["finish"])
            for sid in job["stages"]
            for t in tasks.get(sid, ())
        ]
        b["no_task_s"] += _uncovered_ms(job["start"], job["end"], spans) / 1e3
    return out


def reduce_log(path: str, window=None) -> dict[str | None, dict[str, float]]:
    return reduce_events(read_events(path), window)


def combine(groups: Iterable[dict[str, float]]) -> dict[str, float]:
    """Sum several groups' metrics (``task_skew`` takes the worst)."""
    total = dict.fromkeys(FIELDS, 0.0)
    total["task_skew"] = 1.0
    for g in groups:
        for k in FIELDS:
            if k == "task_skew":
                total[k] = max(total[k], g[k])
            else:
                total[k] += g[k]
    return total
