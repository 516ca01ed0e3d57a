"""Fold a Spark event log (uncompressed JSON lines) into per-job-group totals.

Every stage is attributed to the job group of the job that submitted it
(``spark.jobGroup.id`` in the stage's properties). Stages with no group —
jobs started from a thread that set none — are handed to ``resolve`` with
their submission time, so the caller can place them by time instead.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from typing import Callable, Iterable

_GROUP = "spark.jobGroup.id"


def _new_totals() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "run_ms": 0,
        "cpu_ns": 0,
        "gc_ms": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "output_bytes": 0,
        "spill_bytes": 0,
        "task_ms": [],
    }


def read_events(path: str) -> Iterable[dict]:
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def fold(
    events: Iterable[dict],
    resolve: Callable[[str | None, int], str | None] = lambda group, _ms: group,
) -> dict[str, dict]:
    """group -> totals. ``resolve(group, submit_ms)`` maps the raw group of a
    job or stage (None when untagged) to the group it is counted under;
    returning None drops it."""
    stage_group: dict[int, str | None] = {}
    stage_submit: dict[int, int] = {}
    jobs: list[tuple[str | None, int]] = []  # (group, submit ms) per job
    tasks: list[tuple[int, dict, dict]] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(_GROUP)
            submit = int(ev.get("Submission Time", 0))
            jobs.append((group, submit))
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
                stage_submit.setdefault(sid, submit)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            stage_group[sid] = (ev.get("Properties") or {}).get(_GROUP, stage_group.get(sid))
            if info.get("Submission Time") is not None:
                stage_submit[sid] = int(info["Submission Time"])
        elif kind == "SparkListenerTaskEnd":
            tasks.append((ev["Stage ID"], ev.get("Task Info") or {}, ev.get("Task Metrics") or {}))

    out: dict[str, dict] = defaultdict(_new_totals)
    for group, submit in jobs:
        g = resolve(group, submit)
        if g is not None:
            out[g]["jobs"] += 1
    for sid, info, m in tasks:
        g = resolve(stage_group.get(sid), stage_submit.get(sid, int(info.get("Launch Time", 0))))
        if g is None:
            continue
        t = out[g]
        t["tasks"] += 1
        t["run_ms"] += m.get("Executor Run Time", 0)
        t["cpu_ns"] += m.get("Executor CPU Time", 0)
        t["gc_ms"] += m.get("JVM GC Time", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        t["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        t["task_ms"].append(m.get("Executor Run Time", 0))
    return dict(out)


def merge(totals: Iterable[dict]) -> dict:
    """Sum several groups' totals into one."""
    out = _new_totals()
    for t in totals:
        for k, v in t.items():
            out[k] = out[k] + v
    return out


def task_skew(t: dict) -> float:
    """Longest task over the median task (executor run time, the median
    floored at 1 ms); 0 without tasks."""
    ms = t["task_ms"]
    if not ms:
        return 0.0
    return max(ms) / max(statistics.median(ms), 1)
