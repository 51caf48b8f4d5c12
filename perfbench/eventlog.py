"""Spark event-log parser: jobs, stages and task metrics grouped by job group.

The traced run gives every wrapped operation its own job group
(``<kind>:<n>``) and enables the event log; this module folds the log back
into per-group counts. A stage is attributed to the group in its
``StageSubmitted`` properties, a task to its stage's group.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

# a single-task stage shorter than this is not reported: at this scale
# most stages are short, and only long serial stages cost wall time
SINGLE_TASK_STAGE_MS = 100


@dataclass
class Group:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_ms: float = 0.0  # sum of job wall times
    run_ms: float = 0.0  # executor run time, summed over tasks
    gc_ms: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    single_task_stages: int = 0


def log_files(eventlog_dir: Path) -> list[Path]:
    """Event-log files in write order. A rolling log is a directory of
    ``events_<n>_<app>`` files next to an ``appstatus`` marker."""

    def order(p: Path):
        parts = p.name.split("_")
        return (str(p.parent), int(parts[1]) if parts[0] == "events" else 0)

    return sorted((p for p in Path(eventlog_dir).rglob("*")
                   if p.is_file() and not p.name.startswith((".", "appstatus"))), key=order)


def parse(paths: list[Path]) -> dict[str, Group]:
    """Per-job-group totals; jobs without a group land under ``""``."""
    groups: dict[str, Group] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}

    def g(name: str) -> Group:
        return groups.setdefault(name, Group())

    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    job_group[ev["Job ID"]] = gid
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                    g(gid).jobs += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_start:
                        g(job_group[jid]).job_ms += ev["Completion Time"] - job_start[jid]
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    stage_group[info["Stage ID"]] = gid
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    grp = g(stage_group.get(info["Stage ID"], ""))
                    grp.stages += 1
                    dur = (info.get("Completion Time") or 0) - (info.get("Submission Time") or 0)
                    if info["Number of Tasks"] == 1 and dur > SINGLE_TASK_STAGE_MS:
                        grp.single_task_stages += 1
                elif kind == "SparkListenerTaskEnd":
                    grp = g(stage_group.get(ev["Stage ID"], ""))
                    grp.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    grp.run_ms += m.get("Executor Run Time", 0)
                    grp.gc_ms += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    grp.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    grp.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    return groups


def by_kind(groups: dict[str, Group]) -> dict[str, list[Group]]:
    """Groups named ``<kind>:<n>`` collected per kind."""
    out: dict[str, list[Group]] = {}
    for name, grp in groups.items():
        kind = name.rsplit(":", 1)[0] if ":" in name else name
        out.setdefault(kind, []).append(grp)
    return out
