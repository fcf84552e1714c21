"""Fold a Spark event log (uncompressed JSON lines) into per-job-group
totals: jobs, tasks, executor run and CPU time, shuffle bytes written
and bytes spilled.

A phase tags its jobs with ``SparkContext.setJobGroup``; the group id
travels in the ``spark.jobGroup.id`` property of each job and stage.
Streaming queries tag their own jobs with the query's run id, so the
caller passes ``aliases`` to name those groups.
"""

from __future__ import annotations

import json
import os

FIELDS = ("jobs", "tasks", "exec_run_s", "exec_cpu_s", "shuffle_write_bytes", "spill_bytes")


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id") or None


def fold(lines, aliases: dict[str, str] | None = None) -> dict[str, dict[str, float]]:
    """Per-group totals from an iterable of event-log lines."""
    aliases = aliases or {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(group: str) -> dict[str, float]:
        group = aliases.get(group, group)
        return out.setdefault(group, dict.fromkeys(FIELDS, 0))

    for line in lines:
        line = line.strip()
        if not line:
            continue
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue  # a log cut mid-line by a crash ends in a partial record
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group(ev.get("Properties"))
            if g is None:
                continue
            acc(g)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            g = _group(ev.get("Properties"))
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if g is None or not m:
                continue
            a = acc(g)
            a["tasks"] += 1
            a["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
            a["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return out


def fold_dir(log_dir: str, app_id: str, aliases: dict[str, str] | None = None) -> dict:
    """Fold the log of application ``app_id`` under ``log_dir`` (the
    finished file, or the in-progress one if the app is still live)."""
    for name in (app_id, app_id + ".inprogress"):
        path = os.path.join(log_dir, name)
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                return fold(f, aliases)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
