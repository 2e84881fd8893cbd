"""Spark executor metrics from Spark's event log.

Traced runs switch the event log on through ``PYSPARK_SUBMIT_ARGS``
(never through the program's own session config). Jobs are attributed
through two local properties the benchmark sets on the driver thread:
``perfbench.phase`` (``measure`` during the timed loop) and
``perfbench.span`` (the span open when the job started).
"""

from __future__ import annotations

import json
import os
import statistics


def read_events(log_dir: str) -> list[dict]:
    events: list[dict] = []
    for d, _, files in os.walk(log_dir):
        for name in sorted(files):
            with open(os.path.join(d, name)) as fh:
                for line in fh:
                    if line.strip():
                        events.append(json.loads(line))
    return events


def summarize(log_dir: str) -> dict:
    """Task counts and times of the measured jobs.

    Returns ``{"tasks", "gc_ms", "spill_bytes", "task_skew",
    "by_span": {span: {"tasks", "shuffle_bytes"}}}`` summed over the jobs
    started with ``perfbench.phase=measure``; ``task_skew`` is max over
    median task duration of the stage with the most task time.
    """
    stage_job: dict[int, dict] = {}
    tasks_by_stage: dict[int, list[dict]] = {}
    for ev in read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get("perfbench.phase") != "measure":
                continue
            info = {"span": props.get("perfbench.span")}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = info
        elif kind == "SparkListenerTaskEnd":
            tasks_by_stage.setdefault(ev["Stage ID"], []).append(ev)
    out = {"tasks": 0, "gc_ms": 0.0, "spill_bytes": 0, "task_skew": 0.0, "by_span": {}}
    heaviest, heaviest_time = None, -1.0
    for sid, tasks in tasks_by_stage.items():
        if sid not in stage_job:
            continue
        span = stage_job[sid]["span"]
        durs = []
        for t in tasks:
            m = t.get("Task Metrics") or {}
            info = t.get("Task Info") or {}
            out["tasks"] += 1
            out["gc_ms"] += m.get("JVM GC Time", 0)
            out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            durs.append(max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0)))
            if span:
                s = out["by_span"].setdefault(span, {"tasks": 0, "shuffle_bytes": 0})
                s["tasks"] += 1
                s["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
        if sum(durs) > heaviest_time:
            heaviest, heaviest_time = durs, sum(durs)
    if heaviest:
        med = statistics.median(heaviest)
        out["task_skew"] = max(heaviest) / med if med > 0 else 1.0
    return out
