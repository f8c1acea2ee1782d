"""Fold a Spark event log into per-job-group counters.

Every stage carries the job group of the job that submitted it (its
``Properties``), and every finished task names its stage, so task
metrics sum up per group without any timing heuristics.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

COUNTERS = ("jobs", "executor_cpu_s", "gc_s", "shuffle_mb", "result_mb")


def _group(event: dict) -> str | None:
    return (event.get("Properties") or {}).get("spark.jobGroup.id")


def fold(path: str) -> dict[str, dict[str, float]]:
    """Group id -> {jobs, executor_cpu_s, gc_s, shuffle_mb, result_mb}."""
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(COUNTERS, 0.0)
    )
    stage_group: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = _group(ev)
                if g is not None:
                    out[g]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                g = _group(ev)
                if g is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                c = out[g]
                c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["result_mb"] += m.get("Result Size", 0) / 1e6
                sw = m.get("Shuffle Write Metrics") or {}
                c["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
    return dict(out)


def fold_dir(events_dir: str) -> dict[str, dict[str, float]]:
    """Fold every event log in ``events_dir`` (one per SparkContext)."""
    merged: dict[str, dict[str, float]] = {}
    for name in sorted(os.listdir(events_dir)):
        for g, c in fold(os.path.join(events_dir, name)).items():
            acc = merged.setdefault(g, dict.fromkeys(COUNTERS, 0.0))
            for k, v in c.items():
                acc[k] += v
    return merged
