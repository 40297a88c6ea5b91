"""Attribute Spark event-log work to the spans of a traced CLI run.

Each stage is attributed through the ``spark.jobGroup.id`` property of
its ``SparkListenerStageSubmitted`` event, which ``traced_cli`` sets to
the id of the innermost open span.  A span's executor time, tasks,
stages, shuffle bytes and GC time are summed over the stages of the
span and of every span nested in it.  Its driver time is the part of
its wall-clock interval during which no Spark job was running.
Metrics of a layer are summed over the layer's spans, so a layer
called from several places (``cut_lineage`` also runs inside the SSSOM
sink) counts every call.  A lazy ``cut_lineage`` can still start jobs:
with adaptive execution on, building the checkpoint's RDD runs the
plan's shuffle stages.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterable, Iterator
from pathlib import Path

# Physical operators that run Python UDFs in executor-side workers.
PYTHON_UDF_SCOPES = ("ArrowEvalPython", "BatchEvalPython")


def read_events(paths: Iterable[Path]) -> Iterator[dict]:
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total = 0.0
    end = lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def census(events: Iterable[dict], spans: list[dict]) -> dict:
    """Return ``{"layers": {layer: metrics}, "total": metrics}``."""
    stage_group: dict[int, str | None] = {}
    stage_udf: dict[int, bool] = {}
    stage_m: dict[int, dict] = defaultdict(
        lambda: {"executor_s": 0.0, "tasks": 0, "shuffle_bytes": 0, "gc_s": 0.0}
    )
    job_start: dict[int, float] = {}
    jobs: list[tuple[float, float]] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            stage_group[sid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            scopes = " ".join(str(r.get("Scope", "")) for r in info.get("RDD Info", []))
            stage_udf[sid] = any(s in scopes for s in PYTHON_UDF_SCOPES)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            a = stage_m[ev["Stage ID"]]
            a["executor_s"] += m.get("Executor Run Time", 0) / 1000.0
            a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            a["tasks"] += 1
            a["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
        elif kind == "SparkListenerJobStart":
            job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_start:
            jobs.append((job_start.pop(ev["Job ID"]), ev["Completion Time"] / 1000.0))

    by_id = {s["id"]: s for s in spans}

    def self_and_ancestors(group: str | None) -> list[str]:
        chain = []
        while group in by_id:
            chain.append(group)
            group = by_id[group]["parent"]
        return chain

    own: dict[str, dict] = defaultdict(
        lambda: {"executor_s": 0.0, "tasks": 0, "shuffle_bytes": 0, "gc_s": 0.0,
                 "stages": 0, "python_udf_s": 0.0}
    )
    total = {"executor_s": 0.0, "tasks": 0, "shuffle_bytes": 0, "gc_s": 0.0,
             "stages": 0, "python_udf_s": 0.0}
    for sid, m in stage_m.items():
        udf_s = m["executor_s"] if stage_udf.get(sid) else 0.0
        for acc in [total] + [own[g] for g in self_and_ancestors(stage_group.get(sid))]:
            for k, v in m.items():
                acc[k] += v
            acc["stages"] += 1
            acc["python_udf_s"] += udf_s

    layers: dict[str, dict] = {}
    for s in spans:
        t1 = s["t1"] if s["t1"] is not None else s["t0"]
        lay = layers.setdefault(s["layer"], {
            "calls": 0, "wall_s": 0.0, "driver_s": 0.0, "executor_s": 0.0,
            "tasks": 0, "shuffle_bytes": 0, "gc_s": 0.0, "stages": 0,
            "python_udf_s": 0.0, "bytes_out": 0,
        })
        lay["calls"] += 1
        lay["wall_s"] += t1 - s["t0"]
        lay["driver_s"] += (t1 - s["t0"]) - _covered(jobs, s["t0"], t1)
        lay["bytes_out"] += s.get("bytes_out", 0)
        for k, v in own[s["id"]].items():
            lay[k] += v
    return {"layers": layers, "total": total}
