"""Stdlib-only reader for Spark's JSON event log.

The benchmark tags each operation's jobs with the job group
``<workload>:<op>:<seq>``.  ``parse`` folds the log into per-job records
(group, call site, wall interval) and per-group task totals; ``op_layers``
and ``callsite_layers`` turn those into per-operation and per-module rows.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

#: Modules whose call sites are reported by name; any other file counts as
#: ``other``, a job with no call site as ``unknown``.
CALLSITE_MODULES = ("store", "knn", "fuzzysearch", "dedup", "pipeline",
                    "featurize", "ann", "fsutil", "bench", "unknown", "other")

_TASK_FIELDS = ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write_b",
                "spill_b", "input_b", "output_b")


def event_files(log_dir: str) -> list[str]:
    """``events_<n>_<app>`` files under ``log_dir``, in write order."""
    found = []
    for d, _, files in os.walk(log_dir):
        for f in files:
            m = re.match(r"events_(\d+)_", f)
            if m:
                found.append((d, int(m.group(1)), os.path.join(d, f)))
    return [p for _, _, p in sorted(found)]


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def callsite_module(callsite: str | None) -> str:
    """``"collect at /x/vector_db_at_home_spark/store.py:455"`` → ``store``;
    a file under the benchmark's own ``perfbench/`` → ``bench``."""
    if not callsite or " at " not in callsite:
        return "unknown"
    where = callsite.split(" at ", 1)[1].rsplit(":", 1)[0]
    if "/perfbench/" in where or where.startswith("perfbench/"):
        return "bench"
    mod = os.path.basename(where)
    if not mod.endswith(".py"):
        return "unknown"
    mod = mod[:-3]
    return mod if mod in CALLSITE_MODULES else "other"


def parse(events) -> dict:
    """Fold events into ``{"jobs": {id: job}, "groups": {group: totals}}``.

    A task counts toward the group of the latest job that listed its stage;
    stages are shared only inside one operation's jobs, whose group is the
    same."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: dict.fromkeys(("jobs", "stages") + _TASK_FIELDS, 0))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            group = props.get("spark.jobGroup.id") or ""
            jobs[jid] = {"group": group,
                         "callsite": props.get("callSite.short"),
                         "start": ev["Submission Time"], "end": None}
            groups[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid is not None:
                groups[jobs[jid]["group"]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if jid is None or not m:
                continue
            g = groups[jobs[jid]["group"]]
            g["tasks"] += 1
            g["run_ms"] += m.get("Executor Run Time", 0)
            g["cpu_ns"] += m.get("Executor CPU Time", 0)
            g["gc_ms"] += m.get("JVM GC Time", 0)
            g["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}) \
                .get("Shuffle Bytes Written", 0)
            g["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
            g["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            g["output_b"] += (m.get("Output Metrics") or {}) \
                .get("Bytes Written", 0)
    return {"jobs": jobs, "groups": dict(groups)}


def busy_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def op_layers(parsed: dict, spans: list[dict]) -> dict:
    """Per-op engine totals for the traced ``spans`` (dicts with ``group``,
    ``t0``/``t1`` in epoch seconds).  Returns summed totals plus
    ``driver_ms``: op wall time during which none of its jobs ran."""
    by_group: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for j in parsed["jobs"].values():
        if j["end"] is not None:
            by_group[j["group"]].append((j["start"], j["end"]))
    zero = dict.fromkeys(("jobs", "stages") + _TASK_FIELDS, 0)
    out = {"ops": len(spans), "wall_ms": 0.0, "driver_ms": 0.0, **zero}
    per_op = []
    for s in spans:
        g = parsed["groups"].get(s["group"], zero)
        lo, hi = s["t0"] * 1000.0, s["t1"] * 1000.0
        drv = (hi - lo) - busy_ms(by_group.get(s["group"], []), lo, hi)
        out["wall_ms"] += hi - lo
        out["driver_ms"] += drv
        for k in zero:
            out[k] += g.get(k, 0)
        per_op.append({"group": s["group"], "jobs": g.get("jobs", 0),
                       "output_b": g.get("output_b", 0)})
    out["per_op"] = per_op
    return out


def callsite_layers(parsed: dict, groups: set[str]) -> dict[str, float]:
    """Summed job wall seconds per call-site module, over jobs of
    ``groups``."""
    out = dict.fromkeys(CALLSITE_MODULES, 0.0)
    for j in parsed["jobs"].values():
        if j["group"] in groups and j["end"] is not None:
            out[callsite_module(j["callsite"])] += (j["end"] - j["start"]) / 1e3
    return out
