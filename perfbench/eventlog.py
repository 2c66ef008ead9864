"""Reduce a Spark event log to per-operation execution totals.

The benchmark tags every operation's jobs with
``sparkContext.setJobGroup("<op>#<k>")``. Each ``SparkListenerJobStart``
carries that group id in its properties, which maps the job's stages
to one invocation; ``SparkListenerTaskEnd`` metrics are then summed per
invocation. Jobs without a group (a streaming query's micro-batches run
on the query's own thread) are assigned to the invocation whose wall
interval contains the job's submission time.

The log must be one uncompressed JSON-lines file
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``).
"""

from __future__ import annotations

import json
from collections import defaultdict

COUNTERS = (
    "task_cpu_s",
    "task_run_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "jobs",
    "stages",
    "tasks",
)


def _union_len(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def reduce_log(path: str, windows: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Totals per invocation id. ``windows`` maps each invocation's
    group id to its (start, end) wall interval in epoch milliseconds;
    the result adds ``driver_gap_s``: wall time minus the union of the
    invocation's stage spans."""
    by_time = sorted((a, b, g) for g, (a, b) in windows.items())

    def group_at(ms: float) -> str | None:
        for a, b, g in by_time:
            if a <= ms <= b:
                return g
        return None

    stage_group: dict[int, str] = {}
    spans: dict[str, list[tuple[float, float]]] = defaultdict(list)
    out: dict[str, dict] = {g: dict.fromkeys(COUNTERS, 0) for g in windows}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                if g not in out:
                    g = group_at(ev.get("Submission Time", 0))
                if g is None:
                    continue
                out[g]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                g = stage_group.get(info["Stage ID"])
                sub, done = info.get("Submission Time"), info.get("Completion Time")
                if g is None or sub is None or done is None:
                    continue  # skipped stage: its shuffle output was reused
                out[g]["stages"] += 1
                a, b = windows[g]
                lo, hi = max(sub, a), min(done, b)
                if lo < hi:
                    spans[g].append((lo, hi))
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if g is None or not tm:
                    continue
                o = out[g]
                o["tasks"] += 1
                o["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                o["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                o["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                o["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                sr = tm.get("Shuffle Read Metrics") or {}
                o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = tm.get("Shuffle Write Metrics") or {}
                o["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                o["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    for g, (a, b) in windows.items():
        out[g]["driver_gap_s"] = max(0.0, (b - a) - _union_len(spans[g])) / 1e3
    return out
