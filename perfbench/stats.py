"""Arithmetic shared by the benchmark runner, the traced-run reporter and the
repeat mode. Pure Python, no Spark: tested by ``perfbench/tests``."""

from __future__ import annotations

import json
import statistics
from collections import defaultdict


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile p that still has at least ten samples
    strictly above it among ``n`` samples: p = floor(100 * (n - 10) / n).
    None when fewer than 11 samples exist (no percentile qualifies)."""
    if n < 11:
        return None
    return (100 * (n - 10)) // n


def quartile_spread(values) -> tuple[float, float, float, float]:
    """(q1, median, q3, (q3 - q1) / median) as ``statistics.quantiles(n=4)``
    gives them — the steadiness figure bounds are checked against."""
    if len(values) < 2:
        v = float(values[0]) if values else 0.0
        return v, v, v, 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / abs(q2) if q2 else float("inf")
    return q1, q2, q3, spread


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → self time: its duration minus the part of its interval
    covered by its children (children may overlap each other, e.g. sink
    commits submitted concurrently from a thread pool)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = s.get("parent")
        if p is not None and p in by_id:
            ps = by_id[p]
            children[p].append(
                (max(s["start"], ps["start"]), min(s["end"], ps["end"]))
            )
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(children[s["id"]])
        for s in spans
    }


SPAN_PROPERTY = "perfbench.span"


def parse_event_log(lines) -> dict:
    """Reduce Spark event-log JSON lines to jobs and tasks.

    Returns {"jobs": [{id, span, submit, end}], "tasks": [{stage, span,
    launch, finish, run_s, cpu_s, gc_s, sched_s, shuffle_write, spill,
    input_bytes}]}, times in epoch seconds. A task's span is the
    ``perfbench.span`` property its stage was submitted with (set by the
    span wrapper in the submitting thread); None when unset."""
    stage_span: dict[tuple[int, int], str | None] = {}
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "span": (ev.get("Properties") or {}).get(SPAN_PROPERTY),
                "submit": ev.get("Submission Time", 0) / 1000.0,
                "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            stage_span[key] = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            launch = info.get("Launch Time", 0) / 1000.0
            finish = info.get("Finish Time", 0) / 1000.0
            run_ms = tm.get("Executor Run Time", 0)
            overhead_ms = tm.get("Executor Deserialize Time", 0) + tm.get(
                "Result Serialization Time", 0
            )
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "span": stage_span.get(key),
                    "launch": launch,
                    "finish": finish,
                    "run_s": run_ms / 1000.0,
                    "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                    "sched_s": max(
                        0.0, (finish - launch) - (run_ms + overhead_ms) / 1000.0
                    ),
                    "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "spill": tm.get("Memory Bytes Spilled", 0)
                    + tm.get("Disk Bytes Spilled", 0),
                    "input_bytes": (tm.get("Input Metrics") or {}).get(
                        "Bytes Read", 0
                    ),
                }
            )
    return {"jobs": sorted(jobs.values(), key=lambda j: j["id"]), "tasks": tasks}


COUNTER_FIELDS = ("cpu_s", "gc_s", "sched_s", "shuffle_write", "spill", "input_bytes")


def attribute(tasks: list[dict], jobs: list[dict]) -> dict[str | None, dict]:
    """Sum task counters and count jobs per span id (None = unattributed)."""
    out: dict[str | None, dict] = defaultdict(
        lambda: {**{f: 0.0 for f in COUNTER_FIELDS}, "tasks": 0, "jobs": 0}
    )
    for t in tasks:
        acc = out[t["span"]]
        acc["tasks"] += 1
        for f in COUNTER_FIELDS:
            acc[f] += t[f]
    for j in jobs:
        out[j["span"]]["jobs"] += 1
    return dict(out)


def driver_gap(start: float, end: float, tasks: list[dict]) -> float:
    """Wall time inside [start, end] during which no task was running."""
    busy = [
        (max(t["launch"], start), min(t["finish"], end))
        for t in tasks
        if t["finish"] > start and t["launch"] < end
    ]
    return (end - start) - union_length(busy)
