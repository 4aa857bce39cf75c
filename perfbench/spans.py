"""Spans recorded around the calls into each engine layer, and the
Spark event-log parser that attributes stage/task counts to them.

A span is opened by the benchmark, never by the engine: ``Tracer.span``
times the call and tags every Spark job it triggers with the span's
name as the job group, so the event log can be cut per span. Spans are
kept in memory and summarized once, after the traced pass.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict

GLUE = "perfbench.glue"


class Tracer:
    """Per-span inclusive and self seconds. Spans nest:
    a span's self time excludes the time of the spans opened inside it,
    and its job group is restored when a child closes. A disabled tracer
    only runs the body (no job groups, no timing)."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.seconds: dict[str, float] = defaultdict(float)
        self.self_seconds: dict[str, float] = defaultdict(float)
        self._stack: list[list] = []  # [name, seconds spent in children]

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(name, name)
        self._stack.append([name, 0.0])
        t0 = time.perf_counter()
        try:
            yield
        finally:
            took = time.perf_counter() - t0
            _, child = self._stack.pop()
            self.seconds[name] += took
            self.self_seconds[name] += took - child
            if self._stack:
                self._stack[-1][1] += took
            group = self._stack[-1][0] if self._stack else GLUE
            self.sc.setJobGroup(group, group)


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------
COUNTERS = (
    "stages", "tasks", "executor_run_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "input_bytes", "output_bytes", "spill_bytes",
)


def parse_event_log(lines) -> dict[str, dict]:
    """Stage/task counters per job group from Spark event-log lines.

    Returns {group: {counter: value, ..., "longest_stage_s": seconds,
    "longest_stage_task_s": [task run seconds]}} for every job group
    seen. Task counters come from SparkListenerTaskEnd metrics; a stage
    belongs to the group of the job that submitted it."""
    stage_group: dict[int, str] = {}
    stage_wall: dict[int, float] = {}
    task_times: dict[int, list[float]] = defaultdict(list)
    out: dict[str, dict] = {}

    def bucket(g):
        if g not in out:
            out[g] = dict.fromkeys(COUNTERS, 0)
            out[g]["stage_ids"] = set()
        return out[g]

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = stage_group.get(info["Stage ID"])
            if g is None:
                continue
            bucket(g)["stage_ids"].add(info["Stage ID"])
            if "Submission Time" in info and "Completion Time" in info:
                stage_wall[info["Stage ID"]] = (
                    info["Completion Time"] - info["Submission Time"]
                ) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if g is None or not m:
                continue
            b = bucket(g)
            b["tasks"] += 1
            run_s = m.get("Executor Run Time", 0) / 1000.0
            b["executor_run_s"] += run_s
            b["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            b["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            b["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            b["output_bytes"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0
            )
            b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            task_times[ev["Stage ID"]].append(run_s)
    for b in out.values():
        sids = b.pop("stage_ids")
        b["stages"] = len(sids)
        longest = max(sids, key=lambda s: stage_wall.get(s, 0.0), default=None)
        b["longest_stage_s"] = stage_wall.get(longest, 0.0)
        b["longest_stage_task_s"] = task_times.get(longest, [])
    return out


def task_skew(task_s: list[float]) -> float:
    """Max over median task run time (1.0 for a perfectly even stage;
    0.0 when there is nothing to compare)."""
    if not task_s:
        return 0.0
    med = statistics.median(task_s)
    return max(task_s) / med if med > 0 else 0.0


def rollup(per_group: dict[str, dict]) -> dict:
    """Sum the counters of several groups, keeping the longest stage
    among them for the skew figure."""
    total = dict.fromkeys(COUNTERS, 0)
    total["longest_stage_s"] = 0.0
    total["longest_stage_task_s"] = []
    for b in per_group.values():
        for k in COUNTERS:
            total[k] += b[k]
        if b["longest_stage_s"] >= total["longest_stage_s"]:
            total["longest_stage_s"] = b["longest_stage_s"]
            total["longest_stage_task_s"] = b["longest_stage_task_s"]
    return total
