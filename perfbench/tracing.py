"""Spans around the harness's calls into each layer, and the Spark
event-log parser that turns one traced run into per-layer counters.

A span is (name, start, end, parent, run_id).  Spans live in memory
and are written out once, when the run ends.  While a span is open its
name is the Spark job group, so every job the layer submits can be
attributed from the event log afterwards.  Jobs that carry another
group (the streaming runner tags its micro-batch jobs with the query's
run id) are mapped to a layer through ``group_alias``.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans.  ``spark`` (optional) receives the span name as
    job group while the span is open; with ``spark=None`` only the
    timing is kept (used for the set-up spans before a session
    exists and by the self-tests)."""

    enabled = True

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: bool = True):
        """Open span ``name``; ``group=False`` keeps the current job
        group (for spans opened on a thread the program owns)."""
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        prev_group = None
        group = group and self.spark is not None
        if group:
            sc = self.spark.sparkContext
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if group:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    direct child spans cover (children may overlap each other)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"])
        - _covered(children[i], s["start"], s["end"])
        for i, s in enumerate(spans)
    ]


def layer_times(spans: list[dict]) -> dict[str, dict[str, float]]:
    """busy_s (summed span durations), self_s and rows_out per span
    name."""
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"busy_s": 0.0, "self_s": 0.0, "rows_out": 0})
    for s, st in zip(spans, self_times(spans)):
        out[s["name"]]["busy_s"] += s["end"] - s["start"]
        out[s["name"]]["self_s"] += st
        out[s["name"]]["rows_out"] += s.get("rows_out", 0)
    return dict(out)


COUNTERS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s",
            "shuffle_write_mb", "shuffle_read_mb", "bytes_written",
            "input_evaluations")


def parse_event_log(lines, spans: list[dict],
                    group_alias: dict[str, str] | None = None,
                    input_marker: str = "pmod(hash(conv_id"
                    ) -> dict[str, dict[str, float]]:
    """Per job group: job and task counts, executor run/CPU seconds,
    shuffle MB written/read, output bytes written, and
    ``input_evaluations`` — root SQL executions whose physical plan
    contains ``input_marker``, attributed to the innermost span open
    when the execution started.

    ``lines`` is an iterable of Spark event-log JSON lines.  A task is
    attributed through its stage to the job group the stage was
    submitted under."""
    alias = group_alias or {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(COUNTERS, 0.0))
    marked_exec_times: list[float] = []

    def group_of(props: dict | None) -> str | None:
        g = (props or {}).get("spark.jobGroup.id")
        return alias.get(g, g)

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = group_of(ev.get("Properties"))
            if g is not None:
                out[g]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            g = group_of(ev.get("Properties"))
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if g is None or not m:
                continue
            c = out[g]
            c["tasks"] += 1
            c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics", {})
            c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            sr = m.get("Shuffle Read Metrics", {})
            c["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / 2**20
            c["bytes_written"] += m.get("Output Metrics", {}).get(
                "Bytes Written", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            root = ev.get("rootExecutionId", ev.get("executionId"))
            if (root == ev.get("executionId")
                    and input_marker in ev.get("physicalPlanDescription", "")):
                marked_exec_times.append(ev["time"] / 1000.0)
    for t in marked_exec_times:
        g = innermost_span(spans, t)
        if g is not None:
            out[alias.get(g, g)]["input_evaluations"] += 1
    return dict(out)


def innermost_span(spans: list[dict], t: float) -> str | None:
    """Name of the latest-starting span whose interval contains ``t``."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (
                best is None or s["start"] >= best["start"]):
            best = s
    return None if best is None else best["name"]
