"""Trace arithmetic: the tail-percentile rule, interval unions, and the
per-query fold of a Spark event log.

Everything here is pure Python over plain values, so it is unit-tested
without a Spark session (``perfbench/tests``).
"""

from __future__ import annotations

import json
from collections import defaultdict

#: Candidate tail percentiles, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

#: Job-description prefix the benchmark stamps on every job it starts.
DESC_PREFIX = "pb|"

_PYTHON_RUN = "time to run Python workers"


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(values, min_beyond: int = 10) -> tuple[float, float]:
    """``(p, value)`` for the highest candidate percentile ``p`` that leaves at
    least ``min_beyond`` samples beyond it (``n * (100 - p) / 100``). With
    fewer than ``2 * min_beyond`` samples no candidate qualifies and the
    median is returned, so the caller can still print it with its ``p``."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= min_beyond:
            return p, percentile(values, p)
    return 50.0, percentile(values, 50.0)


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``(start, end)`` intervals, optionally clipped
    to ``[lo, hi]``. Overlapping and nested intervals count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _walk_plan(node, out):
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"], m.get("metricType", ""))
    for child in node.get("children", []):
        _walk_plan(child, out)


def _timing_seconds(value, metric_type: str) -> float:
    if metric_type == "timing":
        return float(value) / 1e3
    return float(value) / 1e9  # nsTiming, Spark's unit for Python worker time


class EventLog:
    """Per-description fold of one Spark event log (JSON lines).

    ``jobs[desc]`` lists ``(start_s, end_s)`` job intervals; ``tasks[desc]``
    sums task metrics of every stage whose job carried ``desc``;
    ``python_by_node[desc][node]`` splits Python worker time by plan node
    (``MapInPandas``, ``FlatMapGroupsInPandasWithState``, ...)."""

    def __init__(self, lines):
        self.jobs = defaultdict(list)
        self.tasks = defaultdict(lambda: defaultdict(float))
        self.python_by_node = defaultdict(lambda: defaultdict(float))
        metrics = {}
        stage_desc = {}
        job_open = {}
        events = [json.loads(line) for line in lines if line.strip()]
        for ev in events:  # plan metrics first: task updates may precede AQE plan events
            if "sparkPlanInfo" in ev:
                _walk_plan(ev["sparkPlanInfo"], metrics)
            for m in ev.get("sqlPlanMetrics", []):
                metrics[m["accumulatorId"]] = ("", m["name"], m.get("metricType", ""))
        for ev in events:
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                job_open[ev["Job ID"]] = (desc, ev["Submission Time"] / 1e3)
                for sid in ev.get("Stage IDs", []):
                    stage_desc.setdefault(sid, desc)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_open:
                desc, start = job_open.pop(ev["Job ID"])
                self.jobs[desc].append((start, ev["Completion Time"] / 1e3))
            elif kind == "SparkListenerStageSubmitted":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                if desc:
                    stage_desc[ev["Stage Info"]["Stage ID"]] = desc
            elif kind == "SparkListenerTaskEnd":
                self._task(ev, stage_desc.get(ev["Stage ID"], ""), metrics)

    def _task(self, ev, desc, metrics):
        t = self.tasks[desc]
        m = ev.get("Task Metrics") or {}
        t["tasks"] += 1
        t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("Name") != _PYTHON_RUN or acc.get("Update") is None:
                continue
            node, _, mtype = metrics.get(acc["ID"], ("", "", ""))
            secs = _timing_seconds(acc["Update"], mtype)
            t["python_s"] += secs
            self.python_by_node[desc][node] += secs

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path, encoding="utf-8") as f:
            return cls(f)
