"""Per-layer metrics of a traced run, folded from the Spark event log, the
benchmark's own spans and ``StreamingQuery.recentProgress``.

Every workload prints every metric; a layer a workload does not exercise
reads 0. Span accounting is checked and logged:

- each query's jobs (found by job description) lie inside its span;
- per query, job union + driver gap = wall, with a gap that is not negative;
- the module sums (``M.s``) cover the pass wall time within
  ``COVERAGE_TOLERANCE``; the rest is the loop's own bookkeeping.
"""

from __future__ import annotations

from collections import defaultdict

from spans import DESC_PREFIX, EventLog, union_length
from workloads import BATCH_SETS, MODULES

COVERAGE_TOLERANCE = 0.02
#: slack for clock granularity between the JVM (ms) and Python
SPAN_SLACK_S = 0.05
MODULE_FIELDS = (
    ("s", "s"),
    ("jobs", "count"),
    ("driver_gap_s", "s"),
    ("task_cpu_s", "s"),
    ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
)
_PHASES = (
    ("add_batch_s", "addBatch"),
    ("planning_s", "queryPlanning"),
    ("wal_commit_s", "walCommit"),
    ("commit_offsets_s", "commitOffsets"),
    ("latest_offset_s", "latestOffset"),
    ("get_batch_s", "getBatch"),
)


def _batch_layers(workload, rec, ev, log):
    """Module fold of the traced pass, plus the accounting checks."""
    queries = BATCH_SETS[workload]
    traced = rec["passes"][0]
    mod = {m: defaultdict(float) for m in MODULES}
    build = execute = job_total = 0.0
    outside = {}
    problems = []
    for q, (t0, t1, t2) in traced["spans"].items():
        desc = f"{DESC_PREFIX}0|{q}"
        jobs = ev.jobs.get(desc, [])
        wall = t2 - t0
        union = union_length(jobs, t0, t2)
        gap = wall - union
        if gap < -SPAN_SLACK_S:
            problems.append(f"{q}: job union {union:.3f} s exceeds wall {wall:.3f} s")
        job_total += sum(e - s for s, e in jobs)
        outside[q] = sum(e - s for s, e in jobs) - sum(
            union_length([j], t0 - SPAN_SLACK_S, t2 + SPAN_SLACK_S) for j in jobs
        )
        build += t1 - t0
        execute += t2 - t1
        tasks = ev.tasks.get(desc, {})
        m = mod[queries[q]]
        m["s"] += wall
        m["jobs"] += len(jobs)
        m["driver_gap_s"] += max(gap, 0.0)
        m["task_cpu_s"] += tasks.get("cpu_s", 0.0)
        m["shuffle_bytes"] += tasks.get("shuffle_bytes", 0.0)
        m["spill_bytes"] += tasks.get("spill_bytes", 0.0)
    if job_total and sum(outside.values()) / job_total > 0.01:
        worst = sorted(outside.items(), key=lambda kv: -kv[1])[:3]
        problems.append(
            f"{sum(outside.values()):.3f} s of {job_total:.3f} s job time lies outside its "
            f"query (most: {', '.join(f'{q} {v:.3f} s' for q, v in worst)})"
        )
    coverage = sum(m["s"] for m in mod.values()) / traced["wall"]
    if not 1.0 - COVERAGE_TOLERANCE <= coverage <= 1.0 + 1e-9:
        problems.append(f"module sums cover {coverage:.4f} of the pass")
    log(
        "span accounting: "
        + ("OK" if not problems else "FAILED: " + "; ".join(problems))
        + f" (module sums = {coverage:.4f} of pass_s, tolerance {COVERAGE_TOLERANCE})"
    )
    descs = [f"{DESC_PREFIX}0|{q}" for q in queries]
    return mod, build, execute, coverage, descs


def per_layer(workload, rec, s, event_log_path, log) -> dict:
    ev = EventLog.read(event_log_path)
    out = {"session.start_s": (s["session_s"], "s")}
    mod = {m: defaultdict(float) for m in MODULES}
    build = execute = 0.0
    stream_phase = defaultdict(float)
    state_rows = state_mem = 0.0
    serve_in = serve_out = serve_py = stream_py = 0.0
    produce_s = 0.0
    if workload == "stream_serve":
        coverage = 1.0
        descs = [d for d in ev.tasks if not d.startswith(DESC_PREFIX)]
        for p in rec["progress"]:
            for name, key in _PHASES:
                stream_phase[name] += p["durationMs"].get(key, 0) / 1e3
            serve_in += p.get("numInputRows", 0)
            for op in p.get("stateOperators", []):
                state_rows, state_mem = op.get("numRowsTotal", 0), op.get("memoryUsedBytes", 0)
        serve_out = rec.get("records_out", 0)
        for d in descs:
            for node, secs in ev.python_by_node[d].items():
                if node == "MapInPandas":
                    serve_py += secs
                else:
                    stream_py += secs
        produce_s = s["produce_s"]
    else:
        mod, build, execute, coverage, descs = _batch_layers(workload, rec, ev, log)
    out["queries.build_s"] = (build, "s")
    out["queries.execute_s"] = (execute, "s")
    for m in MODULES:
        for field, unit in MODULE_FIELDS:
            out[f"{m}.{field}"] = (mod[m][field], unit)
    out["sources.input_bytes"] = (sum(ev.tasks[d]["input_bytes"] for d in descs), "bytes")
    out["sources.produce_s"] = (produce_s, "s")
    for name, _ in _PHASES:
        out[f"streaming.{name}"] = (stream_phase[name], "s")
    out["streaming.python_s"] = (stream_py, "s")
    out["streaming.state_rows"] = (state_rows, "count")
    out["streaming.state_memory_bytes"] = (state_mem, "bytes")
    out["serve.records_in"] = (serve_in, "count")
    out["serve.records_out"] = (serve_out, "count")
    out["serve.python_s"] = (serve_py, "s")
    out["exec.gc_s"] = (sum(ev.tasks[d]["gc_s"] for d in descs), "s")
    out["exec.tasks"] = (sum(ev.tasks[d]["tasks"] for d in descs), "count")
    out["exec.python_s"] = (sum(ev.tasks[d]["python_s"] for d in descs), "s")
    out["exec.peak_rss_mb"] = (s["peak_rss_mb"], "MB")
    # the traced twin of pass_s: minus an untraced run's pass_s, the overhead
    out["trace.pass_s"] = (s["pass_s"], "s")
    out["trace.coverage"] = (coverage, "ratio")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in out.items()}
