"""Batch workloads: the registry queries of one set, one at a time, in a closed
loop over seeded tables.

A run is: generate tables (untimed) → three set-ups (session start and table
load) → timed passes → the output check (untimed). A timed operation is one
query: the ``QUERIES`` call (where eager operators fire their jobs) and the
collect of its result to the driver. The first pass runs in a fresh session,
which is what a batch job pays every time it runs; further passes run only
while less than ``seconds`` have elapsed since the timed region began. Every
collected result is compared with its reference after the timed region.
"""

from __future__ import annotations

import statistics
import time
import traceback

import check
from gen import write_tables
from spans import DESC_PREFIX
from workloads import BATCH_SCALE, BATCH_SETS

N_SETUPS = 3


class BatchWorkload:
    def __init__(self, ctx, name: str, seed: int, seconds: float, log):
        self.ctx = ctx
        self.queries = BATCH_SETS[name]
        self.seed = seed
        self.seconds = seconds
        self.log = log
        self.tables = ctx.path("tables")
        self.input_rows = 0

    def prepare(self):
        """Write the seeded inputs (not part of set-up time)."""
        self.input_rows = sum(write_tables(self.tables, self.seed, BATCH_SCALE).values())

    def setup(self, event_log: bool = False) -> tuple[float, float]:
        """One set-up: ``(total_s, session_s)``."""
        from makinage_spark.sources import load_tables

        t0 = time.perf_counter()
        session_s = self.ctx.start_spark(event_log)
        self.ctx.spark.sparkContext.setJobDescription(f"{DESC_PREFIX}setup")
        load_tables(self.ctx.spark, self.tables)
        return time.perf_counter() - t0, session_s

    def timed_pass(self, label) -> dict:
        """One pass. ``spans[q] = (t0, t_built, t_done)`` on the wall clock;
        ``outputs[q] = (columns, rows)`` or the traceback of a failure."""
        from makinage_spark.queries import QUERIES

        spark = self.ctx.spark
        spans, outputs = {}, {}
        t_start = time.time()
        for q in self.queries:
            spark.sparkContext.setJobDescription(f"{DESC_PREFIX}{label}|{q}")
            t0 = time.time()
            t1 = None
            try:
                df = QUERIES[q](spark, self.tables)
                t1 = time.time()
                outputs[q] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception:  # noqa: BLE001 - counted as failed, the loop goes on
                outputs[q] = traceback.format_exc(limit=3)
            t2 = time.time()
            spans[q] = (t0, t1 or t2, t2)
        return {"wall": time.time() - t_start, "spans": spans, "outputs": outputs}

    def check(self, passes) -> None:
        """Replace each pass's outputs by the names that raised or differ."""
        ref = check.BatchReference(self.tables)
        try:
            expected = {q: ref.rows(q) for q in self.queries}
        finally:
            ref.close()
        for p in passes:
            p["failed"] = []
            for q, out in p.pop("outputs").items():
                problem = out if isinstance(out, str) else check.compare(*out, *expected[q])
                if problem:
                    p["failed"].append(q)
                    self.log(f"check FAILED {q}: {problem}")

    def run(self, traced: bool = False) -> dict:
        """Set up, measure, check. A traced run is the same run with the
        event log on from the first set-up."""
        setups = [self.setup(traced) for _ in range(N_SETUPS)]
        self.log(f"set-ups done (total, session): {[[round(x, 2) for x in s] for s in setups]}")
        deadline = time.perf_counter() + self.seconds
        passes = [self.timed_pass(0)]
        while time.perf_counter() < deadline:
            passes.append(self.timed_pass(len(passes)))
        self.log(f"timed passes done: {[round(p['wall'], 2) for p in passes]}; first pass: "
                 + ", ".join(f"{q} {t2 - t0:.2f}" for q, (t0, _, t2) in passes[0]["spans"].items()))
        self.check(passes)
        return {"setups": setups, "passes": passes}


def summarize(rec, input_rows: int) -> dict:
    """End-to-end figures of one batch run."""
    passes = rec["passes"]
    lat = [t2 - t0 for p in passes for (t0, _, t2) in p["spans"].values()]
    pass_s = statistics.median(p["wall"] for p in passes)
    return {
        "setup_s": statistics.median(s for s, _ in rec["setups"]),
        "session_s": statistics.median(s for _, s in rec["setups"]),
        "pass_s": pass_s,
        "records_per_s": input_rows / pass_s,
        "latencies": lat,
        "ops_total": sum(len(p["spans"]) for p in rec["passes"]),
        "ops_failed": sum(len(p["failed"]) for p in rec["passes"]),
    }
