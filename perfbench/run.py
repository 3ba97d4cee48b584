#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_relational --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints progress and a summary to stdout, then,
as the last line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs the traced pass and reports the per-layer metrics (see README.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_relational", "batch_corpus", "stream_serve")
_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", flush=True)


def _metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(s: dict) -> dict:
    from spans import percentile, tail_percentile

    lat = s["latencies"]
    p, tail = tail_percentile(lat)
    # Runs hold fewer than 20 operations, so no percentile above the median
    # has 10 samples beyond it: the tail is logged, not reported as a metric.
    log(f"op latency: p50={percentile(lat, 50.0):.3f} s, tail p{p:g}={tail:.3f} s, "
        f"max={max(lat):.3f} s, n={len(lat)}")
    return {
        "setup_s": _metric(s["setup_s"], "s"),
        "pass_s": _metric(s["pass_s"], "s"),
        "records_per_s": _metric(s["records_per_s"], "1/s"),
        "op_p50_s": _metric(percentile(lat, 50.0), "s"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("makinage_spark/__init__.py", "tools/check_correctness.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

    from session import RunContext

    ctx = RunContext(ROOT)
    try:
        return _run(ctx, args)
    finally:
        ctx.close()


def _run(ctx, args) -> int:
    traced = bool(args.trace)
    if args.workload == "stream_serve":
        import stream as kind

        wl = kind.StreamWorkload(ctx, args.seed, args.seconds, log)
    else:
        import batch as kind

        wl = kind.BatchWorkload(ctx, args.workload, args.seed, args.seconds, log)
    wl.prepare()
    rec = wl.run(traced)
    s = kind.summarize(rec, wl.input_rows)
    s["peak_rss_mb"] = ctx.jvm_peak_rss_mb()
    log(f"{args.workload}: ops_total={s['ops_total']} ops_failed={s['ops_failed']} "
        f"setup_s={s['setup_s']:.3f} pass_s={s['pass_s']:.3f} "
        f"peak_rss_mb={s['peak_rss_mb']:.0f}")
    if traced:
        import layers

        ctx.stop_spark()
        metrics = layers.per_layer(args.workload, rec, s, ctx.event_log_path(), log)
    else:
        metrics = end_to_end(s)
    for name, m in metrics.items():
        log(f"  {name} = {m['value']:.6g} {m['unit']}")
    bad = [n for n, m in metrics.items() if not math.isfinite(m["value"])]
    result = {
        "correct": s["ops_failed"] == 0 and not bad,
        "attempted": s["ops_total"],
        "failed": s["ops_failed"],
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
