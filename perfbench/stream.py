"""stream_serve: a keyed event log is produce()d into an emulated Kafka topic,
then drained by one streaming query (closed loop: the next micro-batch starts
when the previous one commits):

emu_source(streaming, max_files_per_trigger) → JSON decode → streaming_scan
(running cents per user) → foreachBatch: serve.serve(double_predict) →
produce() to the predictions topic.

Kafka keys are bytes: the records carry ``user_key``, the user id as a
string. (``produce(key=...)`` casts the key column to binary, which Spark's
ANSI mode refuses for a bigint column.)

The log holds ``seconds`` segments of about ``EVENTS_PER_SEGMENT`` events,
one produce() call each, and a trigger admits the files of about one
segment: the run length sets the number of micro-batches, not their size.
"""

from __future__ import annotations

import glob
import json
import os
import time
import traceback

import check
from gen import stream_events
from spans import DESC_PREFIX

EVENTS_PER_SEGMENT = 2_500
EVENT_SCHEMA = "event_id long, user_id long, cents long"
PRED_SCHEMA = "user_id long, event_id long, running_total double, running_count long, pred double"
SERVE_CONFIG = {
    "predict": "makinage_spark.sample.serve:double_predict",
    "input_field": "running_total",
    "output_field": "pred",
}
PARTITIONS = 2


class StreamWorkload:
    """One set-up per run: produce() of the backlog dominates it (about 1 s a
    segment after the first), so each repetition would add seconds to every
    run of a workload whose run is already the longest but one."""

    def __init__(self, ctx, seed: int, seconds: float, log):
        self.ctx = ctx
        self.seed = seed
        self.log = log
        self.n_segments = max(1, int(round(seconds)))
        self.broker = ctx.path("broker")
        self.events = None
        self.sizes = None
        self.input_rows = 0

    def prepare(self):
        self.events, self.sizes = stream_events(
            self.seed, self.n_segments * EVENTS_PER_SEGMENT, self.n_segments
        )
        self.input_rows = len(self.events)

    def setup(self, event_log: bool = False) -> dict:
        """Session start plus produce() of the whole backlog."""
        from makinage_spark.sources.kafka_emulator import produce

        t0 = time.perf_counter()
        session_s = self.ctx.start_spark(event_log)
        spark = self.ctx.spark
        spark.sparkContext.setJobDescription(f"{DESC_PREFIX}setup|produce")
        t1 = time.perf_counter()
        start = 0
        for size in self.sizes:
            seg = spark.createDataFrame(self.events.iloc[start : start + size])
            produce(spark, self.broker, "events", seg, encoding="json", key="user_key",
                    partitions=PARTITIONS)
            start += size
        t2 = time.perf_counter()
        return {"setup_s": t2 - t0, "session_s": session_s, "produce_s": t2 - t1}

    def drain(self) -> dict:
        """Run the streaming query until the backlog is consumed."""
        from pyspark.sql import functions as F

        from makinage_spark import serve
        from makinage_spark.sources.kafka_emulator import emu_source, produce
        from makinage_spark.streaming import streaming_scan

        spark = self.ctx.spark
        broker = self.broker
        files = len(glob.glob(os.path.join(broker, "events", "*.parquet")))
        src = emu_source(
            spark, broker, ["events"], encoding="json", schema=EVENT_SCHEMA, streaming=True,
            max_files_per_trigger=max(1, round(files / len(self.sizes))),
        )
        scanned = streaming_scan(
            src.select("user_id", "event_id", "cents"), "user_id", "cents", "event_id"
        )

        def body(batch_df, _batch_id):
            out = serve.serve(SERVE_CONFIG, batch_df)
            out = out.withColumn("user_key", F.col("user_id").cast("string"))
            produce(batch_df.sparkSession, broker, "predictions", out, encoding="json",
                    key="user_key", partitions=PARTITIONS)

        spark.sparkContext.setJobDescription(None)
        t0 = time.perf_counter()
        query = (
            scanned.writeStream.foreachBatch(body)
            .option("checkpointLocation", self.ctx.path("checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        wall = time.perf_counter() - t0
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        return {"wall": wall, "progress": [json.loads(p.json) for p in query.recentProgress]}

    def check(self) -> tuple[str | None, int]:
        """Compare the predictions topic with the reference; ``(problem,
        records_out)``."""
        from makinage_spark.sources.kafka_emulator import emu_source

        spark = self.ctx.spark
        spark.sparkContext.setJobDescription(f"{DESC_PREFIX}check|predictions")
        out = emu_source(spark, self.broker, ["predictions"], encoding="json", schema=PRED_SCHEMA)
        rows = [tuple(r) for r in out.select(*check.STREAM_COLUMNS).collect()]
        want = check.stream_reference(self.events)
        return check.compare(check.STREAM_COLUMNS, rows, *want), len(rows)

    def run(self, traced: bool = False) -> dict:
        """Set up, drain, check. A traced run is the same run with the event
        log on."""
        rec = self.setup(traced)
        self.log(f"set-up done: {rec}")
        try:
            rec.update(self.drain())
            rec["problem"], rec["records_out"] = self.check()
        except Exception:  # noqa: BLE001 - a failed drain is a counted failure
            rec.setdefault("wall", float("nan"))
            rec.setdefault("progress", [])
            rec["problem"] = traceback.format_exc(limit=3)
        if rec["problem"]:
            self.log(f"check FAILED stream_serve: {rec['problem']}")
        self.log(f"drain done: {rec['wall']:.2f} s, {len(rec['progress'])} micro-batches")
        return rec


def summarize(rec, n_events: int) -> dict:
    """End-to-end figures of the drain. A failed drain or check fails every
    micro-batch."""
    lat = [
        p["durationMs"]["triggerExecution"] / 1e3
        for p in rec["progress"]
        if p.get("numInputRows", 0) > 0
    ]
    n_ops = max(1, len(rec["progress"]))
    return {
        "setup_s": rec["setup_s"],
        "session_s": rec["session_s"],
        "produce_s": rec["produce_s"],
        "pass_s": rec["wall"],
        "records_per_s": n_events / rec["wall"],
        "latencies": lat or [float("nan")],
        "ops_total": n_ops,
        "ops_failed": n_ops if rec["problem"] else 0,
    }
