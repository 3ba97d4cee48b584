"""File-backed Kafka topic emulator: the broker-less twin of
:mod:`makinage_spark.sources.kafka`.

No broker exists in the test environment, so the Kafka deployment surface
(reference: makinage/operator.py:216-269 — config → topics → operators →
sinks over Kafka) is proven end-to-end against an emulated topic layer that
implements the SAME wire contract the real connector exposes:

- message schema ``(key binary, value binary, topic string, partition int,
  offset bigint, timestamp timestamp)`` — identical to spark-sql-kafka's
  source columns, so :func:`makinage_spark.sources.kafka.decode_value` /
  ``encode_value`` (the reference's encoder layer, A10–A13) run unchanged;
- per-partition monotonically increasing offsets assigned at produce time;
- ``start_from: beginning|end|last`` read semantics
  (makinage/operator.py:50-53): ``beginning`` replays the full retained log,
  ``end`` tails only data produced after subscription (batch: empty),
  ``last`` reads the final retained message per partition (the compacted
  model-topic pattern, config.sample.serve.yml:8-10);
- key-hash partition routing (null key → round-robin), the
  ``partition_selector`` contract (A14, makinage/operator.py:44-48).

Storage is one parquet directory per topic under a broker root — append-only
like a log segment; a streaming subscription is a plain file stream over the
topic directory, so Structured Streaming's checkpoint/offset machinery (the
real connector's replay path) is exercised for free.
"""

from __future__ import annotations

import os
from typing import Any
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from makinage_spark.sources.kafka import decode_value, encode_value

WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset bigint, timestamp timestamp"
)


def topic_path(broker_dir: str, topic: str) -> str:
    return os.path.join(broker_dir, topic)


def _existing(spark: SparkSession, broker_dir: str, topic: str) -> DataFrame:
    path = topic_path(broker_dir, topic)
    # Check existence before touching the reader: a read of a missing path
    # fails inside DataSource resolution, and any lingering
    # ExecutionListener (e.g. an Observation whose plan was explained but
    # never executed) re-raises that failed analysis asynchronously. An empty
    # log is a normal state for a topic, not an exception to catch.
    # os.path answers only for local paths: scheme-less paths and file: URIs
    # ('file:/p' as Spark normalizes it, or 'file:///p') with a local
    # authority. Everything else (hdfs://, s3a://, …) keeps the reader probe.
    # A file: URI may be percent-encoded, so its path is unquoted; a raw path
    # skips urlparse, which would cut it at a '#' or '?'. Reading an existing
    # topic as empty would restart offsets at -1 and append duplicates.
    parsed = urlparse(path)
    if parsed.scheme in ("", "file") and parsed.netloc in ("", "localhost"):
        local = path if parsed.scheme == "" else unquote(parsed.path)
        if not os.path.isdir(local):
            return spark.createDataFrame([], WIRE_SCHEMA)
        return spark.read.schema(WIRE_SCHEMA).parquet(path)
    try:
        return spark.read.schema(WIRE_SCHEMA).parquet(path)
    except Exception:  # remote topic not yet created: empty log
        return spark.createDataFrame([], WIRE_SCHEMA)


def produce(
    spark: SparkSession,
    broker_dir: str,
    topic: str,
    df: DataFrame,
    encoding: str = "string",
    key: str | None = None,
    partitions: int = 2,
) -> None:
    """Append ``df``'s rows to the topic log (the A2 producer contract).

    ``encoding``/``key`` run through the real codec layer
    (:func:`encode_value`); partition = key-hash when a key column is given,
    else round-robin (Kafka's null-key behavior); offsets continue from the
    current per-partition high-water mark — the bounded driver read is
    |partitions| rows, never data."""
    encoded = encode_value(df, encoding, key)  # (value) or (key, value)
    if "key" not in encoded.columns:
        encoded = encoded.withColumn("key", F.lit(None).cast("binary"))
    # ONE materialized sequence id drives both round-robin routing and the
    # intra-partition offset order — two separate monotonically_increasing_id
    # expressions would evaluate independently and disagree across stages
    encoded = encoded.withColumn("__mid", F.monotonically_increasing_id())
    part = (
        F.pmod(F.xxhash64("key"), F.lit(partitions))
        if key
        else F.pmod(F.col("__mid"), F.lit(partitions))
    ).cast("int")
    highs = {
        r["partition"]: r["hi"]
        for r in _existing(spark, broker_dir, topic)
        .groupBy("partition")
        .agg(F.max("offset").alias("hi"))
        .collect()
    }
    base = F.create_map(
        *[x for p in range(partitions) for x in (F.lit(p), F.lit(highs.get(p, -1)))]
    )
    w = Window.partitionBy("partition").orderBy("__mid")
    out = (
        encoded.withColumn("topic", F.lit(topic))
        .withColumn("partition", part)
        .withColumn(
            "offset",
            (
                F.element_at(base, F.col("partition")).cast("bigint")
                + F.row_number().over(w)
            ).cast("bigint"),
        )
        .withColumn("timestamp", F.current_timestamp())
        .withColumn("value", F.col("value").cast("binary"))
        .select("key", "value", "topic", "partition", "offset", "timestamp")
    )
    out.write.mode("append").parquet(topic_path(broker_dir, topic))


def emu_source(
    spark: SparkSession,
    broker_dir: str,
    topics: list[str],
    encoding: str = "string",
    schema: str | None = None,
    start_from: str = "beginning",
    streaming: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Subscribe topics → decoded DataFrame: the A1 consumer contract with
    the reference's ``start_from`` semantics. Decoding is the SAME
    ``decode_value`` the real connector path uses.

    ``max_files_per_trigger`` bounds how much of the retained log each
    micro-batch ingests — the emulator's pacing contract. The reference
    paces consumption with a PID backpressure loop (makinage/operator.py:
    98-130); Spark's engine-managed equivalent is a per-trigger admission
    bound (``maxOffsetsPerTrigger`` on the real Kafka connector,
    ``maxFilesPerTrigger`` on this file-backed log — each produce() append
    is one log segment, so the record bound is segment-granular)."""
    if start_from not in ("beginning", "end", "last"):
        raise ValueError(f"start_from must be beginning|end|last, got {start_from!r}")
    if streaming:
        if start_from != "beginning":
            # a file stream replays the whole retained log, then tails new
            # files — exactly Kafka startingOffsets=earliest. end/last need
            # checkpointed consumer groups, out of emulator scope.
            raise ValueError("streaming emulated topics support start_from: beginning")

        def _reader():
            r = spark.readStream.schema(WIRE_SCHEMA)
            if max_files_per_trigger is not None:
                r = r.option("maxFilesPerTrigger", int(max_files_per_trigger))
            return r

        parts = [
            _reader().parquet(topic_path(broker_dir, t)) for t in topics
        ]
    else:
        parts = [_existing(spark, broker_dir, t) for t in topics]
    raw = parts[0]
    for p in parts[1:]:
        raw = raw.unionByName(p)
    if not streaming and start_from == "end":
        # batch at startingOffsets=latest: nothing beyond the high-water mark
        raw = raw.filter(F.lit(False))
    if not streaming and start_from == "last":
        w = Window.partitionBy("topic", "partition").orderBy(F.desc("offset"))
        raw = (
            raw.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    return decode_value(raw, encoding, schema)


def emu_sink_batch(df: DataFrame, topic: dict[str, Any]) -> None:
    """Batch producer sink for the graph compiler (mirrors kafka_sink_batch)."""
    produce(
        df.sparkSession,
        topic["broker_dir"],
        topic["name"],
        df,
        encoding=topic.get("encoder", "string"),
        key=topic.get("key"),
        partitions=int(topic.get("partitions", 2)),
    )


def emu_sink_stream(df: DataFrame, topic: dict[str, Any]):
    """Streaming producer sink: encode through the codec layer, then append
    wire frames per micro-batch via foreachBatch (offset assignment needs the
    log's high-water mark, which is per-batch driver-side state — the same
    transactional-append shape the real sink delegates to the broker)."""
    name = topic["name"]

    def _write(batch_df: DataFrame, _batch_id: int) -> None:
        produce(
            batch_df.sparkSession,
            topic["broker_dir"],
            name,
            batch_df,
            encoding=topic.get("encoder", "string"),
            key=topic.get("key"),
            partitions=int(topic.get("partitions", 2)),
        )

    # default checkpoint lives INSIDE broker_dir so its lifetime is tied to
    # the emulated broker instance — a global /tmp path would let two
    # independent graphs (or a rerun after a broker_dir wipe) reusing a
    # topic name silently resume from a stale checkpoint
    default_ck = os.path.join(topic["broker_dir"], "_ck", name)
    return (
        df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", topic.get("checkpoint", default_ck))
        .trigger(availableNow=True)
        .start()
    )
