"""Kafka source/sink wiring (reference: makinage/operator.py:216-269,
makinage/data/pull.py:6-76).

Mapping of the reference's topic options (SURVEY §1.3, §2.1 A1/A2/A14):

- ``start_from: end|beginning|last`` → ``startingOffsets: latest|earliest`` /
  checkpointed offsets (``last`` without a checkpoint on a compacted model
  topic = batch-read the final retained message: :func:`read_last_message`).
- ``max_partition_fetch_bytes`` → ``kafka.max.partition.fetch.bytes``
  (makinage/operator.py:258); producer ``max_request_size`` →
  ``kafka.max.request.size`` (makinage/operator.py:267).
- PID backpressure (makinage/operator.py:98-130) → ``maxOffsetsPerTrigger``
  (engine-managed pacing; SURVEY §7.2 drops the PID loop).
- ``partition_selector`` (makinage/operator.py:44-48) → the Kafka ``key``
  column routes partitions; default (random over partitions) = Kafka's own
  round-robin when key is null.

The Kafka connector JAR (spark-sql-kafka) may be absent in a test container —
option construction is pure and unit-testable; ``.load()``/``.start()`` only
run where the package is available.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType

from makinage_spark.encodings import ENCODINGS

START_FROM_TO_OFFSETS = {"end": "latest", "beginning": "earliest", "last": "earliest"}


def source_options(
    server: str,
    topics: list[str],
    start_from: str = "end",
    max_partition_fetch_bytes: int | None = None,
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Build the reader option map (pure; unit-tested without a broker)."""
    if start_from not in START_FROM_TO_OFFSETS:
        raise ValueError(f"start_from must be end|beginning|last, got {start_from!r}")
    opts = {
        "kafka.bootstrap.servers": server,
        "subscribe": ",".join(topics),
        "startingOffsets": START_FROM_TO_OFFSETS[start_from],
    }
    if max_partition_fetch_bytes:
        opts["kafka.max.partition.fetch.bytes"] = str(max_partition_fetch_bytes)
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def decode_value(df: DataFrame, encoding: str = "string", schema: str | None = None) -> DataFrame:
    """Apply the topic encoder to the raw Kafka ``value: binary`` column
    (reference encoders A10-A13, makinage/encoding/*)."""
    if encoding == "string":
        return df.withColumn("value", F.col("value").cast("string"))
    if encoding == "json":
        if schema is None:
            raise ValueError("json encoding requires a schema")
        return df.withColumn(
            "record", F.from_json(F.col("value").cast("string"), schema)
        ).select("key", "topic", "partition", "offset", "timestamp", "record.*")
    if encoding == "none":
        return df  # raw bytes pass-through
    if encoding == "pickle":
        from makinage_spark.encodings import pickle_decode

        return pickle_decode()(df)
    raise ValueError(f"unknown encoding {encoding!r}")


def kafka_source(
    spark: SparkSession,
    server: str,
    topics: list[str],
    encoding: str = "string",
    schema: str | None = None,
    start_from: str = "end",
    streaming: bool = True,
    options: dict[str, Any] | None = None,
) -> DataFrame:
    """Subscribe topics → decoded DataFrame (A1). Batch mode bounds the read
    (earliest→latest), the reference's ``source_type: batch``
    (makinage/operator.py:176-178) / ``pull()`` helper (makinage/data/pull.py)."""
    opts = source_options(server, topics, start_from)
    if not streaming:
        opts["startingOffsets"] = "earliest"
        opts["endingOffsets"] = "latest"
    if options:
        opts.update({k: str(v) for k, v in options.items()})
    reader = (spark.readStream if streaming else spark.read).format("kafka")
    return decode_value(reader.options(**opts).load(), encoding, schema)


def read_last_message(
    spark: SparkSession, server: str, topic: str, encoding: str = "none"
) -> DataFrame:
    """``start_from: last`` for control/model topics (config.sample.serve.yml:
    8-10): the most recent retained message per partition, as a bounded read."""
    from makinage_spark import ops

    df = kafka_source(spark, server, [topic], encoding="none", streaming=False)
    last = ops.last(order_by=[F.col("offset")], by=["partition"])(df)
    return decode_value(last, encoding)


def encode_value(df: DataFrame, encoding: str = "string", key: str | None = None) -> DataFrame:
    """Encode columns into the Kafka ``value`` (+ optional ``key``) wire
    columns (A2; key ≈ partition_selector, A14)."""
    enc, _ = ENCODINGS[encoding]
    cols = [F.col("value")]
    if key:
        k = F.col(key)
        # string and binary keys keep their exact bytes; anything else goes
        # through its string form, since ANSI mode refuses e.g. bigint→binary
        if not isinstance(df.schema[key].dataType, (StringType, BinaryType)):
            k = k.cast("string")
        cols.insert(0, k.cast("binary").alias("key"))
    return enc()(df).select(*cols)


def sink_options(server: str, topic: str, max_request_size: int | None = None) -> dict[str, str]:
    opts = {"kafka.bootstrap.servers": server, "topic": topic}
    if max_request_size:
        opts["kafka.max.request.size"] = str(max_request_size)
    return opts


def kafka_sink_batch(df: DataFrame, topic: dict[str, Any]) -> None:
    opts = sink_options(topic["server"], topic["name"], topic.get("max_request_size"))
    encoded = encode_value(df, topic.get("encoder", "string"), topic.get("key"))
    encoded.write.format("kafka").options(**opts).save()


def kafka_sink_stream(df: DataFrame, topic: dict[str, Any]):
    opts = sink_options(topic["server"], topic["name"], topic.get("max_request_size"))
    encoded = encode_value(df, topic.get("encoder", "string"), topic.get("key"))
    return (
        encoded.writeStream.format("kafka")
        .options(**opts)
        .option("checkpointLocation", topic.get("checkpoint", f"/tmp/ck_{topic['name']}"))
        .start()
    )
