"""Kafka sources (S4 batch read-back, streaming source) — gated.

Reference parity:
- S4 batch Kafka source: the latency-analysis read-back path
  (ysb/benchmark/spark/SparkYahooRunner.scala:127-135 — read the output
  topic as a batch, decode JSON, diff timestamps).
- Streaming Kafka source.

This container has no broker and no spark-sql-kafka package, so these
builders raise a clear RuntimeError at plan time when the integration is
absent; the JSON wire format (to_json/from_json of the full row struct)
is the same one exercised Kafka-free by the ``json_roundtrip`` registry
query and sinks.to_json_rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def kafka_gated(action):
    """Run a Kafka reader/writer action (e.g. ``reader.load`` or
    ``writer.save``), materializing missing-package / unreachable-broker
    errors as one clear, actionable RuntimeError. Shared by the sources
    here and sinks.kafka_batch_sink."""
    try:
        return action()
    except Exception as exc:  # missing package / unreachable broker
        detail = str(exc).splitlines()[0][:200] if str(exc) else ""
        raise RuntimeError(
            "Kafka integration unavailable: needs the spark-sql-kafka "
            "package on the classpath and a reachable broker "
            f"(underlying error: {type(exc).__name__}: {detail})"
        ) from exc


def decode_json_rows(
    raw: DataFrame, schema: StructType, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Inverse of sinks.to_json_rows: Kafka value bytes → typed columns
    (SparkYahooRunner.scala:132-135 get_json_object decode). ``keep`` carries
    Kafka metadata columns (topic/partition/offset/timestamp) through the
    decode — the reference's latency read-back keeps the broker timestamp
    alongside the payload (SparkYahooRunner.scala:136-145)."""
    return raw.select(
        *[F.col(c) for c in keep],
        F.from_json(F.col("value").cast("string"), schema).alias("r"),
    ).select(*keep, "r.*")


def kafka_batch_source(
    spark: SparkSession,
    topic: str,
    brokers: str,
    schema: StructType | None = None,
) -> DataFrame:
    """S4: bounded read of a whole topic (earliest→latest) as a batch
    DataFrame — the reference's post-run latency read-back. Returns raw
    Kafka rows (key/value/timestamp/...) unless a schema is given, in
    which case the JSON value is decoded.

    The Kafka ``timestamp`` column is the broker LogAppendTime the
    reference uses as its latency clock; downstream:
    grouped max → diff → percentiles (operators/aggregates.py)."""
    raw = kafka_gated(
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .option("endingOffsets", "latest")
        .load
    )
    # keep the broker timestamp through the decode: it IS the latency
    # clock this docstring promises downstream (latency_analysis probes
    # arrival_col="timestamp")
    return (
        decode_json_rows(raw, schema, keep=("timestamp",))
        if schema is not None
        else raw
    )


def kafka_stream_source(
    spark: SparkSession,
    topic: str,
    brokers: str,
    schema: StructType | None = None,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Streaming Kafka source. With a ``schema`` the JSON value is
    decoded (broker timestamp kept, same as the batch source)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    raw = kafka_gated(reader.load)
    return (
        decode_json_rows(raw, schema, keep=("timestamp",))
        if schema is not None
        else raw
    )
