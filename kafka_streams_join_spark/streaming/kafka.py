"""Kafka source/sink adapters (SURVEY §2.1, S1-S8).

Thin, config-only wrappers: the test environment has no broker (SURVEY §7
risk list), so these are exercised for plan construction only; correctness
tests run the same topologies on file/memory sources (``harness.py``).

Mapping (SURVEY §1.3/§2.1):
- ``builder.stream[String,String](topic)`` (``TimeoutJoinTest.scala:59-63``)
  → ``kafka_stream_source(..., cast_strings=True)``;
- ``TopologyBuilder.addSource`` raw bytes (``TopicShifter.scala:48``)
  → ``cast_strings=False`` (key/value stay ``binary``);
- ``.to(topic)`` (``TimeoutJoinTest.scala:79,92``) → ``kafka_stream_sink``;
- batch producer/consumer harness (``KafkaUtils.scala:50-94``)
  → ``write_batch_to_topic`` / ``read_batch_from_topic``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def kafka_stream_source(
    spark: SparkSession,
    brokers: str,
    topic: str,
    cast_strings: bool = True,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S1/S2 — topic → streaming DataFrame with the Kafka record shape.

    Returns columns (key, value, ts[, topic, partition, offset]); the
    broker-assigned record timestamp becomes the event-time column
    (``context.timestamp()``, ``TopicShifter.scala:29``).
    """
    df = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    key = F.col("key").cast("string") if cast_strings else F.col("key")
    value = F.col("value").cast("string") if cast_strings else F.col("value")
    return df.select(
        key.alias("key"),
        value.alias("value"),
        F.col("timestamp").alias("ts"),
        "topic",
        "partition",
        "offset",
    )


def kafka_stream_sink(
    df: DataFrame,
    brokers: str,
    topic: str,
    checkpoint_dir: str,
    query_name: str | None = None,
) -> StreamingQuery:
    """S3/S4 — stream → topic. ``checkpoint_dir`` is the application id /
    state identity (``APPLICATION_ID_CONFIG``, ``TimeoutJoinTest.scala:95``);
    offsets+state commit per micro-batch (replaces ``context.commit()``,
    ``TopicShifter.scala:34``)."""
    writer = (
        df.select(
            F.col("key").cast("string").alias("key"),
            F.col("value").cast("string").alias("value"),
        )
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
    )
    if query_name:
        writer = writer.queryName(query_name)
    return writer.start()


def write_batch_to_topic(df: DataFrame, brokers: str, topic: str) -> None:
    """S7 — synchronous batch publish (``KafkaUtils.writeToTopic``,
    ``KafkaUtils.scala:50-68``). Spark's Kafka sink is idempotent-retry;
    the reference ran acks=all retries=0 (at-most-once)."""
    (
        df.select(
            F.col("key").cast("string").alias("key"),
            F.col("value").cast("string").alias("value"),
        )
        .write.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .save()
    )


def read_batch_from_topic(
    spark: SparkSession, brokers: str, topic: str, cast_strings: bool = True
) -> DataFrame:
    """S8 — batch read from earliest (``KafkaUtils.readFromTopic``,
    ``KafkaUtils.scala:70-94``); its poll until N rows or a deadline has no
    twin, as the file-harness tests read sinks after ``processAllAvailable``."""
    df = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    key = F.col("key").cast("string") if cast_strings else F.col("key")
    value = F.col("value").cast("string") if cast_strings else F.col("value")
    return df.select(key.alias("key"), value.alias("value"), F.col("timestamp").alias("ts"))
