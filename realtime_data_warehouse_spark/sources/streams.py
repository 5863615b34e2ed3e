"""Streaming sources (SURVEY §2.1 S1–S3).

The reference consumes Kafka topics as raw JSON strings
(FlinkSourceUtil.java:18-44) or as SQL tables with computed
proc_time/row_time + watermark (SQLUtil.java:6-29). Spark mapping:

- S1  kafka_string_source  → readStream.format("kafka"), value cast
  to string, earliest offsets.
- S3  json_topic           → from_json over the value column +
  withWatermark; proc_time = current_timestamp() (micro-batch
  approximation of PROCTIME(), SQLUtil.java:25).
- tests/local             → file_stream over parquet with an explicit
  schema, driven by trigger(availableNow=True) for batch parity.

Kafka jars may be absent in the test container, so the Kafka path is
constructed lazily and never imported at module load.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def kafka_string_source(spark: SparkSession, brokers: str, topic: str,
                        group_id: str = "rdw",
                        starting_offsets: str = "earliest") -> DataFrame:
    """S1 — value-only UTF-8 Kafka stream (FlinkSourceUtil.java:18-44)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("kafka.group.id", group_id)
        .load()
        .select(F.col("value").cast("string").alias("value"))
    )


def json_topic(raw: DataFrame, schema: T.StructType,
               event_time_col: str | None = None,
               watermark: str | None = None,
               ts_unit: str = "ms") -> DataFrame:
    """S3 — JSON table over a string stream (SQLUtil.java:6-29).

    Parses `value` with the declared schema (malformed rows → null
    struct, dropped: the reference's try/catch ETL, DimApp.java:179-195),
    adds proc_time, and optionally derives an event-time column
    `row_time` from an epoch field plus a watermark
    (SQLUtil.java:25-27).
    """
    parsed = (
        raw.select(F.from_json("value", schema).alias("j"))
        .filter(F.col("j").isNotNull())
        .select("j.*")
        .withColumn("proc_time", F.current_timestamp())
    )
    if event_time_col is not None:
        epoch = F.col(event_time_col)
        row_time = (
            F.timestamp_millis(epoch) if ts_unit == "ms" else F.timestamp_seconds(epoch)
        )
        parsed = parsed.withColumn("row_time", row_time)
        if watermark:
            parsed = parsed.withWatermark("row_time", watermark)
    return parsed


def file_stream(spark: SparkSession, path: str, schema: T.StructType,
                fmt: str = "parquet") -> DataFrame:
    """Local/test stream: replay files as a stream. With
    trigger(availableNow=True) this gives deterministic batch parity —
    our substitute for the reference's manual topic replays."""
    return spark.readStream.format(fmt).schema(schema).load(path)
