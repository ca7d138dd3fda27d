"""Kafka connector surface (SURVEY.md §2.1 S4).

The reference *declares* the Flink Kafka connector but no job
instantiates it (pom.xml:28-37) — there is no behavior to reproduce, so
this module exposes the Spark-native equivalent wiring.  Running it
requires the ``spark-sql-kafka-0-10`` package on the classpath and a
reachable broker; neither exists in the test environment, so the module
is factored into broker-free pieces that the contract tests exercise:

- ``kafka_reader_options`` — the exact (format, options) the stream
  reader is built with;
- ``parse_csv_records`` — the value→typed-record transformation,
  tested against a static DataFrame shaped like Kafka's fixed output
  schema (key/value binary, topic, partition, offset, timestamp);
- ``read_kafka_stream`` — the composition (options → readStream →
  parse), the only part that needs a broker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

KAFKA_FORMAT = "kafka"


def kafka_reader_options(
    bootstrap_servers: str, topic: str, starting_offsets: str = "latest"
) -> dict[str, str]:
    """The option set the streaming reader is configured with — pure
    data, assertable without a broker."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }


def parse_csv_records(raw: DataFrame, schema: StructType, ts_col: str = "ts") -> DataFrame:
    """CSV-over-Kafka payload parse: ``value`` (binary) → typed record
    via ``from_csv`` (JVM-side, no Python in the row path), with the
    event-time column cast to timestamp for watermarking.  *raw* must
    carry Kafka's fixed source schema (at least a binary ``value``)."""
    parsed = raw.select(
        F.from_csv(F.col("value").cast("string"), schema.simpleString()).alias("r")
    ).select("r.*")
    if ts_col in parsed.columns:
        parsed = parsed.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return parsed


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema: StructType,
    ts_col: str = "ts",
    starting_offsets: str = "latest",
) -> DataFrame:
    """CSV-over-Kafka stream reader matching the reference's would-be
    usage (string messages parsed into a typed record)."""
    reader = spark.readStream.format(KAFKA_FORMAT)
    for k, v in kafka_reader_options(bootstrap_servers, topic, starting_offsets).items():
        reader = reader.option(k, v)
    return parse_csv_records(reader.load(), schema, ts_col)


def encode_json_value(columns: list[str]) -> F.Column:
    """The sink-side value encoding (row → JSON string column named
    ``value`` — the shape Kafka's sink requires); broker-free."""
    return F.to_json(F.struct(*columns)).alias("value")
