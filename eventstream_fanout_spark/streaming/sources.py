"""Streaming source builders (SURVEY.md §2.1).

The Kafka builder mirrors the reference source S1 (pipeline/app.py:39-42)
verbatim at the option level; file/rate sources provide broker-free
test paths with identical downstream semantics (same DataFrame shape as
the Kafka value column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


#: Exact option set of the reference reader (pipeline/app.py:39-42) —
#: single source of truth for the builder and its tests.
def kafka_options(
    brokers: str, topic: str, starting_offsets: str = "latest"
) -> dict[str, str]:
    return {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
    format: str = "kafka",
) -> DataFrame:
    """Reference S1: CDC topic subscription.  Yields the standard Kafka
    columns (key/value binary, topic, partition, offset, timestamp).

    At scale: one Spark input partition per Kafka partition; set
    ``minPartitions`` to fan out hotter topics.

    ``format`` is a test seam: this container ships no kafka connector
    jar, so tests register a Python data source with the identical
    schema under another name and route the SAME builder through it —
    proving the option plumbing and unresolved streaming plan without a
    broker (see tests/test_sources_jdbc_kafka.py).
    """
    reader = spark.readStream.format(format)
    for k, v in kafka_options(brokers, topic, starting_offsets).items():
        reader = reader.option(k, v)
    return reader.load()


def json_file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based stand-in for the Kafka source: a directory of JSON
    lines, one envelope per line, surfaced as a ``value`` string column
    (same contract as the Kafka value after P1's cast)."""
    reader = (
        spark.readStream.schema(T.StructType([T.StructField("value", T.StringType())]))
        .format("text")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path).withColumnRenamed("value", "value")
