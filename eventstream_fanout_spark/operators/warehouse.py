"""Warehouse table layout — the analogue of the reference's ClickHouse
DDL (MergeTree ``PARTITION BY toYYYYMM(event_ts)``, ``ORDER BY
(content_id, event_ts)``, reference clickhouse/init.sql:20-22), done
the lakehouse way:

* month partitions -> directory partition pruning at scan time;
* ``sortWithinPartitions(key, ts)`` before write -> parquet row-group
  min/max skipping stands in for the MergeTree ORDER BY skip index;
* parquet dictionary encoding stands in for LowCardinality(String).

At 100 TB add bucketing on the join key (``bucketBy``) so repeated
joins/aggregations on it shuffle zero bytes —
:func:`write_bucketed_table` / :func:`colocated_join` below, with the
zero-Exchange plan asserted in tests/test_warehouse.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_warehouse(
    enriched: DataFrame,
    path: str,
    ts_col: str = "ts",
    sort_key: str = "user_id",
    mode: str = "overwrite",
) -> None:
    """Write the enriched table partitioned by event month with
    row-group-friendly intra-partition ordering."""
    (
        enriched.withColumn(
            "event_month", F.date_format(F.col(ts_col), "yyyy-MM")
        )
        .repartition("event_month")
        .sortWithinPartitions(sort_key, ts_col)
        .write.mode(mode)
        .partitionBy("event_month")
        .parquet(path)
    )


def read_warehouse_month(
    spark: SparkSession, path: str, month: str
) -> DataFrame:
    """Month-filtered read — the filter must prune to one partition
    directory (asserted in tests/test_warehouse.py)."""
    return spark.read.parquet(path).where(F.col("event_month") == month)


def zorder_value(x: F.Column, y: F.Column, bits: int = 16) -> F.Column:
    """Morton (Z-order) interleaving of two non-negative integer keys:
    bit i of x lands at position 2i, bit i of y at 2i+1.

    Sorting/`sortWithinPartitions` by this value co-locates rows that
    are close in BOTH dimensions, so parquet row-group min/max skipping
    works for predicates on either key — the DataBricks OPTIMIZE
    ZORDER technique from IEEE primitives, identical in the SQL oracle.
    """
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out + F.shiftleft(
            F.shiftrightunsigned(x.cast("long"), i).bitwiseAND(F.lit(1)),
            2 * i,
        )
        out = out + F.shiftleft(
            F.shiftrightunsigned(y.cast("long"), i).bitwiseAND(F.lit(1)),
            2 * i + 1,
        )
    return out


def sql_zorder_value(x: str, y: str, bits: int = 16) -> str:
    """DuckDB twin of :func:`zorder_value` (same bit ops, same order)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def compact_parquet(
    spark: SparkSession, path: str, out_path: str, target_mb: int = 128
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ``ceil(total_bytes / target_mb)`` files.

    Streaming sinks produce one file per batch per partition; at 100 TB
    that's millions of KB-sized files whose open/footer overhead
    dominates scans.  Periodic compaction to row-group-sized files is
    standard warehouse hygiene.  Returns the output file count.
    """
    import math

    from ..streaming.compaction import hadoop_fs

    fs, P = hadoop_fs(spark, path)
    summary = fs.getContentSummary(P(path))
    n_files = max(1, math.ceil(summary.getLength() / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    df.repartition(n_files).write.mode("overwrite").parquet(out_path)
    return n_files


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int,
    sort_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` hash-bucketed on the join key.

    This is the fact-fact shuffle eliminator: two tables bucketed on
    the same key with the same bucket count join with ZERO Exchange
    nodes — each task reads bucket *i* of both sides.  At 100 TB that
    converts the dominant cost of ``orders ⋈ lineitem`` (a full
    both-sides shuffle) into a co-located merge.  ``sort_cols`` adds
    per-bucket sort order (the MergeTree ``ORDER BY`` analogue): with
    one file per bucket Spark can also elide the SMJ's Sort.

    Bucket count at scale: pick so each bucket is 100-500 MB
    (e.g. 100 TB fact / 256 MB ≈ 400k buckets is too many files — use
    bucketing on the PRUNED grain, e.g. per month-partition, or 4096
    buckets of ~25 GB read by multiple cores each).
    """
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, bucket_col)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def colocated_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    left_key: str,
    right_key: str,
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed tables on their bucket keys.  With equal
    bucket counts the physical plan contains no Exchange on either side
    (asserted in tests/test_warehouse.py::test_bucketed_join_zero_exchange)."""
    left = spark.table(left_table)
    right = spark.table(right_table)
    return left.join(
        right, left[left_key] == right[right_key], how
    )
