"""Streaming continuous-aggregate (hypertable rollup) maintenance.

The real-streaming counterpart of ``rollup_incremental_sim``
(plans/diagnostics_queries.py): each micro-batch lands ONE minute-level
partial aggregate under its ``batch_id`` partition (dynamic overwrite —
a replayed trigger rewrites its own partition byte-for-byte, the repo's
effectively-once contract), and the hour/day levels are derived views
over the minute store, so maintenance cost per trigger is O(batch) and
coarser levels never read raw history.

Measures are quantized to BIGINT micro-units BEFORE the first
aggregate (operators/diagnostics.py QVAL), so partials merge exactly
associatively across any micro-batch split — the property the batch
oracle checks hash-for-hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.diagnostics import QVAL
from .compaction import write_generation


def rollup_minute_sink(out_path: str):
    """foreachBatch sink: one minute-level partial per micro-batch."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        qv = F.floor(
            F.col("value") * F.lit(QVAL) + F.lit(0.5)
        ).cast("long")
        partial = (
            batch_df.select(
                F.date_trunc("minute", F.col("ts")).alias("m"),
                "event_type",
                qv.alias("qv"),
            )
            .groupBy("m", "event_type")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("qv").cast("long").alias("s"),
            )
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
        )
        write_generation(partial, out_path)

    return sink


def read_day_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Cascade the stored minute partials to the day level.

    Merges per-batch partials per (minute, event_type) first — the
    same merge a continuous-aggregate refresh performs — then hour,
    then day; n_minutes counts non-empty minute buckets through the
    cascade (row counts, summed), exactly like the batch operator.
    """
    mv_minute = (
        spark.read.parquet(path)
        .groupBy("m", "event_type")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s").cast("long").alias("s"),
        )
    )
    mv_hour = mv_minute.groupBy(
        F.date_trunc("hour", F.col("m")).alias("h"), "event_type"
    ).agg(
        F.sum("n").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_minutes"),
        F.sum("s").cast("long").alias("s"),
    )
    return mv_hour.groupBy(
        F.date_trunc("day", F.col("h")).alias("day"), "event_type"
    ).agg(
        F.sum("n").cast("long").alias("n_events"),
        F.sum("n_minutes").cast("long").alias("n_minutes"),
        F.sum("s").cast("long").alias("value_micro"),
    )
