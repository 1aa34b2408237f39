"""Watermarked streaming aggregates — the documented-intent semantics
of the reference's Redis layer (SURVEY.md §2.6-2.7), done properly in
the engine:

* W1: true event-time sliding/tumbling window counts with a watermark
  (the reference's Redis TTL counter is *not* a sliding window — it
  counts everything since the key last went idle 10 min; README.md:95-97
  documents the intent we implement; the divergence is recorded in
  tests/test_streaming.py).
* W3: cross-batch dedup by event id via dropDuplicatesWithinWatermark
  (the reference pushes this to the webhook receiver's in-memory set,
  external-api/app.py:4-11 — unbounded state; the watermark bounds it).
* T5: late rows beyond the watermark are dropped (the reference
  absorbed them incorrectly via TTL).

State store: RocksDB (session.py) so 100 TB-scale key cardinality
spills to disk instead of exploding the executor heap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .compaction import write_generation

DEFAULT_WATERMARK = "10 minutes"


def windowed_counts(
    events: DataFrame,
    *keys: str,
    ts_col: str = "ts",
    width: str = "10 minutes",
    slide: str | None = None,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Event-time windowed counts per key.  Works on both streaming and
    batch DataFrames (batch ignores the watermark) — the core of the
    batch-streaming equivalence tests."""
    if events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
    win = (
        F.window(F.col(ts_col), width, slide)
        if slide
        else F.window(F.col(ts_col), width)
    )
    return events.groupBy(win.alias("win"), *keys).agg(
        F.count(F.lit(1)).alias("n_events")
    ).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *keys,
        "n_events",
    )


def dedup_within_watermark(
    events: DataFrame,
    id_cols: list[str],
    ts_col: str = "ts",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """W3: drop duplicate event ids arriving within the watermark delay
    (state is evicted once the watermark passes — bounded, unlike the
    reference's receiver-side ``seen`` set)."""
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            id_cols
        )
    return events.dropDuplicates(id_cols)


def leaderboard(
    windowed: DataFrame, k: int, *keys: str
) -> DataFrame:
    """W2 on top of windowed counts: per-window top-k (foreachBatch-side
    or complete-mode).  Deterministic tiebreak on the key columns."""
    from pyspark.sql import Window as W

    order = [F.desc("n_events")] + [F.asc(c) for c in keys]
    w = W.partitionBy("window_start").orderBy(*order)
    return (
        windowed.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# --- incremental rollup (continuous-aggregate analogue) ----------------


def rollup_sink(path: str, *keys: str, ts_col: str = "ts", width: str = "1 hour"):
    """Merge-on-read continuous aggregate (the TimescaleDB/ClickHouse
    materialized-rollup analogue done the lakehouse way).

    Each micro-batch writes its PARTIAL aggregate (count/sum per
    (window, keys)) under ``batch_id=N`` — an idempotent overwrite, so
    crash-replay of a batch replaces its own partial instead of
    double-counting (the classic incremental-rollup replay bug).
    :func:`read_rollup` folds the partials at read time; compacting
    them into a base table periodically is the same code path.
    Returns a sink function for ``foreachBatch`` / ``FanoutSink``.
    """

    def write(df: DataFrame, batch_id: int) -> None:
        partial = (
            df.groupBy(
                F.window(F.col(ts_col), width).alias("win"), *keys
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("double")).alias("sum_value"),
            )
            .select(
                F.col("win.start").alias("window_start"),
                *keys,
                "n_events",
                "sum_value",
            )
            .withColumn("batch_id", F.lit(int(batch_id)))
        )
        write_generation(partial, path)

    return write


def read_rollup(spark, path: str, *keys: str) -> DataFrame:
    """Fold the per-batch partial aggregates into the current rollup
    (count and sum are decomposable, so partial-of-partials is exact)."""
    return (
        spark.read.parquet(path)
        .groupBy("window_start", *keys)
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
        )
    )
