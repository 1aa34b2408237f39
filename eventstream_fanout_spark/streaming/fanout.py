"""Coordinated multi-sink fan-out — the reference's core pattern
(K1: one ``foreachBatch`` callback feeding warehouse + leaderboard +
webhook, reference pipeline/app.py:55-113), rebuilt executor-side.

Reference scale bugs fixed here (SURVEY.md §3.1):

* every reference sink crosses executors→driver (``toPandas`` app.py:84,
  ``collect`` app.py:90,102) — fatal at 100 TB.  Here the warehouse
  sink is a partitioned ``df.write`` and the webhook sink a
  ``foreachPartition`` — rows never visit the driver.
* no checkpoint despite claiming one (T4, README.md:250-251 vs
  app.py:111-113) — ``start_fanout`` requires a checkpoint location.
* no write idempotency — sinks here are batch-id-keyed: replaying a
  micro-batch after a crash overwrites instead of duplicating (T7,
  the "effectively-once" posture README.md:249-255 asks for).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .compaction import write_generation

Sink = Callable[[DataFrame, int], None]


@dataclass
class FanoutSink:
    """Named sink bundle for one ``foreachBatch`` callback."""

    name: str
    write: Sink


def parquet_sink(
    path: str,
    project: Callable[[DataFrame], DataFrame] | None = None,
) -> FanoutSink:
    """Warehouse sink (reference K2, ClickHouse stand-in): executor-side
    partitioned parquet append, batch-id-keyed for idempotent replay.

    Layout: ``{path}/batch_id={id}/...`` — a replayed batch id
    overwrites its own directory (compaction.write_generation), never
    duplicates.  ``project`` applies a final typed projection at the
    sink boundary (e.g. :func:`operators.enrichment.warehouse_typed` for the
    Decimal(5,2) ``engagement_pct`` the reference DDL declares).
    """

    def write(df: DataFrame, batch_id: int) -> None:
        if project is not None:
            df = project(df)
        write_generation(df.withColumn("batch_id", F.lit(batch_id)), path)

    return FanoutSink("warehouse", write)


def leaderboard_sink(path: str, k: int, *keys: str) -> FanoutSink:
    """Leaderboard sink (reference K3, Redis ZSET stand-in): per batch,
    rank the aggregated counts and overwrite the current leaderboard —
    same read contract as ``ZREVRANGE top10m 0 k WITHSCORES``."""
    from .aggregates import leaderboard

    def write(df: DataFrame, batch_id: int) -> None:
        top = leaderboard(df, k, *keys)
        top.write.mode("overwrite").parquet(path)

    return FanoutSink("leaderboard", write)


def webhook_sink(
    path: str,
    id_col: str = "event_id",
    poster: Callable[[dict], None] | None = None,
) -> FanoutSink:
    """Webhook sink (reference K4): executor-side ``foreachPartition``
    delivery with an Idempotency-Key per event (reference
    pipeline/app.py:102-108 posts row-by-row from the driver and
    swallows errors; here each partition delivers independently and
    failed deliveries raise -> Spark retries the task, receiver dedups
    by key — at-least-once + idempotent receiver = effectively-once).

    Without a real endpoint (``poster=None``) each partition appends
    its deliveries as JSONL under ``path`` (one file per batch/
    partition — append-only, receiver-side dedup by Idempotency-Key is
    part of the read contract, as in the reference's external-api).
    """

    def write(df: DataFrame, batch_id: int) -> None:
        payload = df.select(
            F.col(id_col).cast("string").alias("idempotency_key"),
            F.to_json(F.struct(*df.columns)).alias("body"),
        )
        if poster is not None:
            def deliver(rows) -> None:
                for row in rows:
                    poster(
                        {
                            "Idempotency-Key": row["idempotency_key"],
                            "body": row["body"],
                        }
                    )

            payload.foreachPartition(deliver)
        else:
            def deliver_local(rows) -> None:
                import os as _os
                import uuid as _uuid

                _os.makedirs(path, exist_ok=True)
                tmp = _os.path.join(
                    path, f"delivery-{batch_id}-{_uuid.uuid4().hex}.jsonl"
                )
                with open(tmp, "w") as fh:
                    for row in rows:
                        fh.write(
                            json.dumps(
                                {
                                    "idempotency_key": row["idempotency_key"],
                                    "batch_id": batch_id,
                                    "body": row["body"],
                                }
                            )
                            + "\n"
                        )

            payload.foreachPartition(deliver_local)

    return FanoutSink("webhook", write)


def fanout_batch_fn(
    sinks: list[FanoutSink],
    transform: Callable[[DataFrame], DataFrame] | None = None,
):
    """Build the ``foreachBatch`` callback: optional per-batch transform
    (e.g. the enrichment join), then every sink in order (reference K1
    semantics: one coordinated function per micro-batch).

    The emptiness check runs on the persisted transformed frame, not
    on the raw batch: an action on ``batch_df`` before the sinks re-reads
    the batch's source rows, which Structured Streaming adds to the
    trigger's ``numInputRows``."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        df = transform(batch_df) if transform else batch_df
        df.persist()
        try:
            if df.isEmpty():  # P7 (modern idiom vs rdd.isEmpty)
                return
            for sink in sinks:
                sink.write(df, batch_id)
        finally:
            df.unpersist()

    return process


def start_fanout(
    stream_df: DataFrame,
    sinks: list[FanoutSink],
    checkpoint_dir: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    trigger: dict | None = None,
    query_name: str = "fanout",
):
    """writeStream with mandatory checkpointing (fixes reference T4).

    ``trigger`` defaults to availableNow (drain-and-stop, for tests /
    backfill — reference README.md:243-245's replay story); pass
    ``{"processingTime": "5 seconds"}`` for the reference's continuous
    cadence (app.py:112).
    """
    os.makedirs(checkpoint_dir, exist_ok=True)
    writer = (
        stream_df.writeStream.outputMode("append")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(fanout_batch_fn(sinks, transform))
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()
