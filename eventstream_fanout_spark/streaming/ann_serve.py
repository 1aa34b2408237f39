"""Streaming ANN serving — query vectors arrive as a STREAM and probe
the persisted index per micro-batch.

ann_ingest.py keeps the index current as the corpus streams IN; this
is the other half of the production loop: a stream of query vectors
(user requests, dedup lookups, retrieval calls) answered from the
STORED index inside ``foreachBatch`` — one codes scan per micro-batch
serves the whole query batch (operators/ann_index.pq_batch_probe_topk),
results land batch-id-keyed so a replayed batch overwrites only its
own answers (the standard idempotent-sink contract; answers for a
replayed batch are recomputed against the CURRENT index, the same
wall-clock freshness semantics as the JDBC dimension re-read).

Scale shape per batch: broadcast |batch| x 64 distance tables against
ONE stored-codes scan, IVF-pruned by default (VERDICT r6 item 1): the
per-query (qid, list) probe pairs broadcast against the codes scan's
``list_id`` partition column, so each trigger touches only the union
of the batch's probed lists — never the whole corpus.  No state
beyond the index artifact itself.  ``nprobe=None`` opts back into the
exact-PQ full scan (recall dial at its maximum, linear-in-corpus per
trigger — a fixture/debug shape, not the 100 TB default).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.ann_index import pq_batch_probe_topk
from .compaction import write_generation

SERVE_NPROBE = 2  # default coarse lists probed per query


def streaming_ann_probe_sink(
    index_path: str,
    out_path: str,
    k: int = 5,
    nprobe: int | None = SERVE_NPROBE,
):
    """``foreachBatch`` callback: answer each micro-batch of
    ``(qid, embedding)`` query vectors with its ADC top-k from the
    stored index, appended idempotently under the batch's own
    partition."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        topk = pq_batch_probe_topk(
            spark,
            index_path,
            batch_df.select("qid", "embedding"),
            k,
            nprobe=nprobe,
        )
        write_generation(
            topk.withColumn("batch_id", F.lit(int(batch_id))),
            out_path,
        )

    return process
