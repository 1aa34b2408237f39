"""Streaming HYBRID retrieval serving — queries carrying both a term
bag and an embedding arrive as a STREAM and are answered per
micro-batch by reciprocal-rank fusion over BOTH persisted indexes
(operators/hybrid.py), completing the serving family: ann_serve
(vector-only), text_serve (lexical-only), this (fused).

Per trigger: one term-filtered postings scan + one IVF-pruned codes
scan serve the whole batch; answers land batch-id-keyed so a replayed
batch overwrites only its own partition (recomputed against the
CURRENT indexes — the standard wall-clock freshness semantics of the
serving sinks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.hybrid import hybrid_batch_rrf
from .compaction import write_generation


def streaming_hybrid_probe_sink(
    text_index_path: str,
    ann_index_path: str,
    out_path: str,
    k: int = 5,
    nprobe: int | None = 2,
    attr_pred_text: F.Column | None = None,
    attr_pred_vec: F.Column | None = None,
):
    """``foreachBatch`` callback: answer each micro-batch of
    ``(qid, terms, embedding)`` hybrid queries with its fused top-k,
    appended idempotently under the batch's own partition.  The
    optional attr predicates (round 11) make this the FILTERED hybrid
    serving sink — the per-trigger scans stay term-filtered /
    list-pruned, with each side's predicate pushed into its own attr
    side store's scan."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        topk = hybrid_batch_rrf(
            spark,
            text_index_path,
            ann_index_path,
            batch_df.select("qid", "terms", "embedding"),
            k=k,
            nprobe=nprobe,
            attr_pred_text=attr_pred_text,
            attr_pred_vec=attr_pred_vec,
        )
        write_generation(
            topk.withColumn("batch_id", F.lit(int(batch_id))),
            out_path,
        )

    return process
