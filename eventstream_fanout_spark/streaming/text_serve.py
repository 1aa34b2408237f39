"""Streaming BM25 serving — keyword queries arrive as a STREAM and
probe the persisted inverted index per micro-batch (the text twin of
streaming/ann_serve.py, VERDICT r6 item 7).

text_ingest.py keeps the index current as the corpus streams IN; this
is the other half of the retrieval loop: a stream of keyword queries
``(qid, terms array<string>)`` answered from the STORED index inside
``foreachBatch`` — one term-filtered postings scan per micro-batch
serves the whole query batch (operators/text_index.bm25_batch_topk),
results land batch-id-keyed so a replayed batch overwrites only its
own answers (the standard idempotent-sink contract; answers for a
replayed batch are recomputed against the CURRENT index, the same
wall-clock freshness semantics as the ANN serving sink).

Scale shape per batch: the batch's term vocabulary (collected once
per trigger, metadata-sized) pushes into the postings scan as an IN
predicate, so each trigger reads only the queried terms' posting rows
— never the corpus; the (qid, tok) mapping and the merge-on-read
df/stats ride as broadcasts.  ``max_df_frac`` (VERDICT r7 item 7)
applies the hot-term bound per trigger: a stop-word-shaped query term
whose stored df exceeds the fraction is dropped BEFORE the scan, so no
adversarial query can make a trigger's probe corpus-length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.text_index import bm25_batch_topk
from .compaction import write_generation


def streaming_bm25_probe_sink(
    index_path: str,
    out_path: str,
    k: int = 5,
    max_df_frac: float | None = None,
):
    """``foreachBatch`` callback: answer each micro-batch of
    ``(qid, terms)`` keyword queries with its BM25 top-k from the
    stored index, appended idempotently under the batch's own
    partition.  ``max_df_frac`` bounds per-trigger cost by dropping
    hot terms (stored ``df > max_df_frac * n_docs``) before the
    postings scan."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        topk = bm25_batch_topk(
            spark,
            index_path,
            batch_df.select("qid", "terms"),
            k,
            max_df_frac=max_df_frac,
        )
        write_generation(
            topk.withColumn("batch_id", F.lit(int(batch_id))),
            out_path,
        )

    return process
