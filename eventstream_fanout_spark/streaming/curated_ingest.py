"""Curated ingest — the composed training-data pipeline stage:
dedup-then-index inside one ``foreachBatch``.

The reference's "coordinated fan-out" (reference pipeline/app.py:55-109)
writes the SAME rows to every sink; a training-data ingest needs the
sinks to be STAGED — only documents that survive incremental dedup
(streaming/corpus_dedup.py) may enter the retrieval index
(streaming/text_ingest.py).  This callback chains them:

1. the dedup sink admits the batch's near-dup-free docs and writes
   them under ``out_path/batch_id=N`` (its existing idempotent
   contract);
2. the ADMITTED partition is read back — exactly this batch's
   survivors, no recompute, no driver round-trip — and fed to the
   text-index sink, which appends postings/doclens under the same
   batch id.

Crash anywhere between the three writes heals on replay: every write
is keyed by the batch's own partition and overwrites only itself, so
re-running the batch converges (the corpus_dedup crash-between-writes
analysis extends unchanged — the index can never contain a doc the
dedup output lost, because it is BUILT from the dedup output).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .compaction import read_store_or_none
from .corpus_dedup import streaming_dedup_sink
from .text_ingest import streaming_text_index_sink
from .vector_dedup import streaming_vector_dedup_sink


def curated_ingest_sink(
    store_path: str,
    out_path: str,
    index_path: str,
    min_jaccard: float | None = None,
):
    """``foreachBatch`` callback: dedup the batch against the
    persistent signature store, then index exactly the admitted docs.
    ``min_jaccard`` selects verified dedup mode as on
    :func:`streaming_dedup_sink`."""
    dedup = streaming_dedup_sink(store_path, out_path, min_jaccard)
    index = streaming_text_index_sink(index_path)

    def process(batch_df, batch_id: int) -> None:
        dedup(batch_df, batch_id)
        admitted = read_store_or_none(
            batch_df.sparkSession, f"{out_path}/batch_id={int(batch_id)}"
        )
        if admitted is None:  # empty batch or everything rejected
            return
        index(admitted.select("doc_id", "text"), batch_id)

    return process


def curated_multimodal_ingest_sink(
    store_path: str,
    out_path: str,
    text_index_path: str,
    ann_index_path: str,
    vec_out_path: str,
    max_adc_dist: int,
    min_jaccard: float | None = None,
    nprobe: int = 1,
):
    """The FULL multimodal curated ingest (VERDICT r6 item 6): one
    ``foreachBatch`` stages, for documents that carry embeddings
    ``(doc_id, text, embedding)``,

    1. TEXT dedup against the persistent signature store — admitted
       rows (all three columns) land under ``out_path/batch_id=N``;
    2. TEXT indexing of exactly the admitted partition (read back, no
       recompute — postings/doclens/stats append batch-id-keyed);
    3. VECTOR dedup of the admitted docs' embeddings against the
       persisted ANN index (``vec_id = doc_id``) — embedding-level
       survivors land in ``vec_out_path`` and
    4. their codes APPEND to the ANN index in the same step (the
       vector-dedup sink's own contract: the index IS the dedup
       state).

    The ANN index starts quantizer-only (``build_pq_quantizer``); its
    codes store is FOUNDED by the first admitted batch, so every
    vector in it has passed both gates.  Every write is keyed by the
    batch's own partition and overwrites only itself, so a crash
    between ANY of the six writes converges on replay (the
    curated_ingest_sink analysis extends stage by stage: each stage is
    built FROM its upstream stage's persisted output, never from
    recomputation, so a later stage can never contain a doc an earlier
    stage lost)."""
    dedup = streaming_dedup_sink(store_path, out_path, min_jaccard)
    index = streaming_text_index_sink(text_index_path)
    vdedup = streaming_vector_dedup_sink(
        ann_index_path, vec_out_path, max_adc_dist, nprobe
    )

    def process(batch_df, batch_id: int) -> None:
        dedup(batch_df, batch_id)
        admitted = read_store_or_none(
            batch_df.sparkSession, f"{out_path}/batch_id={int(batch_id)}"
        )
        if admitted is None:  # empty batch or everything rejected
            return
        index(admitted.select("doc_id", "text"), batch_id)
        vdedup(
            admitted.select(
                F.col("doc_id").alias("vec_id"), "embedding"
            ),
            batch_id,
        )

    return process


def curated_erase(
    spark,
    store_path: str,
    out_path: str,
    text_index_path: str,
    doc_ids: list[int],
    ann_index_path: str | None = None,
    vec_out_path: str | None = None,
) -> int:
    """Right-to-erasure across the WHOLE curated pipeline — the
    erasure twin of the staged ingest above: one call removes the
    docs' signature bands + accepted rows (future dedup no longer
    sees them), their postings/doclens/stats/vocab contributions
    (probes no longer rank them), and — when the multimodal artifacts
    are given — their accepted vectors and ANN codes (vector dedup and
    ANN probes no longer see them).  Every constituent op is
    partition-local and idempotent, so a crash between stages is
    healed by re-running the same call.  Returns total partitions
    rewritten."""
    from .ann_ingest import delete_vectors
    from .compaction import erase_rows
    from .corpus_dedup import delete_doc_signatures
    from .text_ingest import delete_docs

    ids = [int(d) for d in doc_ids]
    n = delete_doc_signatures(spark, store_path, out_path, ids)
    n += delete_docs(spark, text_index_path, ids)
    if ann_index_path is not None:
        n += delete_vectors(spark, ann_index_path, ids)
    if vec_out_path is not None:
        n += erase_rows(spark, vec_out_path, "vec_id", ids)
    return n


def streaming_erasure_sink(
    store_path: str,
    out_path: str,
    text_index_path: str,
    ann_index_path: str | None = None,
    vec_out_path: str | None = None,
):
    """``foreachBatch`` callback: right-to-erasure requests arrive as
    a STREAM of ``(doc_id)`` rows and each micro-batch is applied
    through :func:`curated_erase` — the operational shape of a
    deletion queue (GDPR/DSAR processors emit requests continuously;
    the stores consume them in order).  The batch's ids are collected
    per trigger (an erasure request is metadata-sized by nature —
    SCALE.md §1).

    Replay contract: a replayed batch re-runs the same
    ``curated_erase``, which is idempotent end to end — the text side
    is tombstone-gated (a committed correction is never re-applied;
    a half-applied one is completed in place), the signature/vector/
    code erases find nothing left to rewrite.  Run in a maintenance
    window: not concurrent with the INGEST stream (the compaction
    contract shared by every store-rewriting op)."""

    def process(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ids = [
            int(r["doc_id"])
            for r in batch_df.select("doc_id").distinct().collect()
        ]
        curated_erase(
            batch_df.sparkSession,
            store_path,
            out_path,
            text_index_path,
            ids,
            ann_index_path=ann_index_path,
            vec_out_path=vec_out_path,
        )

    return process
