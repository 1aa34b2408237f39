"""Hybrid lexical+vector retrieval over the PERSISTED indexes — the
batch/streaming completion of ``hybrid_search_rrf``
(plans/pipeline_queries.py, single query, in-plan vector ranking).

A hybrid query carries BOTH a term bag and an embedding:
``(qid, terms array<string>, embedding array<float>)``.  Each
micro-batch fuses

* the BM25 top-``depth`` from the persisted inverted index — ONE
  term-filtered postings scan for the whole batch
  (operators/text_index.bm25_batch_topk), and
* the ADC top-``depth`` from the persisted PQ/IVF index — ONE
  partition-pruned codes scan for the whole batch
  (operators/ann_index.pq_batch_probe_topk, nprobe coarse lists per
  query),

by reciprocal-rank fusion: ``sum(1/(rrf_k + rank))`` per (query, doc)
— rank-only, so the two scorers' incomparable scales never mix, and
pure rational arithmetic, so the fused ranking is hash-exact.

Scale shape per batch: two index scans total (term-filtered + IVF-
pruned), everything else broadcast-sized; cost independent of batch
size beyond the broadcast relations.  The reference has no retrieval
surface at all (its engine is reference pipeline/app.py:1-115); this
is north-star extension surface (SURVEY.md §2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RRF_K = 60        # the standard RRF damping constant
HYBRID_DEPTH = 20  # candidates taken from each ranker


def _rrf_fuse(
    brank: DataFrame, vrank: DataFrame, k: int, *part: str
) -> DataFrame:
    """The one fusion tail: ``brank`` ``(*part, doc_id, rank_text)``
    full-outer-joined to ``vrank`` ``(*part, doc_id, rank_vec)``, scored
    ``sum(1/(RRF_K + rank))`` (a side that did not rank a doc adds 0),
    and the top-``k`` per ``part`` (the query id of a batch; nothing
    for a single query) ranked by score, ties by doc_id."""
    from pyspark.sql import Window

    zero = F.lit(0.0).cast("double")
    one = F.lit(1.0).cast("double")
    fused = brank.join(vrank, [*part, "doc_id"], "full_outer").select(
        *part,
        "doc_id",
        "rank_text",
        "rank_vec",
        (
            F.coalesce(
                one / (F.lit(RRF_K) + F.col("rank_text")).cast("double"),
                zero,
            )
            + F.coalesce(
                one / (F.lit(RRF_K) + F.col("rank_vec")).cast("double"),
                zero,
            )
        ).alias("rrf_score"),
    )
    w = Window.partitionBy(*part).orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(
            *part, "doc_id", "rank_text", "rank_vec", "rrf_score", "rank"
        )
    )


def hybrid_batch_rrf(
    spark: SparkSession,
    text_index_path: str,
    ann_index_path: str,
    queries: DataFrame,
    k: int = 10,
    depth: int = HYBRID_DEPTH,
    nprobe: int | None = 2,
    terms_literal: list[str] | None = None,
    attr_pred_text: F.Column | None = None,
    attr_pred_vec: F.Column | None = None,
) -> DataFrame:
    """Fused top-``k`` per query: ``(qid, doc_id, rank_text, rank_vec,
    rrf_score, rank)``.  ``doc_id`` doubles as ``vec_id`` (the
    multimodal corpus contract: doc i's embedding is vector i);
    ``terms_literal``/``nprobe`` pass through to the two batch
    probes; the optional attr predicates (round 11) make this the
    FILTERED batch hybrid — each side's restriction rides its own
    index layout (term-filtered attrs scan / list-pruned attrs scan),
    exactly as in ``hybrid_filtered_rrf``."""
    from .ann_index import pq_batch_probe_topk
    from .text_index import bm25_batch_topk

    brank = bm25_batch_topk(
        spark,
        text_index_path,
        queries.select("qid", "terms"),
        depth,
        terms_literal=terms_literal,
        attr_pred=attr_pred_text,
    ).select("qid", "doc_id", F.col("rank").alias("rank_text"))
    vrank = pq_batch_probe_topk(
        spark,
        ann_index_path,
        queries.select("qid", "embedding"),
        depth,
        nprobe=nprobe,
        attr_pred=attr_pred_vec,
    ).select(
        "qid",
        F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("rank_vec"),
    )
    return _rrf_fuse(brank, vrank, k, "qid")


def hybrid_filtered_rrf(
    spark: SparkSession,
    text_index_path: str,
    ann_index_path: str,
    terms: list[str],
    query: DataFrame,
    attr_pred_text: F.Column,
    attr_pred_vec: F.Column,
    k: int = 10,
    depth: int = HYBRID_DEPTH,
    nprobe: int | None = 2,
) -> DataFrame:
    """FILTERED hybrid retrieval (VERDICT r9 item 3): RRF fusion of
    the filtered BM25 probe (``text_index.bm25_topk_filtered``) and
    the filtered ADC probe (``ann_index.pq_filtered_topk``) — "hybrid
    search within lang='en'", the predicate+fusion query a RAG stack
    serves.  ``doc_id`` doubles as ``vec_id`` (the multimodal corpus
    contract); the two predicates express the SAME metadata filter
    against each index's own attr side store (text: postings-layout
    attrs; ANN: codes-layout attrs), so each side's candidate
    restriction stays term-filtered / list-pruned respectively —
    nothing corpus-wide enters the fused plan.

    Each ranker contributes its filtered top-``depth``; a doc passing
    the filter but outside a probed list (ANN side) is the standard
    nprobe-dialable recall miss.  Fusion is the rank-only
    ``sum(1/(RRF_K + rank))`` of :func:`hybrid_batch_rrf` — pure
    rational arithmetic, hash-exact."""
    from pyspark.sql import Window

    from .ann_index import pq_filtered_topk
    from .text_index import bm25_topk_filtered

    wb = Window.orderBy(F.desc("bm25_score"), F.asc("doc_id"))
    brank = (
        bm25_topk_filtered(
            spark, text_index_path, terms, depth, attr_pred_text
        )
        .withColumn("rank_text", F.row_number().over(wb).cast("int"))
        .select("doc_id", "rank_text")
    )
    wv = Window.orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    vrank = (
        pq_filtered_topk(
            spark, ann_index_path, query, depth, attr_pred_vec,
            nprobe=nprobe,
        )
        .withColumn("rank_vec", F.row_number().over(wv).cast("int"))
        .select(F.col("vec_id").alias("doc_id"), "rank_vec")
    )
    return _rrf_fuse(brank, vrank, k)
