"""Persisted multi-vector (MaxSim) chunk-bucket index.

The in-plan two-stage of operators/multivector.py computes chunk
buckets over the whole corpus at query time — correct, but the
bucketing pass costs a corpus scan, so pruning saves nothing
(measured: x10 pruned 2.64 s vs exact 2.11 s, PERF.md maxsim table).
This module makes stage 1 a STORED index, following the family pattern
of operators/ann_index.py / operators/text_index.py:

layout
    {index}/chunks   (vec_id, c, chunk, label, bucket) partitioned by
                     (batch_id, bgrp) — bucket = the chunk's 8-bit
                     hyperplane-LSH bucket (16-dim hyperplanes, same
                     md5 construction the oracles replay), bgrp =
                     bucket div {BGRP_DIV} (a 16-ary directory
                     grouping), rows SORTED by bucket within each
                     file so parquet row-group min/max stats skip
                     inside a group.

    r14 layout note: bucket itself was the partition directory key
    (up to 256 dirs per generation).  Pruning was crisp but every
    ingest paid a ~250-directory commit — measured 4-6 s per ~5k-row
    generation at sf0.1 against 0.4 s for the identical rows written
    flat, i.e. the store layout, not the data, was the cost (guide
    §6: partition by LOW-cardinality, sort the high-cardinality
    filter column inside files).  The two-level layout keeps pruning
    (dir-level on bgrp, row-group-level on the sorted bucket — the
    probe pushes an explicit ``bucket IN (...)`` predicate, visible
    as PushedFilters in the plan) at 1/16 the directory count, and a
    replayed batch still rewrites byte-identically (bgrp and the
    in-file sort are pure functions of the rows).

serve (mv_probe_topk)
    stage 1: the query's <= 4 chunk buckets are computed once
    (request-bounded 4-row collect, the ann_index pushed-probe
    pattern) and pushed into the chunks scan as partition +
    row-group predicates — candidate doc ids come from the matching
    slice only, never a corpus scan;
    stage 2: candidates' FULL chunk sets (a vec_id join against the
    store — candidate-bounded) score exact MaxSim.

maintenance
    ingest_mv_vectors appends a batch into its own (batch_id, bucket)
    partitions — batch-id-keyed dynamic overwrite, so a replayed batch
    rewrites only itself (effectively-once, the repo-wide sink
    contract).  delete_mv_vectors physically removes every chunk row
    of the doomed ids from every generation (right-to-erasure beats
    time travel, the ann_ingest contract).

Result parity: a probe against the store is bit-identical to the
in-plan maxsim_pruned_topk — same buckets, same candidates, same
fixed-association MaxSim sum — so the registered persisted/ingest/
delete sims share the pruned oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import cosine_given_bnorm
from ..functions.vectors import norm2 as _norm2
from ..streaming.compaction import write_generation
from .ann_index import FROZEN_BATCH_ID
from .multivector import (
    CHUNK_DIM,
    NUM_CHUNKS,
    _maxsim_agg,
    chunk_array,
    doc_chunks,
    query_chunks,
)
from .similarity import lsh_bucket


BGRP_DIV = 16  # buckets per directory group (256 buckets -> 16 dirs)


def _chunk_rows(vectors: DataFrame) -> DataFrame:
    """(vec_id, label, c, chunk, bucket, bgrp) rows — one per
    sub-vector; ``bgrp`` is the directory grouping (see module doc)."""
    return (
        doc_chunks(vectors, keep=("vec_id", "label"))
        .withColumn("bucket", lsh_bucket(F.col("chunk"), CHUNK_DIM))
        .withColumn(
            "bgrp", (F.col("bucket") / BGRP_DIV).cast("int")
        )
    )


def _write_generation(
    rows: DataFrame, index_path: str, batch_id: int
) -> None:
    """Land one generation's chunk rows: one bucket-sorted file per
    (batch_id, bgrp) directory (repartition on the dir key, sort by
    bucket inside — both pure functions of the rows, so a replayed
    batch rewrites byte-identically); dynamic overwrite keeps the
    replay touching exactly itself."""
    write_generation(
        rows.withColumn("batch_id", F.lit(int(batch_id)))
        .repartition("bgrp")
        .sortWithinPartitions("bucket"),
        f"{index_path}/chunks",
        "batch_id",
        "bgrp",
    )


def build_mv_index(
    spark: SparkSession,
    emb: DataFrame,
    index_path: str,
    corpus: DataFrame | None = None,
) -> None:
    """Write the chunk store's frozen generation.  ``corpus`` narrows
    which vectors are indexed at build time (ingest sims stream the
    rest in later); default: everything except query row 0."""
    if corpus is None:
        corpus = emb.where(F.col("vec_id") != 0)
    _write_generation(
        _chunk_rows(corpus.select("vec_id", "embedding", "label")),
        index_path,
        FROZEN_BATCH_ID,
    )


def ingest_mv_vectors(
    spark: SparkSession,
    index_path: str,
    batch: DataFrame,
    batch_id: int,
) -> None:
    """Append one ingest generation — the batch's chunk rows land in
    their own (batch_id, bgrp) partitions; dynamic overwrite makes a
    replay rewrite exactly itself."""
    _write_generation(
        _chunk_rows(batch.select("vec_id", "embedding", "label")),
        index_path,
        int(batch_id),
    )


def delete_mv_vectors(
    spark: SparkSession, index_path: str, vec_ids: list[int]
) -> int:
    """Right-to-erasure: physically drop every chunk row of the doomed
    vec_ids from every generation — the shared partition-local eraser
    (``streaming/compaction.erase_rows``), so only (batch_id, bucket)
    partitions actually containing a doomed row are rewritten, and a
    partition left empty is deleted outright.  Idempotent; run with
    the ingest stopped.  MaxSim carries no corpus statistics, so no
    correction bookkeeping is needed (the ann_ingest contract)."""
    from ..streaming.compaction import erase_rows

    return erase_rows(
        spark,
        f"{index_path}/chunks",
        "vec_id",
        [int(v) for v in vec_ids],
        extra_partition_cols=["bgrp"],
    )


def mv_probe_topk(
    spark: SparkSession,
    index_path: str,
    query: DataFrame,
    k: int,
) -> DataFrame:
    """Two-stage MaxSim against the STORED chunk index.  Stage 1's
    chunks scan is pruned to the query's bucket slice by PUSHED
    predicates — the <= 4 query buckets are computed once (a
    request-bounded 4-row collect, the pushed-probe pattern of the
    ANN family) and land in the scan as ``bgrp IN`` (directory
    pruning) + ``bucket IN`` (row-group min/max skipping over the
    bucket-sorted files); stage 2 re-reads only the candidates' chunk
    rows (vec_id join, candidate-bounded).  No bucketing of stored
    data happens at query time — lsh_bucket runs only in the tiny
    query-side job that computes the probe buckets."""
    chunks = spark.read.parquet(f"{index_path}/chunks")
    qch = query_chunks(query)
    qbuckets = sorted(
        {
            int(r["qbucket"])
            for r in qch.select(
                lsh_bucket(F.col("qchunk"), CHUNK_DIM).alias("qbucket")
            ).collect()
        }
    )
    qgrps = sorted({b // BGRP_DIV for b in qbuckets})
    cands = (
        chunks.where(
            F.col("bgrp").isin(qgrps) & F.col("bucket").isin(qbuckets)
        )
        .select("vec_id")
        .distinct()
    )
    # no broadcast hint on the candidate side: its size is a
    # data-dependent corpus fraction (AQE picks broadcast when small)
    cand_chunks = chunks.join(cands, "vec_id", "left_semi")
    pairs = cand_chunks.crossJoin(F.broadcast(qch)).select(
        "vec_id",
        "label",
        "qc",
        cosine_given_bnorm(
            F.col("chunk"), F.col("qchunk"), F.col("qn2")
        ).alias("pcos"),
    )
    return (
        _maxsim_agg(pairs)
        .orderBy(F.desc("maxsim"), F.asc("vec_id"))
        .limit(k)
    )


def mv_batch_probe_topk(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int,
    corpus_pred: F.Column | None = None,
) -> DataFrame:
    """Batch MaxSim serving: ONE stored-index scan answers the whole
    query batch (the production shape, mirroring ann_batch_topk /
    pq_batch_probe_topk).  ``queries`` carries (qid, qe); stage 1
    pushes the batch's distinct buckets into the scan exactly as on
    :func:`mv_probe_topk` (a (batch x 4)-row collect — the pushed-
    probe pattern), the broadcast join then pairs each surviving
    chunk row with the queries probing its bucket, candidates are
    per-query (qid, vec_id) pairs, stage 2 joins candidates' chunk
    rows to THEIR query's chunks (qid-keyed broadcast) and ranks per
    query.  ``corpus_pred`` optionally narrows the stored corpus
    (e.g. excluding the query ids when they are themselves
    indexed)."""
    from pyspark.sql import Window

    chunks = spark.read.parquet(f"{index_path}/chunks")
    if corpus_pred is not None:
        chunks = chunks.where(corpus_pred)
    qch = queries.select(
        "qid",
        F.posexplode(chunk_array(F.col("qe"))).alias("qc", "qchunk"),
    ).withColumn("qn2", _norm2(F.col("qchunk")))
    qb = qch.select(
        "qid", lsh_bucket(F.col("qchunk"), CHUNK_DIM).alias("qbucket")
    )
    qb_rows = qb.collect()
    qbuckets = sorted({int(r["qbucket"]) for r in qb_rows})
    qgrps = sorted({b // BGRP_DIV for b in qbuckets})
    qb = spark.createDataFrame(qb_rows, qb.schema)
    cands = (
        chunks.where(
            F.col("bgrp").isin(qgrps) & F.col("bucket").isin(qbuckets)
        )
        .join(F.broadcast(qb), F.col("bucket") == F.col("qbucket"))
        .select("qid", "vec_id")
        .distinct()
    )
    pairs = (
        chunks.join(cands, "vec_id")
        .join(F.broadcast(qch), "qid")
        .select(
            "qid",
            "vec_id",
            "label",
            "qc",
            cosine_given_bnorm(
                F.col("chunk"), F.col("qchunk"), F.col("qn2")
            ).alias("pcos"),
        )
    )
    best = pairs.groupBy("qid", "vec_id", "label").agg(
        *[
            F.max(F.when(F.col("qc") == c, F.col("pcos"))).alias(f"m{c}")
            for c in range(NUM_CHUNKS)
        ]
    )
    msum = ((F.col("m0") + F.col("m1")) + F.col("m2")) + F.col("m3")
    scored = best.select("qid", "vec_id", "label", msum.alias("maxsim"))
    w = Window.partitionBy("qid").orderBy(
        F.desc("maxsim"), F.asc("vec_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def compact_mv_index(
    spark: SparkSession, index_path: str, upto_batch_id: int
) -> int:
    """Fold per-batch chunk partitions below ``upto_batch_id`` (plus
    previous frozen generations) into a new frozen generation and drop
    the sources — the shared two-phase contract
    (:mod:`..streaming.compaction`).  ``dedup_cols=(vec_id, c)`` for
    hygiene, though MaxSim itself is duplicate-insensitive (MAX over
    pair cosines and DISTINCT candidates both absorb repeats).  Run
    with the ingest stopped; returns source partitions folded."""
    from ..streaming.compaction import compact_generations

    return compact_generations(
        spark,
        f"{index_path}/chunks",
        int(upto_batch_id),
        data_cols=["vec_id", "c", "chunk", "label", "bucket", "bgrp"],
        dedup_cols=["vec_id", "c"],
        extra_partition_cols=["bgrp"],
    )
