"""Incremental (streaming) corpus deduplication — MinHash-LSH dedup as
a ``foreachBatch`` stage against a persistent signature store.

The batch dedup family (operators/dedup.py) answers "which docs in THIS
corpus are near-dups"; an ingest pipeline needs the incremental
question: "is this NEW doc a near-dup of anything already accepted?"
The reference has no analogue (its dedup is the webhook receiver's
in-memory id set, external-api/app.py:4-11); this is the training-data
version of that seam done at warehouse scale.

Design (per micro-batch):

1. MinHash signatures + LSH bands for the batch (same
   ``minhash_signatures``/``banded_signatures`` plans as batch dedup —
   one code path, two execution modes).
2. Band equi-join against the ACCEPTED band store (parquet): any band
   match marks the doc as a near-dup candidate; candidates are dropped
   — or, with ``min_jaccard`` set on the sink, dropped only after the
   exact shingle-Jaccard verifier clears them (the batch family's
   LSH→verify composition, shingling ONLY the candidate docs re-read
   from the accepted output).
3. Within-batch dedup by the same band join (salted, bucket-local).
4. Survivors' bands append to the store under ``batch_id=N`` —
   idempotent replay (a replayed batch overwrites its own partition,
   exactly the parquet_sink contract), so crash-replay cannot admit a
   duplicate OR lose an accepted signature.

Scale shape: the store join is a band-bucket equi-join (shuffle keyed
on (band, bh)) — identical cost model to batch LSH; the store is
partitioned by batch_id and compacts like any rollup.  State never
lives on the driver and never in executor memory — it IS the store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.guards import guard_branch
from ..operators.dedup import banded_signatures, minhash_signatures
from .compaction import erase_rows, read_store_or_none, write_generation


def batch_bands(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, band, bh) for a micro-batch of documents."""
    return banded_signatures(minhash_signatures(docs, text_col))


def accepted_bands(
    spark: SparkSession, store_path: str, exclude_batch_id: int | None = None
) -> DataFrame:
    """The persistent accepted-signature store (empty on first batch).

    ``exclude_batch_id`` masks the in-flight batch's OWN partition:
    on crash-replay the store may already hold the replayed batch's
    bands, and without the mask its docs would reject themselves —
    the incremental-dedup replay bug (partition pruning makes the
    mask a metadata-only filter)."""
    df = read_store_or_none(spark, store_path, exclude_batch_id)
    if df is None:  # store not created yet (PATH_NOT_FOUND)
        return spark.createDataFrame(
            [], "doc_id long, band int, bh string"
        )
    return df.select("doc_id", "band", "bh")


def dedup_batch_against_store(
    batch: DataFrame,
    store: DataFrame,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Return the subset of ``batch`` docs that are NOT near-dups of the
    store or of an earlier-id doc in the same batch.

    Both rejections are band equi-joins (left_anti): bucket-local,
    never all-pairs.  Within-batch survivors keep the LOWEST doc_id of
    each near-dup group (deterministic canonical), matching the batch
    family's canonical-min convention.

    The within-batch self-join's posture is MEASURED per batch (r13
    verdict item 8): the largest band bucket is read back (one 1-row
    planning collect per trigger — request-bounded; it recomputes the
    batch-sized band derivation once, deliberately NOT checkpointed —
    a LogicalRDD reused across this tree's many self-joined branches
    mis-resolved attributes and doubled n_common, see
    test_redelivered_doc_id_raises), and the salt split applies only
    when the batch actually carries a hot bucket; a clean micro-batch
    pays no salt explode or per-bucket count window.

    ``bands`` optionally supplies the batch's band derivation
    precomputed (the sinks pass it PERSISTED, r14): the derivation
    feeds ~4 consumers here — the planning collect, the store
    rejection join, and both sides of the within-batch self-join — and
    without the cache each consumer re-ran the full
    tokenize→minhash→band pipeline over the batch (guide §1.2: don't
    compute things twice).  persist(), never localCheckpoint — the
    self-join needs the logical plan intact (the LogicalRDD hazard
    above)."""
    from ..operators.diagnostics import adaptive_bucket_pairs

    if bands is None:
        bands = batch_bands(batch)
    vs_store = bands.join(
        store.select("band", "bh").distinct(), ["band", "bh"], "left_semi"
    ).select("doc_id").distinct()
    # Measured bucket-local self-join (same skew bound as the batch
    # family): both postures emit ordered pairs a.id < b.id and the
    # salt split is lossless, so rejecting every b.doc_id is exactly
    # "drop all but the lowest id of each near-dup band group" —
    # identical result set either way; what the measurement changes is
    # whether a degenerate band value inside one large micro-batch can
    # concentrate its pair work in a single task.
    wb_pairs, _salted, _max_cnt = adaptive_bucket_pairs(
        bands, ["band", "bh"], "doc_id"
    )
    vs_batch = (
        wb_pairs.select(F.col("b.doc_id").alias("doc_id")).distinct()
    )
    rejected = vs_store.unionByName(vs_batch).distinct()
    return batch.join(rejected, "doc_id", "left_anti")


def append_accepted(
    accepted: DataFrame,
    store_path: str,
    batch_id: int,
    bands: DataFrame | None = None,
) -> None:
    """Idempotently append the accepted docs' bands under their batch
    partition (replay overwrites, never duplicates).

    ``bands`` optionally supplies the BATCH's band derivation already
    computed (and persisted) by the dedup step: bands are a pure
    per-document function of the text, so semi-joining them on the
    accepted doc_ids yields exactly ``batch_bands(accepted)`` without
    re-running the tokenize→minhash pipeline over the survivors (r14
    — this was a full second derivation per trigger)."""
    src = (
        batch_bands(accepted)
        if bands is None
        else bands.join(
            accepted.select("doc_id").distinct(), "doc_id", "left_semi"
        )
    )
    write_generation(
        src.select("doc_id", "band", "bh").withColumn(
            "batch_id", F.lit(int(batch_id))
        ),
        store_path,
    )


def _candidate_pairs(
    bands: DataFrame, store: DataFrame
) -> DataFrame:
    """Ordered near-dup candidate pairs (doc_a rejects doc_b): store
    hits (store doc -> batch doc) plus salted within-batch pairs (lower
    id -> higher id).  Pure band equi-joins, bucket-local.  The
    within-batch side takes the measured posture (adaptive_bucket_pairs,
    r13 item 8); the bands relation is deliberately NOT checkpointed
    here — see :func:`dedup_batch_against_store` on the LogicalRDD-reuse
    hazard."""
    from ..operators.diagnostics import adaptive_bucket_pairs

    vs_store = (
        bands.alias("n")
        .join(
            store.alias("s"),
            (F.col("n.band") == F.col("s.band"))
            & (F.col("n.bh") == F.col("s.bh")),
        )
        .select(
            F.col("s.doc_id").alias("doc_a"),
            F.col("n.doc_id").alias("doc_b"),
        )
    )
    wb_pairs, _salted, _max_cnt = adaptive_bucket_pairs(
        bands, ["band", "bh"], "doc_id"
    )
    vs_batch = wb_pairs.select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    return vs_store.unionByName(vs_batch).distinct()


def dedup_batch_verified(
    batch: DataFrame,
    store: DataFrame,
    accepted_docs: DataFrame | None,
    min_jaccard: float,
    bands: DataFrame | None = None,
) -> DataFrame:
    """:func:`dedup_batch_against_store` with the batch family's
    LSH→verify composition: a band candidate rejects a batch doc only
    if the EXACT shingle Jaccard of the pair clears ``min_jaccard`` —
    so a hash-collision band match on genuinely different text no
    longer drops a document.

    Scale shape: candidates are the same bucket-local band joins;
    verification shingling is restricted by semi-join to the candidate
    docs on BOTH sides (batch docs and the store docs re-read from
    ``accepted_docs``), so per-batch cost is
    O(|candidates| x shingles/doc) regardless of corpus size.

    Two lazy contract guards ride the returned plan (the ivf_topk
    0-row-union assert_true pattern — candidate-bounded, no extra
    Spark job), both of which would otherwise corrupt verification
    SILENTLY:

    1. doc-level coverage (VERDICT r5 item 1): every candidate doc_id
       must have text in the unioned relation.  A *partially* trimmed
       accepted-docs output (retention deleting some batch partitions
       while the band store keeps their signatures) would drop those
       pairs out of the jaccard inner join and ADMIT their duplicates
       — the artifact-level :func:`_verified_inputs_or_raise` cannot
       see it.  Raise instead.
    2. doc_id uniqueness (the ingest contract, VERDICT r5 item 7): a
       doc_id appearing more than once across batch + accepted docs
       makes the shingle relation ambiguous (two texts merge into one
       shingle set and jaccard is computed against their union).
       The check is candidate-scoped — the only place the ambiguity
       can corrupt a verification verdict — so its cost stays bounded
       by |candidates|, not the corpus."""
    from ..operators.dedup import doc_shingles, jaccard_verify_candidates

    if bands is None:
        bands = batch_bands(batch)
    cands = _candidate_pairs(bands, store)
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sides = batch.select("doc_id", "text")
    if accepted_docs is not None:
        sides = sides.unionByName(accepted_docs.select("doc_id", "text"))
    # per-candidate text coverage: n rows of text per candidate doc_id
    # (0 -> trimmed accepted doc, the fail-open; >1 -> colliding id)
    cover = (
        cand_ids.join(
            sides.select("doc_id", F.lit(1).alias("_present")),
            "doc_id",
            "left",
        )
        .groupBy("doc_id")
        .agg(F.count("_present").alias("_n"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("_n") == 0, 1).otherwise(0)), F.lit(0)
            ).alias("_n_missing"),
            F.coalesce(
                F.sum(F.when(F.col("_n") > 1, 1).otherwise(0)), F.lit(0)
            ).alias("_n_dupid"),
        )
    )
    guard = guard_branch(
        cover,
        (F.col("_n_missing") == 0) & (F.col("_n_dupid") == 0),
        F.concat(
            F.lit("verified dedup contract violation: "),
            F.col("_n_missing").cast("string"),
            F.lit(
                " candidate doc(s) have no text in the "
                "batch+accepted relation (partially trimmed "
                "accepted-docs output — verification would fail "
                "open and admit their duplicates) and "
            ),
            F.col("_n_dupid").cast("string"),
            F.lit(
                " candidate doc_id(s) appear more than once "
                "(globally-unique doc_id ingest contract broken "
                "— the shingle relation is ambiguous); restore "
                "the accepted output / fix the id assignment "
                "before resuming"
            ),
        ),
        batch.schema,
    )
    sh = doc_shingles(sides.join(cand_ids, "doc_id", "left_semi"))
    verified = jaccard_verify_candidates(sh, cands, min_jaccard)
    rejected = verified.select(F.col("doc_b").alias("doc_id")).distinct()
    return batch.join(rejected, "doc_id", "left_anti").unionByName(guard)


def _verified_inputs_or_raise(
    store: DataFrame, accepted: DataFrame | None
) -> DataFrame | None:
    """Fail-CLOSED guard for verified mode: a non-empty band store with
    a missing accepted-docs artifact means every store-side candidate
    would silently lose its verification shingles (the pair drops out
    of the jaccard inner join) and every duplicate of an accepted doc
    would be ADMITTED.  That violates the module invariant — refuse
    instead.  Only evaluated on the None path (first batch), where the
    store-emptiness probe is a metadata-cheap job on an empty/absent
    store."""
    if accepted is None and not store.isEmpty():
        raise RuntimeError(
            "verified dedup: the signature store holds accepted bands "
            "but the accepted-docs output is missing — verification "
            "would fail open and admit duplicates of every accepted "
            "doc; restore the output artifact (or rebuild the store) "
            "before resuming"
        )
    return accepted


def streaming_dedup_sink(
    store_path: str,
    out_path: str,
    min_jaccard: float | None = None,
):
    """``foreachBatch`` callback: admit only docs that are near-dups of
    nothing accepted so far; append survivors (and their signatures)
    idempotently.  Compose with ``start_fanout``.

    ``min_jaccard=None`` (default) rejects on any band match;
    a float enables the exact-Jaccard verified mode
    (:func:`dedup_batch_verified`)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        store = accepted_bands(spark, store_path, exclude_batch_id=batch_id)
        # the batch's band derivation is computed ONCE per trigger and
        # persisted: its ~5 consumers (planning collect, store join,
        # both self-join sides, the accepted-bands append) otherwise
        # each re-ran the tokenize→minhash pipeline (r14, guide §1.2)
        bands = batch_bands(batch_df).persist()
        try:
            if min_jaccard is None:
                survivors = dedup_batch_against_store(
                    batch_df, store, bands=bands
                )
            else:
                accepted = _verified_inputs_or_raise(
                    store,
                    read_store_or_none(spark, out_path, batch_id),
                )
                survivors = dedup_batch_verified(
                    batch_df, store, accepted, min_jaccard, bands=bands
                )
            survivors = survivors.persist()
            try:
                write_generation(
                    survivors.withColumn("batch_id", F.lit(int(batch_id))),
                    out_path,
                )
                append_accepted(survivors, store_path, batch_id, bands=bands)
            finally:
                survivors.unpersist()
        finally:
            bands.unpersist()

    return process


def delete_doc_signatures(
    spark: SparkSession,
    store_path: str,
    out_path: str,
    doc_ids: list[int],
) -> int:
    """Erase documents from the dedup state: their bands leave the
    signature store and their rows leave the accepted-docs artifact
    (the shared partition-local eraser, compaction.erase_rows).

    Without this, an erased doc leaves GHOST bands behind: any future
    near-duplicate of it would be rejected against a document that no
    longer exists — erasure from the retrieval index alone
    (text_ingest.delete_docs) is not erasure from the pipeline.
    Semantics stated plainly: erasure removes the doc's DATA and its
    future influence; historical decisions stand (a doc rejected in a
    past batch as a near-dup of the erased doc stays rejected — the
    store is not a time machine, and replaying history against edited
    state would break replay idempotence).  Verified mode stays
    consistent: candidates against an erased doc cannot arise (its
    bands are gone), so its missing shingles are never needed.

    Returns the number of partitions rewritten across both
    artifacts."""
    ids = [int(d) for d in doc_ids]
    n = erase_rows(spark, store_path, "doc_id", ids)
    n += erase_rows(spark, out_path, "doc_id", ids)
    return n
