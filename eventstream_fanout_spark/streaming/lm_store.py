"""Generational count store for the n-gram LM family.

CCNet-style corpora refresh monthly: the reference slice grows by a
delta batch, and the LM must follow without a full refit.  n-gram
counts make that trivial IN PRINCIPLE — counts are associative, so
serving can sum per-batch deltas — and this store makes it a tested
CONTRACT: each batch writes its own delta partitions (batch-id-keyed
static overwrite, the repo's effectively-once replay discipline — a
crashed batch re-runs byte-identically because a delta depends only
on its own batch's documents), and serving merges ``batch_id <= g``.

Store layout (both BUCKETED tables, names derived from ``root``):

- bigrams table  (lang, bg, c, batch_id): the batch's own bigram
  counts — NOT merged totals, so replay needs no read-back.
  Bucketed by ``bg``;
- vocab table    (lang, tok, c, batch_id): the batch's token
  OCCURRENCE counts.  Counts, not a distinct set, so the vocabulary
  is associative under deletion too: serving takes tokens whose
  merged count is positive, which equals the distinct-token set of
  the surviving documents.  Bucketed by ``tok``.

Both tables are partitioned by ``batch_id`` (dynamic-overwrite
replay masking + as-of partition pruning) and hash-bucketed on their
count key (compaction.write_table_generation — round-13 verdict
item 2):
serving's merge is a ``groupBy(lang, bg)`` / ``groupBy(lang, tok)``,
and HashPartitioning on the bucket column satisfies the clustered
distribution of any grouping that contains it, so the merge
aggregates each bucket in place with NO Exchange (pinned by
tests/test_lm.py::test_lm_store_serve_merge_is_shuffle_free).

The incremental contract is EXACT, not add-only-approximate like the
graph store: merged counts equal a full refit by associativity, and
``lm_incremental_update_sim`` pins that equality by hash (a
divergence flips its refit_match column and fails the driver gate).

Erasure rides the same associativity: right-to-erasure lands as a
NEGATIVE delta batch (the doomed documents' counts times -1), and
serving's ``HAVING SUM(c) > 0`` drops exactly the bigrams/tokens the
erased docs solely contributed — merged state equals a refit over the
surviving corpus, pinned by ``lm_erasure_sim``.  No store rewrite, no
tombstone scan: erasure cost is proportional to the doomed documents,
the delta-shaped posture of every erasure path in this repo.

Scale shape: a delta batch's counts aggregate map-side before the
write; serving's merge is one vocabulary-sized ``groupBy(lang, bg)``
over the bucketed store scan — bucket-local, shuffle-free, never a
corpus pass.  Long-running ingest bounds its partition count with
:func:`compact_lm_store` (manifest-committed fold, r14): counts are
associative, so the frozen generation's re-aggregated sums equal the
sources' exactly, and the manifest commit point means a crash can
never double a served count.  Time travel below the compaction
watermark is refused loudly, not served wrong.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.lm import bigram_counts, doc_tokens
from .compaction import (
    compact_table_manifest,
    live_batch_ids,
    manifest_watermark,
    read_compact_manifest,
    visible_partitions,
    write_partition_dir,
    write_table_generation,
)


def lm_table_name(root: str, kind: str) -> str:
    """Catalog name of one of the store's bucketed tables (``kind`` in
    {bigrams, vocab}) — derived from the store root so concurrent
    stores in one session never collide."""
    return f"lm_{kind}_" + hashlib.md5(root.encode()).hexdigest()[:12]


_KEYED = {"bigrams": ("bg", ("lang", "bg", "c")),
          "vocab": ("tok", ("lang", "tok", "c")),
          # opt-in third kind (r14): raw trigram counts for KN-order-3
          # serving — ingested only by ingest_lm_trigram_batch, so
          # bigram-only stores never create (or compact) this table
          "trigrams": ("tg", ("lang", "tg", "c"))}


def _write_delta(
    spark: SparkSession, root: str, kind: str, df: DataFrame, batch_id: int
) -> None:
    """Land one delta into the ``kind`` table (bucketed on the count
    key); a replayed batch id replaces exactly its own partition."""
    bucket_col, cols = _KEYED[kind]
    write_table_generation(
        df.select(
            *cols, F.lit(int(batch_id)).cast("bigint").alias("batch_id")
        ),
        lm_table_name(root, kind),
        bucket_col,
    )


def lm_manifest_path(root: str, kind: str) -> str:
    """The ``kind`` table's compaction manifest."""
    return f"{root}/compact_manifest_{kind}"


def _token_counts(
    docs: DataFrame, toked: DataFrame | None = None
) -> DataFrame:
    return (
        (doc_tokens(docs) if toked is None else toked)
        .select("lang", F.explode(F.col("toks")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def _guard_below_watermark(
    spark: SparkSession, root: str, batch_id: int
) -> None:
    for kind in _KEYED:
        wm = manifest_watermark(spark, lm_manifest_path(root, kind))
        if int(batch_id) < wm:
            raise ValueError(
                f"batch_id={batch_id} is below the {kind} compaction "
                f"watermark {wm}: its delta partition was folded away, "
                "so a replay cannot be byte-identical"
            )


def compact_lm_store(
    spark: SparkSession, root: str, upto_batch_id: int
) -> int:
    """Fold both count tables' per-batch delta partitions below
    ``upto_batch_id`` into one frozen generation each, committed
    through per-kind manifests (compaction.compact_table_manifest) —
    the crash window is EXACT, which matters here because duplicate
    rows would DOUBLE the served sums.  Counts are associative, so
    the fold re-aggregates (sum per key, fully-cancelled keys drop)
    and the frozen generation's merged state equals the sources' by
    construction.  Batch replays and as-of serves below the watermark
    are refused afterwards.  Run with the ingest stream stopped.
    Returns total live partitions folded across both tables."""
    total = 0
    for kind, (_bucket, cols) in _KEYED.items():
        if not spark.catalog.tableExists(lm_table_name(root, kind)):
            continue  # opt-in kind this store never ingested
        keys = [c for c in cols if c != "c"]
        total += compact_table_manifest(
            spark,
            lm_table_name(root, kind),
            lm_manifest_path(root, kind),
            upto_batch_id,
            lambda df, keys=keys: (
                df.groupBy(*keys)
                .agg(F.sum("c").cast("bigint").alias("c"))
                .where(F.col("c") != 0)
            ),
        )
    return total


def ingest_lm_batch(
    spark: SparkSession, root: str, docs: DataFrame, batch_id: int
) -> None:
    """Write one document batch's LM delta: per-language bigram
    counts and token occurrence counts.  Batches below the compaction
    watermark are refused (their partitions were folded away).
    Tokenization runs ONCE per batch (r14, guide §1.2): the persisted
    doc_tokens relation feeds both count kinds instead of each delta
    write re-splitting the text."""
    _guard_below_watermark(spark, root, batch_id)
    toked = doc_tokens(docs).persist()
    try:
        _write_delta(
            spark, root, "bigrams",
            bigram_counts(docs, toked).withColumnRenamed("c_uw", "c"),
            batch_id,
        )
        _write_delta(
            spark, root, "vocab", _token_counts(docs, toked), batch_id
        )
    finally:
        toked.unpersist()


def erase_lm_docs(
    spark: SparkSession, root: str, doomed: DataFrame, batch_id: int
) -> None:
    """Right-to-erasure as a NEGATIVE delta batch: the doomed
    documents' bigram and token counts times -1.  Replay-idempotent
    for the same reason ingest is (the delta depends only on the
    doomed docs); serving's positivity filter does the rest.
    Tokenizes the doomed docs once (ingest_lm_batch's r14 cache)."""
    _guard_below_watermark(spark, root, batch_id)
    toked = doc_tokens(doomed).persist()
    try:
        _write_delta(
            spark, root, "bigrams",
            bigram_counts(doomed, toked).select(
                "lang", "bg", (-F.col("c_uw")).cast("bigint").alias("c")
            ),
            batch_id,
        )
        _write_delta(
            spark, root, "vocab",
            _token_counts(doomed, toked).select(
                "lang", "tok", (-F.col("c")).cast("bigint").alias("c")
            ),
            batch_id,
        )
    finally:
        toked.unpersist()


def _visible(
    spark: SparkSession, root: str, kind: str, gen: int
) -> DataFrame:
    """Manifest-committed as-of view of one count table: the latest
    frozen generation plus live deltas in [watermark, gen].  Refuses
    gens below watermark - 1 — the frozen generation covers
    [0, watermark) as one unit and cannot be split at serve time."""
    wm, frozen = read_compact_manifest(spark, lm_manifest_path(root, kind))
    if int(gen) < wm - 1:
        raise ValueError(
            f"as-of gen {gen} is below the {kind} compaction "
            f"watermark {wm} - 1: that history was folded away"
        )
    return visible_partitions(
        spark.table(lm_table_name(root, kind)), wm, frozen
    ).where(F.col("batch_id") <= int(gen))


def serve_bigram_counts(
    spark: SparkSession, root: str, gen: int
) -> DataFrame:
    """Merged (lang, bg, c_uw) as-of generation ``gen`` — the exact
    counts a full refit over the surviving batches would produce
    (bigrams fully cancelled by erasure deltas drop).  The merge
    rides the table's ``bg`` bucketing: no Exchange.  As-of reads
    below ``watermark - 1`` are refused (that history was folded)."""
    return (
        _visible(spark, root, "bigrams", gen)
        .groupBy("lang", "bg")
        .agg(F.sum("c").cast("bigint").alias("c_uw"))
        .where(F.col("c_uw") > 0)
    )


def ingest_lm_trigram_batch(
    spark: SparkSession, root: str, docs: DataFrame, batch_id: int
) -> None:
    """Write one document batch's TRIGRAM count delta (the opt-in
    third kind powering KN-order-3 serving).  Call alongside
    ingest_lm_batch with the same batch_id so all three tables share
    one generation timeline; same replay/watermark contract."""
    _guard_below_watermark(spark, root, batch_id)
    from ..operators.lm import trigram_counts

    _write_delta(
        spark, root, "trigrams",
        trigram_counts(docs).withColumnRenamed("c3", "c"),
        batch_id,
    )


def erase_lm_trigram_docs(
    spark: SparkSession, root: str, doomed: DataFrame, batch_id: int
) -> None:
    """Right-to-erasure for the trigram kind: the doomed documents'
    trigram counts times -1 (erase_lm_docs' contract, one order up)."""
    _guard_below_watermark(spark, root, batch_id)
    from ..operators.lm import trigram_counts

    _write_delta(
        spark, root, "trigrams",
        trigram_counts(doomed)
        .withColumn("c", (-F.col("c3")).cast("bigint"))
        .drop("c3"),
        batch_id,
    )


def serve_trigram_counts(
    spark: SparkSession, root: str, gen: int
) -> DataFrame:
    """Merged (lang, tg, c3) as-of generation ``gen`` — exactly a
    refit's trigram counts over the surviving documents (associativity
    + the positivity filter, serve_bigram_counts' contract).  Rides
    the table's ``tg`` bucketing: no Exchange.  Continuation-type
    tables (N1+) are NOT stored — they derive from these counts at
    serve time (operators/lm.kn_trigram_terms_from_counts), which is
    what keeps the store's incremental/erasure contract a plain
    associative-count one."""
    return (
        _visible(spark, root, "trigrams", gen)
        .groupBy("lang", "tg")
        .agg(F.sum("c").cast("bigint").alias("c3"))
        .where(F.col("c3") > 0)
    )


def serve_vocab_sizes(
    spark: SparkSession, root: str, gen: int
) -> DataFrame:
    """Merged per-language vocabulary size as-of ``gen``: tokens with
    positive merged occurrence count == the distinct-token set of the
    surviving documents.  The first merge rides the table's ``tok``
    bucketing: no Exchange below the per-language rollup."""
    return (
        _visible(spark, root, "vocab", gen)
        .groupBy("lang", "tok")
        .agg(F.sum("c").cast("bigint").alias("ct"))
        .where(F.col("ct") > 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab_v"))
    )


def lm_ingest_sink(store: str, max_live_parts: int | None = None):
    """foreachBatch sink driving LM store ingest from a real stream.

    The store batch id is keyed off the DATA's ``grp`` column, not the
    trigger counter (graph_ingest_sink's discipline): the final store
    must be independent of how the file source happened to split files
    into triggers, and a whole-stream reprocess from a fresh
    checkpoint must replay the identical ingest sequence.  LM deltas
    depend only on their own batch's documents, so each per-group
    ingest rewrites byte-identically on replay.  The per-trigger group
    list is a <=|groups|-row collect (request-bounded).

    Precondition (round-13 ADVICE item 2, now ENFORCED rather than
    implicit): one parquet file per group.  A group's delta partition
    is overwritten with the current trigger's rows only, so a group
    whose files spanned two triggers would silently lose the first
    trigger's counts — ``assert_groups_whole`` fails the batch loudly
    the moment a multi-file group is observed, which is the only way
    the file source could ever split a group (it never splits one
    file across triggers).

    ``max_live_parts`` arms AUTO-COMPACTION (r14): after the trigger's
    ingests, if the live (non-frozen) delta partition count reaches
    the bound, the sink folds every live delta into one frozen
    generation via :func:`compact_lm_store` — so an unbounded stream
    keeps a bounded partition count without a maintenance outage.
    Two consequences for the replay contract, both exactness-
    preserving: (a) a replayed or reprocessed group BELOW the
    compaction watermark is SKIPPED, not refused — its delta is
    already durable inside the frozen generation, so the idempotent
    outcome holds even though the bytes can no longer be rewritten
    (the batch-API guard still refuses, because a bare
    ingest_lm_batch caller has no way to know the fold happened);
    (b) a crash between the fold's manifest commit and the source
    drops leaves masked partitions that the next compaction sweeps
    (compact_table_manifest's below-watermark drop loop)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from .graph_ingest import whole_groups

        spark = batch_df.sparkSession
        grps = whole_groups(batch_df)  # census + guard, one pass (r14)
        wm = manifest_watermark(spark, lm_manifest_path(store, "bigrams"))
        for g in grps:
            if g < wm:
                continue  # folded away — delta already durable
            ingest_lm_batch(
                spark,
                store,
                batch_df.where(F.col("grp") == g).drop("grp"),
                g,
            )
        if max_live_parts is not None:
            # both tables ingest the same groups in lockstep, so the
            # bigrams census stands for both
            live = live_batch_ids(
                spark,
                lm_table_name(store, "bigrams"),
                lm_manifest_path(store, "bigrams"),
            )
            if len(live) >= max_live_parts:
                compact_lm_store(
                    spark, store, upto_batch_id=max(live) + 1
                )

    return sink


def lm_scoring_sink(root: str, out: str, gen: int):
    """foreachBatch sink scoring incoming documents against the
    FROZEN LM generation ``gen`` (the model-store scoring discipline:
    serving pins a generation, so a batch's scores depend only on its
    own rows + an immutable artifact — crash-replay rewrites
    byte-identically).  Each batch's (doc_id, lang, score) lands in
    its own batch_id partition."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        from ..operators.lm import context_counts, doc_fluency_scores

        big = serve_bigram_counts(spark, root, gen)
        scored = doc_fluency_scores(
            batch_df,
            big,
            context_counts(big),
            serve_vocab_sizes(spark, root, gen),
        )
        write_partition_dir(scored, f"{out}/scores", batch_id)

    return sink
