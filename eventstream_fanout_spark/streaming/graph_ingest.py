"""Incremental PageRank maintenance over a generational rank store.

``domain_pagerank`` (plans/graph_queries.py) derives the co-citation
graph and ranks from the WHOLE corpus — correct, but a 100 TB crawl
cannot re-derive its edge set per refresh (PERF.md: the full
derivation is linear in the corpus, 1825 s at x1000).  This module
adds the maintenance contract (round-12 verdict item 6): each ingested
document batch refreshes the graph stores incrementally, and the rank
iterations re-run over the MERGED |sources|^2-bounded aggregates — the
corpus-sized pair derivation is touched only for the shingles the
delta actually changed.

Store layout (all batch-id-keyed dynamic partition overwrites — the
repo's effectively-once replay contract):

- postings TABLE (g, source, doc_id, batch_id) — catalog name from
  :func:`postings_table_name` — the delta batch's distinct shingle
  postings, append-only by batch, hash-bucketed on ``g`` (see Scale
  shape below); partition count bounded by
  :func:`compact_postings` (manifest-committed fold; replays and
  rebuild epochs below the watermark are refused);
- ``nodes/``     (batch_id, source): sources first seen per batch;
- ``edges/``     (batch_id, src, dst): the NEW co-citation pairs the
  batch created — pairs of every shingle the batch TOUCHED whose
  merged document frequency is now inside [DF_MIN, DF_MAX];
- ``ranks/``     (gen, source, rank_micro, out_deg, in_deg): one
  PageRank generation per ingested batch, computed over the serving
  edge set as-of that batch (``edges_asof``);
- ``edges_rebuilt/`` (epoch, src, dst): scheduled FULL-rebuild
  epochs (``rebuild_graph_store``) — the exact edge set as-of the
  epoch, superseding the per-batch partitions at and before it.

Documented incremental contract (the production compromise, stated
rather than hidden): edges are ADD-ONLY between full rebuilds.  A
shingle whose df later leaves the [DF_MIN, DF_MAX] band keeps the
pairs it already contributed until the next full rebuild (refit), so
staleness is bounded by rebuild cadence — the same freshness posture
as the ANN index's drift->refit loop (ann_index_refit_sim).  The
DuckDB oracle replays exactly this contract, so the sim's hashes pin
the add-only semantics, not an approximation of the exact graph.

Replay determinism WITHOUT markers: every refresh reads its inputs
``WHERE batch_id <= b`` — the as-of discipline — so re-running batch
b's refresh after later batches landed rewrites byte-identical
partitions (postings/nodes/edges/ranks for b never see b+1 data).

Scale shape: the delta's touched-shingle set joins back against the
postings store on ``g``; a rare shingle's posting list is <= DF_MAX
rows, so the pair join is delta-bounded.  The postings store is a
``g``-bucketed TABLE (compaction.write_table_generation — round-13
verdict item 1): every per-refresh read of the store — the
touched join, the df re-check, the pair self-join, and the full
rebuild's groupBy — keys on ``g``, so the store side scans its
buckets in place with NO Exchange (pinned by
tests/test_graph_ingest.py::test_postings_store_is_bucketed...), and
per-refresh shuffle cost scales with the DELTA, not the store.
Partitioned by ``batch_id`` on top of the bucketing so the as-of
reads (``batch_id <= b``) partition-prune and replays overwrite only
their own partition (dynamic overwrite).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import shingles, tokens
from ..operators.graph import (
    DF_MAX,
    DF_MIN,
    N_ITER,
    SHINGLE_N,
    pagerank_integer,
)
from .compaction import (
    compact_table_manifest,
    live_batch_ids,
    manifest_watermark,
    read_compact_manifest,
    read_store_or_none,
    visible_partitions,
    write_partition_dir,
    write_table_generation,
)


def _batch_postings(docs: DataFrame) -> DataFrame:
    """Distinct (g, source, doc_id) shingle postings of one batch.

    Tokens are materialized as a column FIRST (the doc_shingles
    discipline, operators/dedup.py): inlining the split into the
    shingle lambda makes every element_at re-split the text —
    O(tokens²) per document (measured 17 s -> 4 s for one sf0.1
    batch's postings write)."""
    toked = docs.select(
        "doc_id", "source", tokens(F.col("text")).alias("toks")
    )
    return toked.select(
        "doc_id",
        "source",
        F.explode(shingles(F.col("toks"), SHINGLE_N)).alias("g"),
    ).distinct()


def postings_table_name(store: str) -> str:
    """Catalog name of the store's bucketed postings table — derived
    from the store path so concurrent sims in one session never
    collide, stable so replays and later readers resolve the same
    table."""
    return "graph_postings_" + hashlib.md5(store.encode()).hexdigest()[:12]


def postings_manifest_path(store: str) -> str:
    """The postings table's compaction manifest."""
    return f"{store}/postings_compact_manifest"


def read_postings(
    spark: SparkSession,
    store: str,
    manifest: tuple[int, int | None] | None = None,
) -> DataFrame:
    """The manifest-committed view of the bucketed postings table:
    (g, source, doc_id, batch_id) — the latest frozen generation plus
    live batches at or above the compaction watermark (orphan frozen
    partitions and superseded sources both masked; see
    compaction.compact_table_manifest).  ``manifest`` optionally
    supplies an already-read (watermark, frozen_gen) pair: a single
    refresh consults the view several times and the manifest cannot
    change mid-call (compaction shares the maintenance window), so
    callers read it once instead of paying the exists-probe + 1-row
    collect per consumer (r14)."""
    wm, frozen = (
        read_compact_manifest(spark, postings_manifest_path(store))
        if manifest is None
        else manifest
    )
    return visible_partitions(
        spark.table(postings_table_name(store)), wm, frozen
    )


def compact_postings(
    spark: SparkSession, store: str, upto_batch_id: int
) -> int:
    """Fold the postings table's per-batch partitions below
    ``upto_batch_id`` (plus the previous frozen generation) into one
    new frozen generation, committed through the manifest so the
    crash window is EXACT (no double counting, unlike the dedup
    store's over-reject contract).  Postings are consumed through
    distinct()s, so the fold also collapses cross-batch duplicate
    (g, source, doc_id) rows.  As-of reads and batch replays below
    the watermark are REFUSED afterwards (ingest_graph_batch /
    rebuild_graph_store guards) — compaction deliberately trades that
    time travel for a bounded partition count.  Run with the ingest
    stream stopped."""
    return compact_table_manifest(
        spark,
        postings_table_name(store),
        postings_manifest_path(store),
        upto_batch_id,
        lambda df: df.dropDuplicates(["g", "source", "doc_id"]),
    )


def ingest_graph_batch(
    spark: SparkSession,
    store: str,
    docs_batch: DataFrame,
    batch_id: int,
    n_iter: int = N_ITER,
) -> None:
    """Land one document batch and refresh edges + ranks as-of it.

    Idempotent per batch_id: all reads are ``batch_id <= b`` and all
    writes are partition overwrites keyed by this batch, so a replay
    (even after later batches committed) rewrites identical bytes.
    Batches below the compaction watermark are REFUSED — their
    partitions were folded away, so a replay could neither rewrite
    identical bytes nor even see its own postings.
    """
    manifest = read_compact_manifest(spark, postings_manifest_path(store))
    wm = manifest[0]
    if int(batch_id) < wm:
        raise ValueError(
            f"batch_id={batch_id} is below the postings compaction "
            f"watermark {wm}: its source partitions were folded away, "
            "so this replay cannot be byte-identical; reprocess from "
            "a fresh store or raise the retention"
        )
    # sh_b is read twice (postings write + touched-set derivation) but
    # deliberately NOT heap-cached: at x100 replication the eager
    # localCheckpoint OOMed an 8g driver; the relation is
    # deterministic, and the second use reads the just-written
    # bucketed partition instead of recomputing the tokenize.
    sh_b = _batch_postings(docs_batch)
    write_table_generation(
        sh_b.select(
            "g", "source", "doc_id",
            F.lit(int(batch_id)).cast("bigint").alias("batch_id"),
        ),
        postings_table_name(store),
        "g",
    )
    write_partition_dir(
        docs_batch.select("source").distinct(), f"{store}/nodes", batch_id
    )

    # --- delta edge derivation: only shingles this batch touched ---
    # (read back from the partition just written — no recompute, no
    # heap cache).  Every step below keys on ``g``: the bucketed scan
    # feeds the touched distinct, the store-side join, the df
    # re-check, and the pair self-join with zero store-side Exchange.
    touched = (
        read_postings(spark, store, manifest=manifest)
        .where(F.col("batch_id") == batch_id)
        .select("g")
        .distinct()
    )
    postings_asof = read_postings(spark, store, manifest=manifest).where(
        F.col("batch_id") <= batch_id
    )
    # plist/bounded are delta-bounded (touched shingles x <= DF_MAX
    # postings each) but appear 2x/2x in the pair tree — without the
    # persist the store-side join re-ran once per branch (4 store
    # reads per refresh; at scale each is a bucket scan of the whole
    # touched slice).  persist() not localCheckpoint: the pair join is
    # a SELF-join of bounded, and a LogicalRDD reused across
    # self-joined branches mis-resolves attributes (the corpus_dedup
    # lesson); cache keeps the logical plan intact.
    plist = postings_asof.join(touched, "g").select(
        "g", "source", "doc_id"
    ).distinct().persist()
    rare_now = (
        plist.groupBy("g")
        .agg(F.count("*").alias("df"))
        .where(F.col("df").between(DF_MIN, DF_MAX))
        .select("g")
    )
    bounded = plist.join(rare_now, "g").persist()
    a = bounded.select("g", F.col("source").alias("src"))
    b = bounded.select("g", F.col("source").alias("dst"))
    pairs = (
        a.join(b, "g")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    try:
        write_partition_dir(pairs, f"{store}/edges", batch_id)
    finally:
        bounded.unpersist()
        plist.unpersist()

    # --- rank refresh: iterations over merged aggregates only ---
    # The rebuild epoch this generation ranks against is PINNED by a
    # marker written FIRST (model_store's marker-first contract): a
    # replay that races a later rebuild_graph_store re-reads the pin
    # and reproduces the ORIGINAL generation byte-for-byte instead of
    # silently re-ranking history against the rebuilt edge set.
    pinned = _pinned_epoch(spark, store, batch_id)
    if pinned is _NO_MARKER:
        epoch = _rebuild_epoch_asof(spark, store, batch_id)
        write_partition_dir(
            spark.range(1).select(
                F.lit(-1 if epoch is None else epoch)
                .cast("int")
                .alias("epoch")
            ),
            f"{store}/rank_markers",
            batch_id,
        )
    else:
        epoch = pinned
    nodes_asof = (
        spark.read.parquet(f"{store}/nodes")
        .where(F.col("batch_id") <= batch_id)
        .select("source")
        .distinct()
    )
    write_partition_dir(
        pagerank_integer(
            nodes_asof,
            _edges_with_epoch(spark, store, batch_id, epoch),
            n_iter,
        ),
        f"{store}/ranks",
        batch_id,
        key="gen",
    )


_NO_MARKER = object()


def _pinned_epoch(spark: SparkSession, store: str, batch_id: int):
    """The epoch this batch's rank generation was pinned to: _NO_MARKER
    if the batch never ran, else the pinned epoch (None = no rebuild
    was visible).  One request-sized collect (one row per batch)."""
    markers = read_store_or_none(spark, f"{store}/rank_markers")
    if markers is None:
        return _NO_MARKER
    rows = markers.where(F.col("batch_id") == batch_id).collect()
    if not rows:
        return _NO_MARKER
    e = int(rows[0]["epoch"])
    return None if e < 0 else e


def _rebuild_epoch_asof(
    spark: SparkSession, store: str, batch_id: int
) -> int | None:
    """Latest full-rebuild epoch <= batch_id, or None.  Resolved from
    the 1-row-per-epoch MANIFEST, not the rebuilt rows themselves: a
    legitimate rebuild can produce an EMPTY edge set (every shingle's
    df out of band), and an epoch must stay visible with zero rows.
    One tiny aggregate collect (maintenance-cadence-sized)."""
    man = read_store_or_none(spark, f"{store}/rebuild_manifest")
    if man is None:
        return None
    row = (
        man.where(F.col("epoch") <= batch_id)
        .agg(F.max("epoch"))
        .collect()[0][0]
    )
    return None if row is None else int(row)


def _edges_with_epoch(
    spark: SparkSession, store: str, batch_id: int, epoch: int | None
) -> DataFrame:
    per = spark.read.parquet(f"{store}/edges").where(
        F.col("batch_id") <= batch_id
    )
    if epoch is None:
        return per.select("src", "dst").distinct()
    rebuilt = (
        spark.read.parquet(f"{store}/edges_rebuilt")
        .where(F.col("epoch") == epoch)
        .select("src", "dst")
    )
    return (
        rebuilt.unionByName(
            per.where(F.col("batch_id") > epoch).select("src", "dst")
        ).distinct()
    )


def edges_asof(
    spark: SparkSession, store: str, batch_id: int
) -> DataFrame:
    """The serving edge set as-of ``batch_id``: the latest rebuild
    epoch <= batch_id (if any) plus the per-batch incremental
    partitions AFTER it.  Epochs are immutable once written, and the
    per-batch partitions an epoch supersedes are simply ignored — a
    replayed pre-rebuild batch can rewrite its partition without
    touching what serving reads."""
    return _edges_with_epoch(
        spark, store, batch_id,
        _rebuild_epoch_asof(spark, store, batch_id),
    )


def rebuild_graph_store(
    spark: SparkSession, store: str, epoch: int
) -> None:
    """Scheduled FULL rebuild — the repair pagerank_staleness_report's
    gauge schedules (the graph family's refit_index).

    Re-derives the EXACT edge set from the postings store as-of
    ``epoch`` (every shingle's df re-checked against [DF_MIN,
    DF_MAX] over the full as-of corpus — both staleness modes of the
    add-only contract corrected: pairs whose shingle's df left the
    band drop, pairs of never-touched shingle combinations appear)
    and commits it under ``edges_rebuilt/epoch=<epoch>`` via dynamic
    partition overwrite — the rebuild itself is replay-idempotent,
    and it becomes visible to ``edges_asof`` atomically when the
    epoch partition commits.  Subsequent delta ingests compose on top
    (rebuilt epoch ∪ later per-batch partitions).

    Epochs below ``watermark - 1`` are REFUSED: the frozen postings
    generation covers [0, watermark) as one unit, so an as-of read
    under it cannot exclude the folded batches above the epoch."""
    manifest = read_compact_manifest(spark, postings_manifest_path(store))
    wm = manifest[0]
    if int(epoch) < wm - 1:
        raise ValueError(
            f"rebuild epoch {epoch} is below the postings compaction "
            f"watermark {wm} - 1: the folded generation cannot be "
            "split at that point"
        )
    # same recompute-elimination as the delta refresh: postings/bounded
    # feed 2x/2x branches of the pair tree — persist (not checkpoint,
    # self-join below) so the full as-of store derivation runs once
    postings = (
        read_postings(spark, store, manifest=manifest)
        .where(F.col("batch_id") <= epoch)
        .select("g", "source", "doc_id")
        .distinct()
        .persist()
    )
    rare = (
        postings.groupBy("g")
        .agg(F.count("*").alias("df"))
        .where(F.col("df").between(DF_MIN, DF_MAX))
        .select("g")
    )
    bounded = postings.join(rare, "g").persist()
    a = bounded.select("g", F.col("source").alias("src"))
    b = bounded.select("g", F.col("source").alias("dst"))
    pairs = (
        a.join(b, "g")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    try:
        write_partition_dir(
            pairs, f"{store}/edges_rebuilt", epoch, key="epoch"
        )
    finally:
        bounded.unpersist()
        postings.unpersist()
    # manifest row written LAST — the commit point: the epoch becomes
    # visible to edges_asof only once its edge set is fully on disk
    # (and stays visible even when that set is legitimately empty —
    # partition rows cannot witness an empty epoch, a manifest can)
    write_partition_dir(
        spark.range(1).select(F.lit(epoch).cast("int").alias("e")),
        f"{store}/rebuild_manifest",
        epoch,
        key="epoch",
    )


def postings_touched_join(
    spark: SparkSession, store: str, batch_id: int
) -> DataFrame:
    """The refresh's store-vs-touched join — exposed for plan
    inspection: the store side must scan its buckets in place, no
    Exchange between its scan and the join."""
    touched = (
        read_postings(spark, store)
        .where(F.col("batch_id") == batch_id)
        .select("g")
        .distinct()
    )
    return (
        read_postings(spark, store)
        .where(F.col("batch_id") <= batch_id)
        .join(touched, "g")
        .select("g", "source", "doc_id")
    )


def read_rank_generations(spark: SparkSession, store: str) -> DataFrame:
    """All persisted rank generations:
    (gen, source, rank_micro, out_deg, in_deg)."""
    return spark.read.parquet(f"{store}/ranks").select(
        F.col("gen").cast("int").alias("gen"),
        "source",
        "rank_micro",
        "out_deg",
        "in_deg",
    )


def assert_groups_whole(batch_df: DataFrame) -> None:
    """Fail loudly if any ``grp`` in this trigger spans multiple input
    files (round-13 ADVICE item 2, applied to both data-keyed sinks).
    See :func:`whole_groups`, which this wraps."""
    whole_groups(batch_df)


def whole_groups(batch_df: DataFrame) -> list[int]:
    """The trigger's sorted distinct group ids, with the one-file-per-
    group contract enforced in the SAME pass (r14: the data-keyed
    sinks previously paid two driver round-trips per trigger — the
    guard aggregate plus a separate distinct-groups collect).

    The data-keyed store batch id is sound only if each group arrives
    WHOLE in one trigger.  Spark's file source never splits one file
    across triggers, so the structural precondition is one-file-per-
    group — which IS checkable per trigger: a group whose rows came
    from two files in the same trigger proves the writer broke the
    contract (and could equally have landed those files in different
    triggers, silently losing the earlier delta to the overwrite).
    One groups-bounded aggregate per trigger (the group list is
    request-bounded by nature); non-file sources yield empty
    input_file_name for every row (one distinct value), so the guard
    degrades to a plain group census there, as documented."""
    rows = (
        batch_df.select("grp", F.input_file_name().alias("_f"))
        .distinct()
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_files"))
        .collect()
    )
    offending = [r for r in rows if r["n_files"] > 1]
    if offending:
        r = offending[0]
        raise ValueError(
            f"grp={r['grp']} spans {r['n_files']} input files in one "
            "trigger: the data-keyed ingest contract requires one file "
            "per group (a multi-file group could be split across "
            "triggers and its earlier delta silently overwritten)"
        )
    return sorted(int(r["grp"]) for r in rows)


def graph_ingest_sink(store: str, max_live_parts: int | None = None):
    """foreachBatch sink driving the incremental graph refresh from a
    real stream.

    The store batch id is derived from the DATA (the ``grp`` column),
    not from the stream's trigger counter: the edge derivation is
    path-dependent (touched-shingle sets depend on batch boundaries),
    so pinning the mapping to the data makes the final store
    independent of how the source happened to split files into
    triggers — a trigger carrying several groups ingests each in
    ascending order, and a whole-stream reprocess from a fresh
    checkpoint replays the identical ingest sequence.  The per-trigger
    group list is a <=|groups|-row collect (request-bounded).
    Precondition (guarded by :func:`assert_groups_whole`): one parquet
    file per group, so a group can never span triggers.

    ``max_live_parts`` arms AUTO-COMPACTION (r14, lm_ingest_sink's
    policy): once the live postings partition count reaches the bound,
    the trigger folds them into one frozen generation via
    :func:`compact_postings`.  A replayed/reprocessed group below the
    resulting watermark is SKIPPED, not refused — its postings are
    durable inside the frozen generation and its nodes/edges/rank
    partitions (which compaction never touches) are already committed,
    so the idempotent outcome holds; the batch-API guard still refuses
    bare callers."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        grps = whole_groups(batch_df)  # census + guard, one pass (r14)
        wm = manifest_watermark(spark, postings_manifest_path(store))
        for g in grps:
            if g < wm:
                continue  # folded away — outputs already durable
            ingest_graph_batch(
                spark,
                store,
                batch_df.where(F.col("grp") == g).select(
                    "doc_id", "source", "text"
                ),
                g,
            )
        if max_live_parts is not None:
            live = live_batch_ids(
                spark,
                postings_table_name(store),
                postings_manifest_path(store),
            )
            if len(live) >= max_live_parts:
                compact_postings(
                    spark, store, upto_batch_id=max(live) + 1
                )

    return sink
