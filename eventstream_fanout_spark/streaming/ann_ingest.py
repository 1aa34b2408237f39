"""Incremental ANN index ingestion — the dedup signature-store pattern
(streaming/corpus_dedup.py) applied to vectors (VERDICT r5 item 5).

A streaming corpus must keep its similarity index current without
refitting: new vectors arrive, get PQ-encoded and IVF-assigned against
the PERSISTED codebook/centroids (frozen artifacts — the quantizer is
fit once, at build time), and their 8-byte code rows append to the
stored ``codes`` table under their micro-batch's own
``batch_id`` partition.  Replay of a batch overwrites only its own
partition (dynamic partition overwrite), so a crash-replay can neither
duplicate nor lose index rows — exactly the corpus-dedup store
contract.  Probes (operators/ann_index.py:pq_probe_topk) see appended
vectors immediately: the codes scan unions all generations.

Steady-state hygiene mirrors the dedup store too: one partition per
micro-batch accumulates listing overhead, so :func:`compact_index`
folds committed batch partitions below the replay watermark into a new
frozen generation with the shared two-phase (write-then-delete) crash
contract of :func:`.compaction.compact_generations`.  One semantic
difference from the dedup store: duplicate rows here are NOT harmless (a vec_id
present in two generations doubles its summed ADC distance and sinks
it in the ranking), so the fold dedupes on vec_id, and after a crash
*between* the fold write and the source deletes, compaction must be
RE-RUN before probes resume — the rerun folds the overlap away.
Normal sink operation never duplicates (a replayed batch overwrites
only its own partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ann_index import encode_pq_codes
from .compaction import (
    StagedSwap,
    attrs_swap,
    compact_generations,
    delete_path,
    erase_rows,
    path_exists,
    read_store_or_none,
    write_generation,
)


def read_quantizer(
    spark: SparkSession, index_path: str
) -> tuple[DataFrame, DataFrame]:
    """(codebook, centroids) of the index.  The quantizer artifacts
    are REQUIRED: ingesting with a missing codebook/centroids would
    silently drop every new vector's codes, so a missing one raises
    (and an unreadable one propagates its read error — the shared
    fail-closed read)."""
    out = []
    for name in ("codebook", "centroids"):
        df = read_store_or_none(spark, f"{index_path}/{name}")
        if df is None:
            raise RuntimeError(
                f"ANN ingest: the persisted quantizer {name} at "
                f"{index_path}/{name} is missing — build the index "
                "(build_pq_index) before streaming new vectors into it"
            )
        out.append(df)
    return out[0], out[1]


def _attr_data_cols(attrs_store: DataFrame) -> list[str]:
    """The attr store's metadata columns (everything but the key and
    the layout columns)."""
    return [
        c
        for c in attrs_store.columns
        if c not in ("vec_id", "batch_id", "list_id")
    ]


def _require_attr_cols(
    spark: SparkSession, index_path: str, df: DataFrame, op: str
) -> None:
    """Raise if the index carries an attrs store whose metadata
    columns ``df`` does not supply.  The sink performs this check
    anyway, but destructive multi-phase ops (upsert) must run it
    BEFORE their erase phase (ADVICE r11): a batch missing attr
    columns would otherwise raise only after the old rows are gone,
    leaving the upserted vectors fully absent from the index — a
    state no probe guard can see (ADC membership is statistics-free)
    and one the documented re-run heal cannot fix (the re-run fails
    at the same point forever)."""
    attrs_store = read_store_or_none(spark, f"{index_path}/attrs")
    if attrs_store is None:
        return
    missing = [
        c for c in _attr_data_cols(attrs_store) if c not in df.columns
    ]
    if missing:
        raise RuntimeError(
            f"{op}: the index at {index_path} carries a filterable "
            f"attr store with column(s) {missing} the batch does not "
            "supply — refusing BEFORE the erase phase so the old "
            "rows stay servable; carry the attr columns on the batch"
        )


def streaming_ann_index_sink(index_path: str):
    """``foreachBatch`` callback: encode each micro-batch of
    ``(vec_id, embedding)`` rows against the stored quantizer and
    append their index rows idempotently.  Compose with
    ``start_fanout`` or pass to ``writeStream.foreachBatch``.

    DELTA-SHAPED attr maintenance (VERDICT r9 item 2): when the index
    carries a filterable-attribute side store
    (operators/ann_index.build_attr_store), the batch's attrs rows
    ride the SAME call — the sink already knows each vector's
    ``list_id`` assignment, so the attrs append lands in the identical
    ``(batch_id, list_id)`` partitions as the codes, and a filtered
    probe stays valid with NO corpus-length ``build_attr_store``
    rebuild.  Fail-closed: an attrs store whose metadata columns the
    batch does not carry raises (silently appending codes without
    attrs would trip every future filtered probe's coverage guard —
    correct but avoidable); batches on an index with NO attrs store
    ignore any extra columns (unfiltered index, current behavior).
    Write order is codes THEN attrs: a crash in between leaves probed
    code rows without attrs, which the probe-time coverage guard
    reports loudly, and replay overwrites both partitions."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        codebook, centroids = read_quantizer(spark, index_path)
        attrs_store = read_store_or_none(spark, f"{index_path}/attrs")
        acols: list[str] = []
        if attrs_store is not None:
            acols = _attr_data_cols(attrs_store)
            missing = [c for c in acols if c not in batch_df.columns]
            if missing:
                raise RuntimeError(
                    f"ANN ingest: the index at {index_path} carries a "
                    f"filterable attr store with column(s) {missing} "
                    "the batch does not supply — appending codes "
                    "without their attrs rows would invalidate every "
                    "filtered probe; carry the attr columns on the "
                    "ingest stream (or drop the attrs store)"
                )
        write_generation(
            encode_pq_codes(
                batch_df.select("vec_id", "embedding"), codebook, centroids
            ).withColumn("batch_id", F.lit(int(batch_id))),
            f"{index_path}/codes",
            "batch_id",
            "list_id",
        )
        if attrs_store is not None:
            # the just-written codes partition IS the batch's
            # (vec_id -> list_id) assignment — a partition-pruned read
            # beats re-running the encode subtree
            assigned = (
                spark.read.parquet(f"{index_path}/codes")
                .where(F.col("batch_id") == int(batch_id))
                .select("vec_id", "list_id")
            )
            write_generation(
                assigned.join(
                    batch_df.select("vec_id", *acols), "vec_id"
                ).withColumn("batch_id", F.lit(int(batch_id))),
                f"{index_path}/attrs",
                "batch_id",
                "list_id",
            )

    return process


def delete_vectors(
    spark: SparkSession, index_path: str, vec_ids: list[int]
) -> int:
    """Erase vectors from the stored codes — the ANN twin of
    ``text_ingest.delete_docs`` (right-to-erasure / delete-then-resend
    update path for the append-only index).  Returns the number of
    (generation, list) partitions rewritten.

    Only the (batch_id, list_id) partitions that contain a doomed
    vector are touched (the shared partition-local eraser,
    :func:`..streaming.compaction.erase_rows`): survivors
    dynamic-overwrite their partition, a partition left empty is
    deleted outright.  Idempotent; run with the ingest stream stopped.
    Probes need no post-delete rebuild — ADC scoring carries no corpus
    statistics (the quantizer artifacts are unaffected by
    membership).  An attrs side store, when present, erases the same
    ids alongside (delta-shaped, VERDICT r9 item 2 — attrs rows for
    erased vectors are dead weight the filtered probe's semi-join
    would silently carry, and right-to-erasure covers the metadata
    too)."""
    ids = [int(v) for v in vec_ids]
    n = erase_rows(
        spark,
        f"{index_path}/codes",
        "vec_id",
        ids,
        extra_partition_cols=["list_id"],
    )
    if read_store_or_none(spark, f"{index_path}/attrs") is not None:
        erase_rows(
            spark,
            f"{index_path}/attrs",
            "vec_id",
            ids,
            extra_partition_cols=["list_id"],
        )
    return n


def compact_index(
    spark: SparkSession, index_path: str, upto_batch_id: int
) -> int:
    """Fold the codes table's per-batch partitions below
    ``upto_batch_id`` — plus previous frozen generations — into a new
    frozen generation and drop the sources (the shared two-phase
    contract, :mod:`..streaming.compaction`).  ``dedup_cols=vec_id``
    because code duplicates are NOT harmless here (they double summed
    ADC distances) — after a crash between fold and deletes, RE-RUN
    compaction before probes resume.  Run only with the ingest stream
    stopped.  Returns the number of source partitions folded.

    An attrs side store, when present, folds through the same
    two-phase contract (its generation ids are allocated from its own
    partitions — the two tables need not share fold ids, the filtered
    probe's coverage join is on ``vec_id``)."""
    n = compact_generations(
        spark,
        f"{index_path}/codes",
        upto_batch_id,
        data_cols=["vec_id", "list_id", "codes"],
        dedup_cols=["vec_id"],
        extra_partition_cols=["list_id"],
    )
    attrs_store = read_store_or_none(spark, f"{index_path}/attrs")
    if attrs_store is not None:
        n += compact_generations(
            spark,
            f"{index_path}/attrs",
            upto_batch_id,
            data_cols=["vec_id", "list_id", *_attr_data_cols(attrs_store)],
            dedup_cols=["vec_id"],
            extra_partition_cols=["list_id"],
        )
    return n


def upsert_vectors(
    spark: SparkSession,
    index_path: str,
    new_vectors: DataFrame,
    batch_id: int,
) -> int:
    """UPDATE for the stored codes — re-encode known vectors with new
    embedding values (the ANN face of ``text_ingest.upsert_docs``,
    and a much simpler one: ADC scoring carries no corpus statistics,
    so membership IS the whole state — no corrections, no tombstones;
    the only bookkeeping is the as-of marker below).  Returns the
    number of (generation, list) partitions the erase phase rewrote.

    Three steps, marker FIRST: a ``(batch_id)`` row lands in the
    ``upserts`` marker table (its own partition — replay overwrites it
    in place), then :func:`delete_vectors` on the batch's vec_ids (old
    code rows physically removed from every generation), then the new
    versions encode against the STORED quantizer and append under
    ``batch_id`` through the sink's own per-batch path.  Replaying a
    completed call converges by construction — the delete phase finds
    only the generation-``batch_id`` rows (the previous run's output)
    and the re-append overwrites that same partition set with
    identical content.  Run in a maintenance window (the store-
    rewriting contract); a crash between the phases leaves the batch
    absent from probes until the re-run, which the generation-
    duplicate probe guard cannot detect — membership changes are
    statistics-free by design — so the re-run is the contract.

    The marker exists for AS-OF reproducibility (ADVICE r8 item 2):
    the physical erase rewrites history, so a later
    ``pq_probe_topk(upto_batch_id=N)`` for ``N < batch_id`` would
    return a state that never existed (the vector absent instead of
    present at its old value).  ``pq_probe_topk`` reads the marker
    table and REFUSES as-of probes below the newest upsert generation
    — mirroring ``bm25_topk_asof``'s no-correction guard; erasure
    needs no marker because an erased vector MUST stay absent from
    every as-of view (right-to-erasure beats time travel).  The
    marker is written first so the failure direction is conservative:
    a crash right after it refuses some reproducible probes, never
    serves an unreproducible one."""
    # attr-column presence is validated BEFORE any destructive phase
    # (ADVICE r11) — see _require_attr_cols
    _require_attr_cols(spark, index_path, new_vectors, "upsert_vectors")
    ids = [
        int(r["vec_id"])
        for r in new_vectors.select("vec_id").distinct().collect()
    ]
    _maint_marker(spark, index_path, len(ids), batch_id)
    rewritten = erase_rows(
        spark,
        f"{index_path}/codes",
        "vec_id",
        ids,
        extra_partition_cols=["list_id"],
    )
    if read_store_or_none(spark, f"{index_path}/attrs") is not None:
        # delta-shaped attrs maintenance (VERDICT r9 item 2): the old
        # attrs rows leave with the old codes; the sink call below
        # re-appends the new versions' attrs (it requires the attr
        # columns on new_vectors — fail-closed) into the re-encoded
        # (batch_id, list_id) partitions, so filtered probes stay
        # valid with no build_attr_store rebuild
        erase_rows(
            spark,
            f"{index_path}/attrs",
            "vec_id",
            ids,
            extra_partition_cols=["list_id"],
        )
    streaming_ann_index_sink(index_path)(new_vectors, int(batch_id))
    return rewritten


def streaming_upsert_sink(index_path: str, batch_id_base: int = 0):
    """``foreachBatch`` callback for a vector UPDATE-QUEUE stream —
    the ANN face of ``text_ingest.streaming_upsert_sink`` (VERDICT r9
    item 4): each micro-batch of ``(vec_id, embedding [, attr cols])``
    rows drives one :func:`upsert_vectors` call under generation
    ``batch_id_base + micro_batch_id``.  Replay converges by
    construction (the delete phase finds only the previous run's
    generation rows; the re-append overwrites the same partitions) and
    the as-of marker lands first, so a crash mid-trigger refuses some
    reproducible as-of probes rather than serving an unreproducible
    one.  Same single-writer contract as the text twin."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_vectors(
            batch_df.sparkSession,
            index_path,
            batch_df,
            int(batch_id_base) + int(batch_id),
        )

    return process


def refit_index(
    spark: SparkSession,
    index_path: str,
    emb: DataFrame,
    batch_id: int,
    corpus: DataFrame | None = None,
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
    n_iters: int = 2,
) -> None:
    """QUANTIZER REFIT — the maintenance op that closes the drift loop
    (VERDICT r9 item 7): after heavy churn the stored quantizer no
    longer reflects the corpus distribution (``ann_recall_after_churn``
    measures the decay), so re-fit on the CURRENT corpus, re-encode
    everything, and swap the whole index in one atomic rename.

    ``emb`` is the current embedding relation (the store keeps 8-byte
    codes only — the PQ memory contract — so the authoritative vectors
    live in the warehouse and the caller supplies them, exactly like
    the build).  ``centroids`` defaults to a fresh
    ``ivf_fit_centroids(corpus, n_iters)`` Lloyd fit; ``codebook``
    defaults to the deterministic seed codebook re-derived from the
    CURRENT seed-row values.  Run in a maintenance window (single
    writer, like every store-rewriting op).

    Two-phase swap (the crash windows of an in-place overwrite would
    serve MIXED quantizers — codes from the new fit scored against the
    old codebook join silently, the one failure shape the per-table
    guards cannot see): the complete new index — codes, codebook,
    centroids, the attrs side store re-laid-out under the new list
    assignments, and the marker table — is staged as a sibling
    directory, then swapped in by directory rename, so probes see the
    old index or the new one, never a mixture.

    The refit marker generalizes the r9 upsert marker: a row under
    ``batch_id`` joins the staged ``upserts`` table (old markers
    carried over), so an as-of probe below the refit generation
    REFUSES — the refit rewrote every generation's history.  The
    marker rides the stage and becomes visible atomically WITH the
    rewritten index: refusal starts exactly when the old history
    stops being servable.

    Crash contract (re-run the SAME call to heal): before the swap the
    live index is untouched (the stage rebuilds from scratch — it is
    deterministic given the same inputs); between the two renames the
    index path is MISSING (probes fail loudly, never silently mixed)
    and the re-run's recovery preamble restores the live index from
    the parked copy before refitting again; after the second rename
    the refit is complete and the preamble merely deletes the parked
    copy."""
    from ..operators.ann_index import (
        build_attr_store,
        build_pq_index,
        pq_codebook,
    )
    from ..operators.similarity import ivf_fit_centroids

    # recovery preamble (see crash contract above)
    swap = StagedSwap(
        spark,
        index_path,
        f"{index_path}.refit_stage",
        f"{index_path}.pre_refit",
        "refit_index",
    )
    stage = swap.stage_path

    if corpus is None:
        corpus = emb.where(F.col("vec_id") != 0)
    if centroids is None:
        centroids = ivf_fit_centroids(corpus, n_iters=n_iters)
    if codebook is None:
        codebook = pq_codebook(emb)
    build_pq_index(
        spark, emb, stage,
        corpus=corpus, centroids=centroids, codebook=codebook,
    )
    attrs_store = read_store_or_none(spark, f"{index_path}/attrs")
    if attrs_store is not None:
        # re-lay the attrs under the NEW list assignments from the
        # per-vector metadata the old store already carries
        build_attr_store(
            spark,
            attrs_store.select(
                "vec_id", *_attr_data_cols(attrs_store)
            ).distinct(),
            stage,
        )
    old_markers = read_store_or_none(spark, f"{index_path}/upserts")
    marker = spark.createDataFrame(
        [(-1, int(batch_id))], "n_ids int, batch_id int"
    )
    markers = (
        old_markers.select("n_ids", "batch_id").unionByName(marker)
        if old_markers is not None
        else marker
    )
    (
        markers.write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(f"{stage}/upserts")
    )
    swap.commit()


def add_attr_column(
    spark: SparkSession,
    index_path: str,
    values: DataFrame,
    batch_id: int,
) -> None:
    """ATTR-SCHEMA EVOLUTION on a live filtered index (VERDICT r11
    item 4): give the attrs side store a NEW filterable column without
    rebuilding the index or rescanning codes/embeddings.  Before this
    op the attr column set was frozen at ``build_attr_store``/first
    ingest — a 100 TB index gaining a filter dimension needed a full
    ``build_attr_store`` rerun (a corpus-length codes join).

    ``values`` is ``(vec_id, <new column(s)...>)``.  The backfill
    joins the EXISTING attrs rows (which already carry their
    ``(batch_id, list_id)`` layout — the codes table is never read)
    against ``values`` on ``vec_id`` and rewrites the attrs store
    with the widened schema.  Cost ∝ the attrs store — the narrow
    metadata side — never the codes or the embedding corpus.

    Fail-closed coverage, both directions that matter: every live
    attrs row must find its value (a missing one raises via the
    per-row when-owned assert — a silently-NULL attr would make every
    filtered probe on the new column drop the vector); a ``values``
    row for an unknown vec_id is ignored (over-supplying is safe, the
    build_attr_store stance).  A column name colliding with an
    existing attr or layout column raises.

    Atomic swap (the refit_index pattern): the widened store is
    staged as a sibling directory and installed by checked renames —
    probes see the old schema or the new one, never a partition mix
    (a half-rewritten store would serve the new column as NULL for
    unrewritten partitions under parquet schema merging: exactly the
    silent-drop failure the coverage assert exists to prevent).

    Marker FIRST (the upsert_vectors stance): a ``(n_ids=-2,
    batch_id)`` row lands in the ``upserts`` marker table before the
    stage, so as-of probes below the evolve generation REFUSE — the
    backfill writes the new column into every historical generation's
    attrs rows, so a pre-evolve as-of view filtered on the new column
    would be a state that never existed.  A crash after the marker
    refuses some reproducible probes (conservative), never serves an
    unreproducible one; re-running the SAME call converges (marker
    overwrite is idempotent, the stage is deterministic, the recovery
    preamble handles both rename crash windows).

    Single-writer maintenance-window contract, like every
    store-rewriting op."""
    # recovery preamble FIRST (the refit_index crash contract), via
    # the shared evolve swap — add and drop use the same stage/park
    # names so either heals the other's crash
    swap = attrs_swap(spark, index_path, "add_attr_column")

    attrs = read_store_or_none(spark, f"{index_path}/attrs")
    if attrs is None:
        raise RuntimeError(
            f"add_attr_column: no attrs store at {index_path}/attrs — "
            "bootstrap one with build_attr_store before evolving it"
        )
    new_cols = [c for c in values.columns if c != "vec_id"]
    if not new_cols:
        raise RuntimeError(
            "add_attr_column: values must carry (vec_id, <new "
            "column(s)>) — got only vec_id"
        )
    clash = [c for c in new_cols if c in attrs.columns]
    if clash:
        raise RuntimeError(
            f"add_attr_column: column(s) {clash} already exist on the "
            f"attrs store at {index_path} — evolution is additive; "
            "upsert values through upsert_vectors instead"
        )

    # marker FIRST (see docstring); n_ids=-2 tags the evolve
    # generation (refit uses -1, upserts the non-negative id count)
    _maint_marker(spark, index_path, -2, batch_id)

    tagged = values.withColumn("_present", F.lit(1))
    joined = attrs.join(tagged, "vec_id", "left")
    # per-row when-owned assert (the build_attr_store guard shape):
    # the null branch OWNS the assert so it cannot constant-fold away
    guarded_list = F.when(
        F.col("_present").isNull(),
        F.assert_true(
            F.col("_present").isNotNull(),
            F.concat(
                F.lit("add_attr_column: live attrs row vec_id="),
                F.col("vec_id").cast("string"),
                F.lit(
                    " has no value for the new column(s) — a filtered "
                    "probe on them would silently drop it; supply a "
                    "value for every indexed vector"
                ),
            ),
        ).cast("long"),
    ).otherwise(F.col("list_id"))
    try:
        (
            joined.select(
                "vec_id",
                guarded_list.alias("list_id"),
                "batch_id",
                *[c for c in attrs.columns
                  if c not in ("vec_id", "list_id", "batch_id")],
                *new_cols,
            )
            .write.mode("overwrite")
            .partitionBy("batch_id", "list_id")
            .parquet(swap.stage_path)
        )
    except Exception:
        # a refused stage (coverage assert, executor loss) must not
        # linger: drop the partial sibling instead of leaving it for
        # the next run's preamble
        swap.drop_stage()
        raise
    swap.commit()


def _centroids_swap(spark: SparkSession, index_path: str, op: str):
    """The centroid-table swap of the list-maintenance ops (split_list
    / merge_lists), with its recovery preamble run on construction.
    BOTH ops use the same stage/park names, so either op's preamble
    heals a crash left by the other — one crash contract for the whole
    maintenance family."""
    return StagedSwap(
        spark,
        f"{index_path}/centroids",
        f"{index_path}/centroids.maint_stage",
        f"{index_path}/centroids.pre_maint",
        op,
    )


def _commit_centroids(swap: StagedSwap, new_centroids: DataFrame) -> None:
    """THE commit point of a list-maintenance op: stage the
    replacement centroids table and swap it in by checked atomic
    renames — every probe shape flips from the old list topology to
    the new one in one metadata move (the LIST MANIFEST invariant)."""
    new_centroids.write.mode("overwrite").parquet(swap.stage_path)
    swap.commit()


def _cleanup_list_partitions(
    spark: SparkSession, index_path: str, list_ids: list[int]
) -> None:
    """Delete the (generation, list) directories of now-unreferenced
    lists from codes and attrs — post-commit garbage collection; a
    crash before this leaves manifest-invisible garbage only."""
    for table in ("codes", "attrs"):
        tpath = f"{index_path}/{table}"
        if not path_exists(spark, tpath):
            continue
        gens = [
            (r["batch_id"], r["list_id"])
            for r in spark.read.parquet(tpath)
            .where(F.col("list_id").isin([int(x) for x in list_ids]))
            .select("batch_id", "list_id")
            .distinct()
            .collect()
        ]
        for g, li in gens:
            delete_path(spark, f"{tpath}/batch_id={g}/list_id={li}")


def _maint_marker(
    spark: SparkSession, index_path: str, tag: int, batch_id: int
) -> None:
    """The as-of refusal marker, written FIRST by every history-
    rewriting maintenance op (upsert -3=split, -4=merge; the guard
    keys on max(batch_id), the tag is diagnostic)."""
    write_generation(
        spark.createDataFrame(
            [(int(tag), int(batch_id))], "n_ids int, batch_id int"
        ),
        f"{index_path}/upserts",
    )


def _list_members(
    spark: SparkSession,
    index_path: str,
    list_ids: list[int],
    emb: DataFrame,
    op: str,
) -> tuple[DataFrame, DataFrame, int]:
    """(member code rows, member embeddings, member count) for the
    named lists, with the fail-closed embedding-coverage check both
    maintenance ops share (the store keeps 8-byte codes only — the
    caller supplies the authoritative vectors, and a missing one
    refuses BEFORE any write)."""
    codes = spark.read.parquet(f"{index_path}/codes")
    members = codes.where(
        F.col("list_id").isin([int(x) for x in list_ids])
    ).select("vec_id", "batch_id", "codes")
    mvecs = members.select("vec_id").distinct().join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    n_members = members.select("vec_id").distinct().count()
    n_vecs = mvecs.count()
    if n_vecs < n_members:
        raise RuntimeError(
            f"{op}: emb supplies embeddings for {n_vecs} of the "
            f"lists' {n_members} members — supply every member's "
            "vector (refusing before any write)"
        )
    return members, mvecs, n_members


def _rewrite_members(
    spark: SparkSession,
    index_path: str,
    members: DataFrame,
    assign: DataFrame,
    old_list_ids: list[int],
) -> None:
    """Write the member rows under their new list assignment — PQ
    codes copy over unchanged (list-independent), generations
    preserved, dynamic overwrite so replay converges; the attrs side
    store (when present) rides the same reassignment."""
    write_generation(
        members.join(assign, "vec_id").select(
            "vec_id",
            F.col("_new_list").alias("list_id"),
            "codes",
            "batch_id",
        ),
        f"{index_path}/codes",
        "batch_id",
        "list_id",
    )
    attrs = read_store_or_none(spark, f"{index_path}/attrs")
    if attrs is not None:
        write_generation(
            attrs.where(
                F.col("list_id").isin([int(x) for x in old_list_ids])
            )
            .drop("list_id")
            .join(assign.select("vec_id", "_new_list"), "vec_id")
            .withColumnRenamed("_new_list", "list_id"),
            f"{index_path}/attrs",
            "batch_id",
            "list_id",
        )


def split_list(
    spark: SparkSession,
    index_path: str,
    list_id: int,
    emb: DataFrame,
    batch_id: int,
    n_iters: int = 2,
) -> tuple[int, int] | None:
    """IVF LIST-SKEW MAINTENANCE (VERDICT r11 item 5): split one hot
    inverted list into two — probe cost is ∝ touched lists, so a
    skewed corpus piling into one list re-creates the linear-scan
    problem filtered/pruned search exists to avoid, and the only
    previous remedy was :func:`refit_index`, a CORPUS-length
    re-encode.  This op is LIST-length: it reads the one list's code
    rows, fits 2 centroids over their (caller-supplied) embeddings,
    and rewrites only that list's partitions.  Returns the two new
    list ids, or None when the call is a replay after the commit
    point (cleanup re-run).

    ``emb`` supplies the authoritative embeddings for (at least) the
    list's members — the store keeps 8-byte codes only (the PQ memory
    contract), and a split needs real vectors twice: to FIT the two
    replacement centroids (deterministic Lloyd via
    ``ivf_fit_centroids(init=...)``, seeded with the member of
    smallest vec_id and the member farthest from it) and to ASSIGN
    each member to its nearer new centroid.  The PQ codes themselves
    are list-independent and copy over unchanged — no re-encode.

    Commit protocol — the LIST MANIFEST invariant (every probe shape
    ignores rows under a list_id the centroids table does not name;
    integer-nprobe probes get this from their coarse ranking,
    exhaustive probes from ``_manifest_rows``):

    1. as-of marker (``n_ids=-3``) — the split rewrites the list's
       history (rows move to new list ids in every generation), so
       as-of probes below the split generation refuse; conservative
       under any later crash.
    2. new-list codes + attrs partitions written under the members'
       ORIGINAL generations (dynamic partition overwrite — replay
       converges).  Invisible: the new cids are not in the manifest.
    3. the centroids table swaps by checked atomic rename — old cid
       out, two new cids in.  THE commit point: every probe flips
       from the old list to the new pair in one metadata move.
    4. cleanup: the old list's (generation, list) directories are
       deleted.  Crash before this leaves invisible garbage only.

    Replay: before the commit the old cid is still in the manifest,
    so the re-run redoes 1-4 with identical content (same max-cid ⇒
    same new cids; the fit is deterministic); after the commit the
    old cid is gone and the re-run runs cleanup only (returns None).

    Single-writer maintenance-window contract, like every
    store-rewriting op."""
    from ..functions.vectors import cosine
    from ..operators.similarity import ivf_assign, ivf_fit_centroids

    swap = _centroids_swap(spark, index_path, "split_list")
    centroids = spark.read.parquet(f"{index_path}/centroids")
    cids = [int(r["cid"]) for r in centroids.select("cid").collect()]
    if int(list_id) not in cids:
        # replay after the commit point: finish the cleanup phase
        _cleanup_list_partitions(spark, index_path, [list_id])
        return None

    members, mvecs, n_members = _list_members(
        spark, index_path, [list_id], emb, "split_list"
    )
    if n_members < 2:
        raise RuntimeError(
            f"split_list: list {list_id} has {n_members} member(s) — "
            "nothing to split"
        )

    # deterministic 2-seed init: the member of smallest vec_id, and
    # the member farthest from it (minimum cosine — the assignment
    # metric) — k-means++'s first two picks without RNG
    c1, c2 = max(cids) + 1, max(cids) + 2
    seed1 = mvecs.orderBy(F.asc("vec_id")).limit(1).select(
        F.lit(c1).alias("cid"), F.col("embedding").alias("ce")
    )
    far = (
        mvecs.crossJoin(
            F.broadcast(seed1.select(F.col("ce").alias("_s1")))
        )
        .select(
            "vec_id",
            "embedding",
            cosine(F.col("embedding"), F.col("_s1")).alias("_d"),
        )
        .orderBy(F.asc("_d"), F.asc("vec_id"))
        .limit(1)
        .select(F.lit(c2).alias("cid"), F.col("embedding").alias("ce"))
    )
    fitted = ivf_fit_centroids(
        mvecs, n_iters=n_iters, init=seed1.unionByName(far)
    )

    _maint_marker(spark, index_path, -3, batch_id)  # 1. marker first
    # 2. rewrite the list's rows under the new 2-way assignment
    assign = ivf_assign(mvecs, fitted).withColumnRenamed(
        "list_id", "_new_list"
    )
    _rewrite_members(spark, index_path, members, assign, [list_id])
    # 3. THE commit: swap the centroids table (old cid out, new in)
    _commit_centroids(
        swap,
        centroids.where(F.col("cid") != int(list_id)).unionByName(
            fitted.select("cid", "ce")
        ),
    )
    # 4. cleanup the now-unreferenced old-list partitions
    _cleanup_list_partitions(spark, index_path, [list_id])
    return c1, c2


def merge_lists(
    spark: SparkSession,
    index_path: str,
    list_ids: list[int],
    emb: DataFrame,
    batch_id: int,
) -> int | None:
    """The inverse of :func:`split_list` — fold two or more COLD
    inverted lists into one, completing the skew-maintenance pair:
    splits bound the hottest list's scan cost, merges bound the LIST
    COUNT (every split grows the manifest by one; the coarse ranking
    is a broadcast over it, and nprobe-as-a-fraction-of-lists recall
    semantics drift if the manifest only ever grows).  LIST-length
    work, same commit protocol as the split (marker first, rows
    rewritten invisible under the manifest invariant, the
    centroid-table rename as the single commit, cleanup last).

    The merged centroid is the deterministic quantized-integer mean
    of the member embeddings (``ivf_fit_centroids(n_iters=1,
    init=<any single seed>)`` degenerates to exactly this — one
    assignment pass where every member lands on the only centroid,
    then the mean), so the oracle-facing contract stays RNG-free.
    PQ codes copy over unchanged; no re-encode.

    Returns the new list id, or None when the call is a replay after
    the commit point (cleanup re-run — decided by NONE of the ids
    being in the manifest; the swap is atomic, so partial membership
    means the commit never happened and the op re-runs whole).

    Single-writer maintenance-window contract."""
    from ..operators.similarity import ivf_fit_centroids

    ids = sorted({int(x) for x in list_ids})
    if len(ids) < 2:
        raise RuntimeError(
            f"merge_lists: got {ids} — merging needs at least two "
            "distinct lists"
        )
    swap = _centroids_swap(spark, index_path, "merge_lists")
    centroids = spark.read.parquet(f"{index_path}/centroids")
    cids = {int(r["cid"]) for r in centroids.select("cid").collect()}
    present = [i for i in ids if i in cids]
    if not present:
        # replay after the commit point: finish the cleanup phase
        _cleanup_list_partitions(spark, index_path, ids)
        return None
    if len(present) < len(ids):
        raise RuntimeError(
            f"merge_lists: {sorted(set(ids) - set(present))} are not "
            f"in the manifest while {present} are — a merge is "
            "all-or-nothing by the atomic centroid swap; pass lists "
            "that are all live"
        )

    members, mvecs, n_members = _list_members(
        spark, index_path, ids, emb, "merge_lists"
    )
    if n_members < 1:
        raise RuntimeError(
            f"merge_lists: lists {ids} hold no members — nothing to "
            "merge"
        )
    new_cid = max(cids) + 1
    seed = mvecs.orderBy(F.asc("vec_id")).limit(1).select(
        F.lit(new_cid).alias("cid"), F.col("embedding").alias("ce")
    )
    # one Lloyd pass over a single centroid = the deterministic
    # quantized mean of all members
    merged = ivf_fit_centroids(mvecs, n_iters=1, init=seed)

    _maint_marker(spark, index_path, -4, batch_id)  # marker first
    assign = mvecs.select(
        "vec_id", F.lit(new_cid).cast("long").alias("_new_list")
    )
    _rewrite_members(spark, index_path, members, assign, ids)
    _commit_centroids(
        swap,
        centroids.where(~F.col("cid").isin(ids)).unionByName(
            merged.select("cid", "ce")
        ),
    )
    _cleanup_list_partitions(spark, index_path, ids)
    return new_cid


def drop_attr_column(
    spark: SparkSession,
    index_path: str,
    cols: list[str],
    batch_id: int,
) -> bool:
    """The inverse of :func:`add_attr_column` — retire filter
    dimension(s) from the live attrs store without touching codes
    (same narrow-table stage + checked atomic swap).  Returns False
    when the call is a recognized replay (none of ``cols`` exist any
    more — the previous run's swap committed).

    No as-of marker, deliberately: dropping a column leaves every
    REMAINING column's historical values untouched, so filtered as-of
    probes on them stay exact at any watermark, and a probe on the
    dropped column fails loudly (unresolved column) rather than
    serving a never-existed state — the silent-history problem the
    add-side marker exists for cannot occur here.

    ``batch_id`` names the maintenance batch for logging symmetry
    with the other ops; single-writer maintenance-window contract."""
    swap = attrs_swap(spark, index_path, "drop_attr_column")
    attrs = read_store_or_none(spark, f"{index_path}/attrs")
    if attrs is None:
        raise RuntimeError(
            f"drop_attr_column: no attrs store at {index_path}/attrs"
        )
    want = [str(c) for c in cols]
    present = [c for c in want if c in attrs.columns]
    if not present:
        return False  # replay after the swap committed: converged
    if len(present) < len(want):
        raise RuntimeError(
            f"drop_attr_column: {sorted(set(want) - set(present))} "
            "are not on the attrs store — a drop is all-or-nothing "
            "by the atomic swap; name columns that all exist"
        )
    reserved = [c for c in want if c in ("vec_id", "list_id", "batch_id")]
    if reserved:
        raise RuntimeError(
            f"drop_attr_column: {reserved} are layout columns, not "
            "attr metadata"
        )
    remaining = [
        c for c in _attr_data_cols(attrs) if c not in set(want)
    ]
    if not remaining:
        raise RuntimeError(
            "drop_attr_column: dropping every metadata column would "
            "leave a store no filtered probe can use — delete the "
            f"{index_path}/attrs directory instead to retire "
            "filterability entirely"
        )
    (
        attrs.select("vec_id", "list_id", "batch_id", *remaining)
        .write.mode("overwrite")
        .partitionBy("batch_id", "list_id")
        .parquet(swap.stage_path)
    )
    swap.commit()
    return True
