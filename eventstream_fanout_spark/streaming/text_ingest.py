"""Incremental inverted-index ingestion — the generational-store
pattern (corpus_dedup / ann_ingest) applied to text retrieval.

New documents stream in, get tokenized into dl-carrying postings +
doc-length rows by the SAME ``doc_postings`` code path as the static
build, and append under their micro-batch's own ``batch_id`` partition
(dynamic partition overwrite — replay touches only itself).  The
per-term document frequency is stored GENERATIONALLY too (round 8):
each batch appends its own ``(tok, df)`` contribution — a batch-local
aggregate riding the rows the sink already computed — and readers sum
``df`` per term merge-on-read, so the vocab is current after any
ingest or erasure without ever re-aggregating the postings store.
(The merged BM25 probe still derives df from its own term-filtered
scan; the stored vocab serves the static probe and the hot-term
bound.)  The corpus rollup (n_docs, avgdl) is stored as one tiny
``stats`` row per generation; ``stats`` is written LAST, so the
sink's crash window always manifests as data-without-stats, which the
probes detect and a replay heals; the opposite order would leave
ghost stats rows counting documents whose postings never landed —
silent and undetectable.

``doc_id`` uniqueness across generations is a CONTRACT of this store
(a doc present in two generations double-counts its length in the
rollup and duplicates its scoring rows): the sink enforces it at
write time.  Round 11 removes this gate's corpus-length scan — the
last one on the write path: each generation stores a tiny id BLOOM
(``idbloom``, sparse 64-bit words, ~2 bytes/doc), the batch tests
against the metadata-sized blooms via a broadcast join, and doclens
is probed only for the maybe-hit ids (pushed ``doc_id IN`` — normally
empty, so a fresh-id batch touches no corpus relation at all).  Any
bloom gap — missing table, a generation without its row, a
saturated maybe-set — falls back to the original full anti-join, so
the fail-closed contract is unchanged; blooms are only ever
OVER-approximate (erased ids linger until compaction's exact
rebuild: a narrow probe that finds nothing, never a missed clash).
The corpus_dedup-staged pipeline makes this check a no-op in
practice but a reused doc_id under NEW text would pass content dedup
and corrupt the index, hence the explicit gate.
``enforce_unique_doc_ids=False`` opts out for callers that already
guarantee it upstream.

Erasure (``delete_docs``) is DELTA-SHAPED (VERDICT r7 item 3; round 7
re-aggregated the full postings store into a fresh vocab and the full
doclens into fresh stats on every call — a corpus-length scan per
erasure at 10^9 docs).  Now the doomed rows the partition-local
eraser reads anyway also yield the correction: their per-``tok`` df
counts and their (n_docs, total_len) rollup append NEGATED under a
new correction generation, which the probes' existing merge-on-read
sums fold in with zero plan change.  No full-store aggregate runs;
no pre-existing file is rewritten except the partitions that actually
contain a doomed row (pinned by pytest via file-level invariance).

``compact_text_index`` folds the generational stores through the
shared two-phase compactor, then rebuilds stats AND vocab exactly
from the folded data (full-store aggregates are compaction's job —
the one op that is corpus-length by nature) and drops the tombstones
their corrections amortized; a compacted store is back to
single-generation everything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text_index import batch_stats, doc_postings
from .compaction import (
    attrs_swap,
    compact_generations,
    delete_path,
    erase_rows,
    path_exists,
    read_store_or_none,
    write_generation,
)


def streaming_text_index_sink(
    index_path: str, enforce_unique_doc_ids: bool = True
):
    """``foreachBatch`` callback: tokenize each micro-batch of
    ``(doc_id, text)`` rows and append their postings + doc lengths +
    vocab df contribution + stats row idempotently (stats LAST — the
    crash-detection ordering; a batch whose stats row is missing trips
    the probes' generation-coverage guards and replay overwrites all
    four partitions).  Compose with ``start_fanout`` (typically AFTER
    a dedup sink — index only what was admitted)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if enforce_unique_doc_ids:
            _check_new_doc_ids(spark, index_path, batch_df, int(batch_id))
        # tokenize ONCE per trigger (r14, guide §1.2): the postings
        # generation is written first, then READ BACK from its own
        # just-written partition (the graph_ingest discipline — no
        # recompute, no heap cache), and every other artifact derives
        # from it: postings rows carry the denormalized ``dl``, so
        # doclens is their distinct (doc_id, dl) projection, vocab
        # their per-tok row count, stats the doclens rollup.  Before,
        # each of the 4-5 generation writes re-ran the explode→tf→dl
        # tree over the batch.
        # doc_id lands as the store's LongType whatever the batch's
        # integral type, so every generation shares one column type
        postings, _dl = doc_postings(
            batch_df.select(F.col("doc_id").cast("long"), "text")
        )
        write_generation(
            postings.withColumn("batch_id", F.lit(int(batch_id))),
            f"{index_path}/postings",
        )
        # The read-back is SCHEMA-SPECIFIED (r15 — the vector-dedup
        # sink's SPARK-23271 lesson): a first-ever batch of all-empty
        # texts commits NO data file under dynamic overwrite, so
        # schema inference over the bare _SUCCESS would fail; with the
        # schema given it reads as zero postings (every derived
        # artifact lands empty, exactly like the recompute would),
        # while a genuinely corrupt file still errors at scan time.
        from pyspark.sql import types as T

        stored = (
            spark.read.schema(postings.schema.add("batch_id", T.LongType()))
            .parquet(f"{index_path}/postings")
            .where(F.col("batch_id") == int(batch_id))
        )
        dl = stored.select("doc_id", "dl").distinct()
        vocab = stored.groupBy("tok").agg(
            F.count(F.lit(1)).cast("bigint").alias("df")
        )
        # delta-shaped attr maintenance (VERDICT r9 item 3, the ANN
        # sink's text twin): when the index carries a filterable attr
        # store, the batch's attr-posting rows ride this call into its
        # own generation — written BEFORE stats (the commit marker),
        # so the crash window stays detectable-missing.  Fail-closed:
        # an attrs store whose metadata columns the batch does not
        # carry raises instead of appending uncovered postings.
        attrs_store = read_store_or_none(spark, f"{index_path}/attrs")
        rels = [
            (dl, "doclens"),
            (vocab, "vocab"),
        ]
        if attrs_store is not None:
            acols = [
                c
                for c in attrs_store.columns
                if c not in ("tok", "doc_id", "batch_id")
            ]
            missing = [c for c in acols if c not in batch_df.columns]
            if missing:
                raise RuntimeError(
                    f"text index ingest: the index at {index_path} "
                    f"carries a filterable attr store with column(s) "
                    f"{missing} the batch does not supply — appending "
                    "postings without their attrs rows would "
                    "invalidate every filtered probe; carry the attr "
                    "columns on the ingest stream (or drop the attrs "
                    "store)"
                )
            attr_rows = stored.select("tok", "doc_id").join(
                batch_df.select("doc_id", *acols), "doc_id"
            )
            rels.append((attr_rows, "attrs"))
        rels.append((batch_stats(dl), "stats"))  # LAST — see module doc
        # m for the id bloom is sized from the stats row as it is
        # WRITTEN (an Observation riding the stats write — r15; the
        # r14 shape re-read the just-written partition, one extra
        # driver job per trigger); zero-token docs make it a slight
        # under-estimate of the distinct-id count, which only nudges
        # the false-positive rate — over-approximation stays safe by
        # construction.
        from pyspark.sql import Observation

        stats_obs = Observation()
        for rel, name in rels:
            if name == "stats":
                rel = rel.observe(
                    stats_obs, F.sum("n_docs").alias("n")
                )
            write_generation(
                rel.withColumn("batch_id", F.lit(int(batch_id))),
                f"{index_path}/{name}",
            )
        # the generation's id bloom (round 11 — the uniqueness gate's
        # metadata-sized side).  Written AFTER stats: a crash before
        # it leaves the generation bloom-less, which the gate detects
        # and answers with the full fallback scan (never a missed
        # clash); replay overwrites it like every other partition.
        from ..operators.text_index import write_idbloom

        n_docs = int(stats_obs.get["n"] or 0)
        write_idbloom(
            spark,
            index_path,
            batch_df.select("doc_id").distinct(),
            int(batch_id),
            n_docs=max(n_docs, 1),
        )

    return process


_IDBLOOM_MAYBE_CAP = 10_000  # above this, a full scan is cheaper

# Below this corpus size the gate skips the bloom path entirely: the
# MEASURED crossover (tools/scale_probe_bench.py, mode `ingestgate`,
# x1000 = 5M docs): the full doclens anti-join costs 0.37 s (one job
# over a ~40 MB doc_id column) while the bloom path's three driver
# round-trips + broadcast join cost a flat ~1.9 s.  The bloom's
# constant beats the scan's linear growth from roughly 5e7 docs up —
# exactly the regime the gate exists for (at 10^9 docs the scan alone
# is minutes per micro-batch).  Corpus size comes from the stats
# rollup — a generations-count read, no data scanned.
_IDBLOOM_MIN_CORPUS = 50_000_000


def _idbloom_maybe_ids(
    spark: SparkSession,
    index_path: str,
    batch_ids: DataFrame,
    batch_id: int,
) -> list[int] | None:
    """The batch doc_ids that MIGHT exist in another generation,
    per the stored per-generation id blooms — or None when the bloom
    path cannot answer (no/partial bloom coverage, or the maybe-set
    exceeded the cap) and the caller must run the full doclens
    anti-join.  Over-approximation is safe by construction (extra
    maybe-ids only narrow-scan doclens and find nothing); UNDER-
    approximation cannot happen while every doclens generation has its
    bloom row — which this function verifies against the doclens
    partition listing before trusting the blooms."""
    from ..operators.text_index import IDBLOOM_K, IDBLOOM_WORD, _idbloom_pos

    stats = read_store_or_none(spark, f"{index_path}/stats")
    if stats is not None:
        # LIVE corpus size: sum ALL rollup rows, negative erasure-
        # correction generations included (ADVICE r11) — summing only
        # the structural rows over-states the corpus after deletes and
        # would engage the bloom path (with its ~1.9 s flat driver
        # overhead) below the measured ~5e7-doc crossover.
        n_docs = (
            stats.agg(F.sum("n_docs").alias("n")).collect()[0]["n"]
        ) or 0
        if n_docs < _IDBLOOM_MIN_CORPUS:
            return None  # measured crossover: the full scan is cheaper
    blooms = read_store_or_none(spark, f"{index_path}/idbloom")
    if blooms is None:
        return None
    stored = read_store_or_none(spark, f"{index_path}/doclens")
    if stored is None:
        return []
    # partition-column-only listings — metadata-sized
    doclens_gens = {
        r["batch_id"]
        for r in stored.select("batch_id").distinct().collect()
        if r["batch_id"] != batch_id
    }
    meta = {
        r["batch_id"]: r["m"]
        for r in blooms.select("batch_id", "m").distinct().collect()
    }
    if not doclens_gens <= set(meta):
        return None  # a generation lacks its bloom — fall back
    if not doclens_gens:
        return []
    h = F.md5(F.col("doc_id").cast("string"))
    # one (doc_id, gen, word, bitpos) row per (id, generation, hash j):
    # joined broadcast against the metadata-sized bloom words; an id
    # is a maybe-hit for a generation iff ALL K positions are set
    probes = batch_ids.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(g)).alias("g"),
                        F.array(
                            *[
                                F.struct(
                                    (
                                        _idbloom_pos(h, j, meta[g])
                                        / IDBLOOM_WORD
                                    ).cast("int").alias("w"),
                                    (
                                        _idbloom_pos(h, j, meta[g])
                                        % IDBLOOM_WORD
                                    ).cast("int").alias("bp"),
                                )
                                for j in range(IDBLOOM_K)
                            ]
                        ).alias("ps"),
                    )
                    for g in sorted(doclens_gens)
                ]
            )
        ).alias("gp"),
    ).select(
        "doc_id",
        F.col("gp.g").alias("g"),
        F.explode("gp.ps").alias("p"),
    ).select("doc_id", "g", F.col("p.w").alias("w"), F.col("p.bp").alias("bp"))
    hits = (
        probes.join(
            F.broadcast(
                blooms.select(
                    F.col("batch_id").alias("g"), "w", "bits"
                )
            ),
            ["g", "w"],
            "left",
        )
        .withColumn(
            "hit",
            # bit bp of bits: parity of the arithmetic right shift —
            # `&` on Columns is logical AND in PySpark, not bitwise
            F.pmod(
                F.call_function(
                    "shiftright",
                    F.coalesce(F.col("bits"), F.lit(0).cast("long")),
                    F.col("bp"),
                ),
                F.lit(2),
            )
            == 1,
        )
        .groupBy("doc_id", "g")
        .agg(F.sum(F.when(F.col("hit"), 1).otherwise(0)).alias("nh"))
        .where(F.col("nh") == IDBLOOM_K)
        .select("doc_id")
        .distinct()
    )
    rows = hits.limit(_IDBLOOM_MAYBE_CAP + 1).collect()
    if len(rows) > _IDBLOOM_MAYBE_CAP:
        return None
    return [int(r["doc_id"]) for r in rows]


def _check_new_doc_ids(
    spark: SparkSession,
    index_path: str,
    batch_df: DataFrame,
    batch_id: int,
) -> None:
    """Raise if any of the batch's doc_ids already exist in another
    generation of the store (the batch's OWN partition is masked so
    replay cannot reject itself).

    Round 11: the check is BLOOM-GATED — the batch tests against the
    metadata-sized per-generation id blooms first (a broadcast join;
    no corpus relation touched), and the doclens store is scanned only
    for the maybe-hit ids (pushed ``doc_id IN`` — normally an empty
    list, so fresh-id ingest pays no corpus-length read at all, the
    last one this write path had).  Any bloom gap falls back to the
    original full anti-join, so the fail-closed contract is
    byte-identical; blooms can only be OVER-approximate (erased ids
    linger until compaction — they cost a narrow probe that finds
    nothing, never a missed clash).

    ``doc_id`` is read as the store's ``LongType`` whatever the
    batch's integral type: the clash join compares values, and a
    batch-typed read schema would not match the stored column."""
    from pyspark.sql import types as T

    if not path_exists(spark, f"{index_path}/doclens"):
        return  # no store yet — the batch founds it
    # The read is SCHEMA-SPECIFIED (r15, SPARK-23271): a first batch
    # whose docs all had NULL text commits only _SUCCESS under dynamic
    # overwrite, so the store exists but holds no generation — with
    # the schema given it reads as zero rows (nothing to clash with)
    # instead of failing inference.  The doclens layout is pinned by
    # this module (doc_id, dl) + batch_id, so the schema cannot drift.
    stored = spark.read.schema(
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("dl", T.LongType()),
                T.StructField("batch_id", T.LongType()),
            ]
        )
    ).parquet(f"{index_path}/doclens")
    batch_ids = batch_df.select("doc_id").distinct()
    maybe = _idbloom_maybe_ids(spark, index_path, batch_ids, batch_id)
    if maybe is not None and not maybe:
        return  # bloom-proven fresh: no doclens scan at all
    stored_side = stored.where(F.col("batch_id") != batch_id)
    if maybe is not None:
        stored_side = stored_side.where(F.col("doc_id").isin(maybe))
    clashes = (
        batch_ids.join(stored_side.select("doc_id"), "doc_id")
        .limit(5)
        .collect()
    )
    if clashes:
        ids = sorted(r["doc_id"] for r in clashes)
        raise RuntimeError(
            f"text index ingest: batch {batch_id} re-sends doc_id(s) "
            f"{ids} already indexed under another generation — doc_id "
            "uniqueness is a contract of this store (duplicates corrupt "
            "df/stats and double score rows); route updates through "
            "upsert_docs (erase + re-ingest + resurrection marker)"
        )


def _rebuild_stats(spark: SparkSession, index_path: str) -> None:
    """Recompute the per-generation stats rollup from the authoritative
    doclens — COMPACTION-ONLY (a full doclens scan; the erasure path
    uses delta corrections instead).  Full overwrite is safe: a crash
    mid-write leaves an unreadable stats table and probes fail closed
    on read; re-running heals."""
    dl = spark.read.parquet(f"{index_path}/doclens")
    (
        dl.groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("dl").cast("bigint").alias("total_len"),
        )
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(f"{index_path}/stats")
    )


def _rebuild_vocab(spark: SparkSession, index_path: str) -> None:
    """Recompute the per-generation vocab from the postings —
    COMPACTION-ONLY, like :func:`_rebuild_stats` (per-generation, not
    global, so an above-watermark batch that later replays still
    dynamic-overwrites exactly its own vocab partition)."""
    p = spark.read.parquet(f"{index_path}/postings")
    (
        p.groupBy("batch_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(f"{index_path}/vocab")
    )


def _rebuild_idbloom(spark: SparkSession, index_path: str) -> None:
    """Recompute the per-generation id blooms exactly from the folded
    doclens — COMPACTION-ONLY (folds retire the per-batch blooms; an
    exact rebuild also sheds erased ids' over-approximation)."""
    from ..operators.text_index import write_idbloom

    dl = spark.read.parquet(f"{index_path}/doclens")
    gens = [
        r["batch_id"]
        for r in dl.select("batch_id").distinct().collect()
    ]
    # drop the whole table first: blooms for folded-away generations
    # must not linger (the gate checks doclens gens against bloom
    # gens, so a crash mid-rebuild only forces fallback, never a miss)
    delete_path(spark, f"{index_path}/idbloom")
    for g in gens:
        write_idbloom(
            spark,
            index_path,
            dl.where(F.col("batch_id") == g).select("doc_id"),
            int(g),
        )


def _erased_docs(tombs: DataFrame) -> DataFrame:
    """``(doc_id)`` of the docs currently ERASED under the tombstone
    BALANCE rule: rows under negative (correction) generations are
    erasure commits, rows under non-negative generations are
    RESURRECTION markers (:func:`upsert_docs` re-admitting a doc with
    new content) — a doc is erased iff its commits outnumber its
    resurrections.  For a pure-delete history this reduces to "any
    tombstone row exists" (every row is negative-gen), so delete-only
    stores behave exactly as before upserts existed.  Plan-side: the
    compaction guard joins this relation without collecting it."""
    return (
        tombs.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("batch_id") < 0, F.lit(1)).otherwise(
                    F.lit(-1)
                )
            ).alias("_bal")
        )
        .where(F.col("_bal") > 0)
        .select("doc_id")
    )


class _ErasureProbe:
    """Driver-side snapshot of every metadata relation the erasure /
    upsert path needs, collected in ONE Spark job (r15, guide §1.2 —
    the old flow ran a separate collect per question: tombstone
    balance, committed correction gens, structural stats gens, upsert
    replay markers — 3-4 driver round-trips per erasure batch)."""

    __slots__ = ("balance", "all_gens", "marked_under")

    def __init__(self, balance, all_gens, marked_under):
        self.balance: dict[int, int] = balance  # id -> tombstone balance
        self.all_gens: list[int] = all_gens  # structural + tombstone gens
        self.marked_under: set[int] = marked_under  # upsert replay marks

    @property
    def done(self) -> set[int]:
        """Ids already erased (committed correction, not resurrected)
        — the tombstone BALANCE rule of :func:`_erased_docs`."""
        return {i for i, b in self.balance.items() if b > 0}

    @property
    def tomb_seen(self) -> set[int]:
        """Requested ids with ANY tombstone history."""
        return set(self.balance)

    def next_correction_gen(self) -> int:
        """The correction generation id: one below every STRUCTURAL
        generation (stats rows with ``n_docs >= 0`` — the build,
        folds, and ingests) and every COMMITTED correction (tombstone
        generations).  An ORPHANED correction — vocab/stats delta
        partitions whose tombstone (the commit marker, written last)
        never landed — is deliberately NOT counted: the re-run
        reallocates the SAME id and dynamic-overwrites the orphan
        partitions exactly, which is what makes the crashed-erasure
        re-run converge instead of double-correcting."""
        return min([*self.all_gens, 0]) - 1


def _erasure_probe(
    spark: SparkSession,
    index_path: str,
    ids: list[int],
    upsert_batch_id: int | None = None,
) -> _ErasureProbe:
    """ONE unioned collect over the metadata-sized relations: per-id
    tombstone rows (kind 0 — balance summed driver-side), every
    tombstone generation (kind 2 — committed corrections AND
    resurrection markers, exactly the set
    :meth:`_ErasureProbe.next_correction_gen` counts), every structural
    stats generation (kind 3, ``n_docs >= 0``), and — for the upsert
    replay check — the ids already marked under ``upsert_batch_id``
    (kind 4).

    Every branch is a NARROW projection (no groupBy/distinct): under
    AQE each shuffle becomes its own query-stage job, so the obvious
    aggregate-per-branch union costs more driver round-trips than the
    collects it replaces.  The raw rows are metadata-sized by the
    stores' own contracts (stats: one row per generation; tombstones:
    bounded by erasures-since-compaction — compaction drops the
    table), so aggregating them in the driver is the cheap side."""
    stats = spark.read.parquet(f"{index_path}/stats")
    nul = F.lit(None).cast("long")
    branches = [
        stats.where(F.col("n_docs") >= 0).select(
            F.lit(3).alias("kind"),
            F.col("batch_id").cast("long").alias("a"),
            nul.alias("b"),
        )
    ]
    tombs = read_store_or_none(spark, f"{index_path}/tombstones")
    if tombs is not None:
        branches.append(
            tombs.where(F.col("doc_id").isin(ids)).select(
                F.lit(0).alias("kind"),
                F.col("doc_id").cast("long").alias("a"),
                F.when(F.col("batch_id") < 0, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
                .alias("b"),
            )
        )
        branches.append(
            tombs.select(
                F.lit(2).alias("kind"),
                F.col("batch_id").cast("long").alias("a"),
                nul.alias("b"),
            )
        )
        if upsert_batch_id is not None:
            branches.append(
                tombs.where(
                    (F.col("batch_id") == int(upsert_batch_id))
                    & F.col("doc_id").isin(ids)
                ).select(
                    F.lit(4).alias("kind"),
                    F.col("doc_id").cast("long").alias("a"),
                    nul.alias("b"),
                )
            )
    merged = branches[0]
    for b in branches[1:]:
        merged = merged.unionByName(b)
    rows = merged.collect()
    balance: dict[int, int] = {}
    all_gens: set[int] = set()
    marked: set[int] = set()
    for r in rows:
        k = r["kind"]
        if k == 0:
            a = int(r["a"])
            balance[a] = balance.get(a, 0) + int(r["b"])
        elif k == 4:
            marked.add(int(r["a"]))
        else:
            all_gens.add(int(r["a"]))
    return _ErasureProbe(balance, sorted(all_gens), marked)


def _doomed_doclens(
    spark: SparkSession, index_path: str, ids: list[int]
) -> DataFrame:
    """The requested ids' doclens rows ``(batch_id, doc_id, dl)`` —
    one pushed ``doc_id IN`` probe, collected by the caller, that
    answers three questions at once (r15): which ids are actually stored
    (→ the correction's scope), the stats delta (row count + dl sum over
    the new ids), and which generations the row-erase must touch.
    Because doclens is the distinct (doc_id, dl) projection of the
    postings of the SAME generation (one ``doc_postings`` code path for
    build, sink and upsert; compaction folds both stores with the same
    watermark), the doclens generations containing an id equal the
    postings (and attrs) generations containing it — so this one probe
    also spares the per-store touched-partition scans in
    :func:`erase_rows`."""
    return (
        spark.read.parquet(f"{index_path}/doclens")
        .where(F.col("doc_id").isin(ids))
        .select("batch_id", "doc_id", "dl")
    )


def _apply_erasure(
    spark: SparkSession,
    index_path: str,
    ids: list[int],
    probe: _ErasureProbe,
    drows: list,
) -> int:
    """The write half of :func:`delete_docs`: corrections (vocab
    delta, stats delta, tombstones LAST — the commit marker), then the
    partition-local row erase over exactly the generations ``drows``
    names.  Same write order, same dynamic-overwrite replay contract,
    same correction-generation allocation as always — only the number
    of driver round-trips changed (guide §1.2)."""
    done = probe.done
    new_set = {i for i in ids if i not in done}
    stored_new = [r for r in drows if r["doc_id"] in new_set]
    if stored_new:
        gen = probe.next_correction_gen()
        vocab_delta = (
            spark.read.parquet(f"{index_path}/postings")
            .where(F.col("doc_id").isin(sorted(new_set)))
            .groupBy("tok")
            .agg((-F.count(F.lit(1))).cast("bigint").alias("df"))
        )
        correction = spark.createDataFrame(
            [
                (
                    -len(stored_new),
                    -sum(int(r["dl"]) for r in stored_new),
                )
            ],
            "n_docs bigint, total_len bigint",
        )
        tomb_rows = spark.createDataFrame(
            [(int(r["doc_id"]),) for r in stored_new], "doc_id bigint"
        )
        for rel, name in (
            (vocab_delta, "vocab"),
            (correction, "stats"),
            (tomb_rows, "tombstones"),  # commit marker LAST
        ):
            write_generation(
                rel.withColumn("batch_id", F.lit(int(gen))),
                f"{index_path}/{name}",
            )
    touched = [(int(g),) for g in sorted({r["batch_id"] for r in drows})]
    if not touched:
        return 0  # nothing stored anywhere — nothing to rewrite
    rewritten = 0
    for name in ("postings", "doclens"):
        rewritten += erase_rows(
            spark, f"{index_path}/{name}", "doc_id", ids, touched=touched
        )
    # attrs side store (when present): the doomed docs' attr-posting
    # rows leave alongside their postings (delta-shaped — attrs need
    # no df/stats correction, they carry no statistics); attrs rows
    # live in the same generations as their postings (built from them)
    if read_store_or_none(spark, f"{index_path}/attrs") is not None:
        erase_rows(
            spark, f"{index_path}/attrs", "doc_id", ids, touched=touched
        )
    return rewritten


def delete_docs(
    spark: SparkSession, index_path: str, doc_ids: list[int]
) -> int:
    """Erase documents from the index — the maintenance op the ingest
    sink's doc_id-uniqueness error message points to (delete + re-send
    is the update path of this append-only store), and the
    right-to-erasure primitive a training-data pipeline owes its
    sources.  Returns the number of generations rewritten.

    Mechanics (round 8 — delta corrections, VERDICT r7 item 3):

    1. Requested ids already tombstoned (a committed prior correction)
       are skipped; for the rest, the doomed rows — read with a pushed
       ``doc_id IN`` predicate, the same shape the partition-local
       eraser pays anyway — yield per-``tok`` df deltas and one
       (n_docs, total_len) rollup delta.
    2. The deltas append NEGATED under a fresh CORRECTION generation:
       vocab delta, stats correction, then the tombstone partition
       LAST (the commit marker).  The probes' existing merge-on-read
       sums fold corrections in with zero plan change; no full-store
       aggregate runs and no pre-existing vocab/stats file is
       rewritten (pinned by pytest via file-level invariance).
    3. Only the postings/doclens generations that actually CONTAIN a
       doomed doc are rewritten (survivors dynamic-overwrite the
       partition; a partition left EMPTY is deleted outright — dynamic
       overwrite cannot express "replace with nothing").

    Idempotent: re-running with the same ids finds them tombstoned and
    nothing stored — it rewrites nothing and returns 0.  Crash contract
    (the compaction stance — run with the ingest stream stopped, and
    after a crash RE-RUN THE SAME CALL before probes resume): a crash
    before the tombstone write leaves orphan delta partitions that the
    re-run overwrites in place (same generation id — see
    :meth:`_ErasureProbe.next_correction_gen`), and the half-applied
    window is probe-detected where cheap (a vocab generation without its
    stats row trips the static probe's coverage guard); a crash after
    the tombstone but before the row erase leaves corrected-but-present
    rows, which the re-run erases (ids stay in the erase list even when
    their correction is committed).  ``compact_text_index`` refuses to
    fold a store whose tombstoned docs still have rows, so a crashed
    erasure cannot be silently resurrected by compaction.

    The INGEST sink's crash window is outside this contract: a sink
    crash after its postings write but before its doclens write leaves
    a generation whose postings have no doclens rows.  The touched
    generations and the stats delta come from doclens alone, so an
    erasure run in that state would leave the doomed docs' postings in
    that generation and omit them from the correction.  The probes
    refuse such a generation (no stats row yet), and replaying the
    crashed batch rewrites all its partitions — replay it before any
    erasure.

    Scale note: ``doc_ids`` is a driver-side list (an erasure request
    is metadata-sized by nature); the rewrite cost is proportional to
    the TOUCHED generations' size and the correction cost to the
    DOOMED rows — never to the store.  Compact first if erasures
    should touch one folded generation instead of many.

    Job shape (r15, guide §1.2): the old flow ran ~14 small Spark
    jobs per call (a collect per metadata question plus 3 scans per
    erased store); now ONE unioned metadata probe + ONE doclens probe
    answer everything (done-set, correction gen, stats delta,
    touched generations for all three stores), and each store's
    row-erase is a single observed write — ≤ 8 jobs with the same
    writes in the same commit order."""
    ids = [int(d) for d in doc_ids]
    probe = _erasure_probe(spark, index_path, ids)
    drows = _doomed_doclens(spark, index_path, ids).collect()
    return _apply_erasure(spark, index_path, ids, probe, drows)


def upsert_docs(
    spark: SparkSession,
    index_path: str,
    new_docs: DataFrame,
    batch_id: int,
) -> int:
    """UPDATE for the append-only index — the missing face of its
    CRUD matrix (ingest / delete / compact / as-of existed; this is
    the "delete + re-send" cycle the ingest sink's uniqueness error
    message prescribes, packaged as ONE replay-safe op).  Returns the
    number of generations the erase phase rewrote (0 when the call is
    recognized as a replay of a committed upsert).

    Contract: every doc_id must be KNOWN to the store — live rows or
    a tombstone history (fail-closed check below); brand-new docs go
    through the ingest sink.  ``batch_id`` identifies the upsert
    batch exactly like the sink's replay contract — a re-call under
    the same id IS a replay, recognized by its own commit marker and
    skipped whole.

    Three steps, commit marker LAST:

    1. :func:`delete_docs` on the batch's doc_ids — old rows erased,
       their df/stats contributions negated under a tombstone-
       committed correction generation (a doc currently ERASED is
       simply skipped there, so upsert doubles as lawful
       re-admission of an erased doc with new content).
    2. The new versions ingest under ``batch_id`` through the sink's
       own per-batch path (uniqueness gate, stats-last write order,
       dynamic-overwrite replay).
    3. RESURRECTION markers — ``(doc_id, batch_id)`` rows appended to
       the tombstones table under the (non-negative) ingest
       generation, one per id the delete phase left tombstoned,
       written by partition overwrite (idempotent under replay).
       Under the balance rule (:func:`_erased_docs`) the marker
       returns the doc to LIVE: a later ``delete_docs`` is not
       short-circuited by the stale tombstone, and
       ``compact_text_index``'s resurrection guard does not refuse
       the store.  Markers are append-only — no tombstone partition
       shrinks outside compaction, so committed correction
       generations can never be mistaken for orphans and reallocated
       (``next_correction_gen``'s overwrite-the-orphan contract
       stays sound).

    Crash contract (maintenance-window serialization, like every
    store-rewriting op): a crash before step 3 leaves tombstoned docs
    WITH rows — compaction refuses, probes of the new content fold
    correctly, and re-running the SAME call converges (the delete
    phase finds the ids tombstoned → no double correction; the erase
    list still covers them → the half-written generation is erased
    and re-ingested in place; the marker overwrite lands last).

    Scale shape: cost ∝ touched generations + the batch itself
    (inherited from delete_docs + the sink); the id list is
    metadata-sized by nature (an update request), collected once."""
    ids = [
        int(r["doc_id"])
        for r in new_docs.select("doc_id").distinct().collect()
    ]
    # ONE metadata probe (r15, guide §1.2) answers the replay check,
    # the known-docs precondition, the delete phase's done-set and
    # its correction-generation allocation; ONE doclens probe yields
    # the stored ids, the stats delta and the touched generations.
    # The old flow collected each answer separately (~5 driver
    # round-trips before the first write).
    probe = _erasure_probe(
        spark, index_path, ids, upsert_batch_id=int(batch_id)
    )
    # Replay of a COMMITTED upsert is a no-op, decided by its own
    # commit marker: if this batch's resurrection rows already cover
    # the ids, re-running the delete phase would append a fresh
    # correction against the very rows step 2 then restores by
    # partition overwrite — a double subtraction nothing offsets.
    # (batch_id identifies the upsert batch, exactly like the sink's
    # replay contract: a re-call under the same id IS a replay.)
    if ids and probe.marked_under >= set(ids):
        return 0
    drows = _doomed_doclens(spark, index_path, ids).collect()
    # Fail-closed precondition: this op UPDATES (or re-admits) docs
    # the store already knows — a doc with neither index rows nor a
    # tombstone history belongs to the ingest sink.  The restriction
    # is what makes the commit marker exact: every accepted id ends
    # the run marked, so a replay is recognized by the marker check
    # above; a mixed insert+update batch would leave its brand-new
    # ids unmarked and a replay's delete phase would double-subtract
    # the updated ones.  (Checked BEFORE any destructive write.)
    known = probe.tomb_seen | {int(r["doc_id"]) for r in drows}
    unknown = sorted(set(ids) - known)
    if unknown:
        raise RuntimeError(
            f"upsert_docs: doc_id(s) {unknown[:5]} have no index rows "
            "and no tombstone history — this op updates or re-admits "
            "known docs; ingest NEW docs through "
            "streaming_text_index_sink instead (mixing inserts into "
            "an upsert batch would break its replay marker)"
        )
    # Attr-column presence is validated BEFORE the destructive delete
    # phase (ADVICE r11): the sink's own check fires only after
    # delete_docs has removed the old rows, leaving the upserted docs
    # fully absent and the documented re-run heal failing at the same
    # point forever.  Refuse up front so the old rows stay servable.
    attrs_store0 = read_store_or_none(spark, f"{index_path}/attrs")
    if attrs_store0 is not None:
        acols = [
            c
            for c in attrs_store0.columns
            if c not in ("tok", "doc_id", "batch_id")
        ]
        missing = [c for c in acols if c not in new_docs.columns]
        if missing:
            raise RuntimeError(
                f"upsert_docs: the index at {index_path} carries a "
                f"filterable attr store with column(s) {missing} the "
                "batch does not supply — refusing BEFORE the delete "
                "phase so the old rows stay servable; carry the attr "
                "columns on the batch"
            )
    rewritten = _apply_erasure(spark, index_path, ids, probe, drows)
    # pass new_docs whole: the sink tokenizes (doc_id, text) and, when
    # the index carries an attr store, requires the attr columns on
    # the batch (fail-closed) to keep the attrs delta-maintained.
    # The sink's doc_id-uniqueness gate is SKIPPED here (r15): the
    # erase phase just removed every requested id's rows from every
    # generation in this same call (single-writer maintenance window),
    # so the gate could only ever pass — its two corpus probes per
    # call were pure overhead.  The precondition check above already
    # refused unknown ids before anything destructive ran.
    streaming_text_index_sink(index_path, enforce_unique_doc_ids=False)(
        new_docs, int(batch_id)
    )
    # Resurrection markers, derived DRIVER-SIDE from the same two
    # probes (r15): post-delete balance = pre-balance (probe) + the
    # correction's tombstone rows (one per erased doclens row — the
    # exact multiset _apply_erasure wrote).  Equal to re-reading the
    # tombstones table, without the extra collect.
    done = probe.done
    newly: dict[int, int] = {}
    for r in drows:
        d = int(r["doc_id"])
        if d not in done:
            newly[d] = newly.get(d, 0) + 1
    marked = sorted(
        i
        for i in set(ids)
        if probe.balance.get(i, 0) + newly.get(i, 0) > 0
    )
    if marked:
        markers = spark.createDataFrame(
            [(i,) for i in marked], "doc_id bigint"
        )
        write_generation(
            markers.withColumn("batch_id", F.lit(int(batch_id))),
            f"{index_path}/tombstones",
        )
    return rewritten


def compact_text_index(
    spark: SparkSession, index_path: str, upto_batch_id: int
) -> int:
    """Fold both generational stores below the replay watermark (shared
    two-phase contract, :mod:`.compaction`), then rebuild the stats
    AND vocab tables exactly from the folded data and drop the
    tombstones — erasure corrections are thereby folded away, and the
    compacted store is back to single-generation postings / doclens /
    vocab / stats (the probe-plan restoration pinned by pytest).

    Fail-closed: refuses to run while any tombstoned doc still has
    doclens rows (a crashed ``delete_docs`` whose row-erase never
    finished) — rebuilding stats/vocab from those rows and then
    deleting the tombstones would silently RESURRECT the docs; the fix
    is to re-run the erasure first.  Returns the total number of
    source partitions folded across the two stores."""
    tombs = read_store_or_none(spark, f"{index_path}/tombstones")
    if tombs is not None:
        undead = (
            spark.read.parquet(f"{index_path}/doclens")
            .join(_erased_docs(tombs), "doc_id")
            .limit(5)
            .collect()
        )
        if undead:
            ids = sorted(r["doc_id"] for r in undead)
            raise RuntimeError(
                f"compact_text_index: tombstoned doc_id(s) {ids} still "
                "have index rows — a delete_docs call crashed between "
                "its correction commit and its row erase; re-run the "
                "same delete_docs before compacting (folding would "
                "resurrect the docs)"
            )
    n = compact_generations(
        spark,
        f"{index_path}/postings",
        upto_batch_id,
        data_cols=["tok", "doc_id", "tf", "dl"],
        dedup_cols=["tok", "doc_id"],
    )
    n += compact_generations(
        spark,
        f"{index_path}/doclens",
        upto_batch_id,
        data_cols=["doc_id", "dl"],
        dedup_cols=["doc_id"],
    )
    attrs_store = read_store_or_none(spark, f"{index_path}/attrs")
    if attrs_store is not None:
        acols = [
            c
            for c in attrs_store.columns
            if c not in ("tok", "doc_id", "batch_id")
        ]
        n += compact_generations(
            spark,
            f"{index_path}/attrs",
            upto_batch_id,
            data_cols=["tok", "doc_id", *acols],
            dedup_cols=["tok", "doc_id"],
        )
    # exact rebuilds: one row-set per surviving generation (heals any
    # rollup drift a crashed sink, erasure or fold left behind) —
    # compaction is the one op that is full-store by nature
    _rebuild_stats(spark, index_path)
    _rebuild_vocab(spark, index_path)
    _rebuild_idbloom(spark, index_path)
    if tombs is not None:
        delete_path(spark, f"{index_path}/tombstones")
    return n


def streaming_upsert_sink(index_path: str, batch_id_base: int = 0):
    """``foreachBatch`` callback for an UPDATE-QUEUE stream (VERDICT
    r9 item 4): each micro-batch of ``(doc_id, text [, attr cols])``
    rows is one update batch driving :func:`upsert_docs` under
    generation ``batch_id_base + micro_batch_id``.  Replay-idempotent
    through the upsert's own commit marker — a crash-replayed trigger
    re-runs the SAME upsert call, which recognizes its resurrection
    markers and converges (completed replays skip whole; partial ones
    re-erase and re-ingest in place).

    ``batch_id_base`` separates the update stream's generation ids
    from any ingest stream's (the two share the store's generation
    space); pick it above every id the ingest stream will ever use.
    The update stream must be the store's ONLY writer while running —
    upsert is a store-rewriting op, and the stream's serial triggers
    ARE its maintenance window (stop it before compaction/erasure,
    like every other maintenance op)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_docs(
            batch_df.sparkSession,
            index_path,
            batch_df,
            int(batch_id_base) + int(batch_id),
        )

    return process


def add_doc_attr_column(
    spark: SparkSession,
    index_path: str,
    values: DataFrame,
    batch_id: int,
) -> None:
    """ATTR-SCHEMA EVOLUTION on the live filtered TEXT index — the
    BM25 twin of ``ann_ingest.add_attr_column`` (VERDICT r11 item 4):
    give the postings-layout attrs store a NEW filterable column
    without re-running ``build_text_attr_store`` (a corpus-length
    postings join).  ``values`` is ``(doc_id, <new column(s)...>)``;
    the backfill joins the EXISTING attrs rows (already in postings
    layout with their generations) against ``values`` on ``doc_id``
    and swaps the widened store in by checked atomic renames.  Cost ∝
    the attrs store; postings and documents are never read.

    Same contracts as the ANN twin: fail-closed coverage (a live
    attrs row without a value refuses BEFORE the swap, old store
    stays servable; over-supplied doc_ids are ignored), additive only
    (a colliding name refuses), marker FIRST — a ``(n_cols,
    batch_id)`` row lands in ``{index}/attr_evolutions`` before the
    stage, so FILTERED as-of probes below the evolve generation
    refuse (the backfill writes the new column into every historical
    generation; a pre-evolve as-of view filtered on it would be a
    state that never existed — unfiltered as-of probes are untouched,
    they never read attrs).  Crash windows heal by re-running the
    SAME call (recovery preamble + deterministic stage + idempotent
    marker overwrite).  Single-writer maintenance-window contract."""
    # recovery preamble FIRST (the refit/evolve crash contract)
    swap = attrs_swap(spark, index_path, "add_doc_attr_column")

    attrs = read_store_or_none(spark, f"{index_path}/attrs")
    if attrs is None:
        raise RuntimeError(
            f"add_doc_attr_column: no attrs store at "
            f"{index_path}/attrs — bootstrap one with "
            "build_text_attr_store before evolving it"
        )
    new_cols = [c for c in values.columns if c != "doc_id"]
    if not new_cols:
        raise RuntimeError(
            "add_doc_attr_column: values must carry (doc_id, <new "
            "column(s)>) — got only doc_id"
        )
    clash = [c for c in new_cols if c in attrs.columns]
    if clash:
        raise RuntimeError(
            f"add_doc_attr_column: column(s) {clash} already exist on "
            f"the attrs store at {index_path} — evolution is "
            "additive; update values through upsert_docs instead"
        )

    # marker FIRST (see docstring)
    write_generation(
        spark.createDataFrame(
            [(len(new_cols), int(batch_id))],
            "n_cols int, batch_id int",
        ),
        f"{index_path}/attr_evolutions",
    )

    tagged = values.withColumn("_present", F.lit(1))
    joined = attrs.join(tagged, "doc_id", "left")
    guarded_doc = F.when(
        F.col("_present").isNull(),
        F.assert_true(
            F.col("_present").isNotNull(),
            F.concat(
                F.lit("add_doc_attr_column: live attrs row doc_id="),
                F.col("doc_id").cast("string"),
                F.lit(
                    " has no value for the new column(s) — a "
                    "filtered probe on them would silently drop it; "
                    "supply a value for every indexed document"
                ),
            ),
        ).cast("long"),
    ).otherwise(F.col("doc_id"))
    try:
        (
            joined.select(
                "tok",
                guarded_doc.alias("doc_id"),
                "batch_id",
                *[c for c in attrs.columns
                  if c not in ("tok", "doc_id", "batch_id")],
                *new_cols,
            )
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(swap.stage_path)
        )
    except Exception:
        # a refused stage must not linger: the live store is
        # untouched and still servable
        swap.drop_stage()
        raise
    swap.commit()


def drop_doc_attr_column(
    spark: SparkSession,
    index_path: str,
    cols: list[str],
    batch_id: int,
) -> bool:
    """The inverse of :func:`add_doc_attr_column` — retire filter
    dimension(s) from the text index's postings-layout attrs store
    (same narrow-table stage + checked atomic swap; the ANN twin is
    ``ann_ingest.drop_attr_column``).  Returns False when the call is
    a recognized replay (none of ``cols`` exist — the previous run's
    swap committed).  No marker, deliberately: remaining columns'
    historical values are untouched, so filtered as-of probes on them
    stay exact, and a probe on the dropped column fails loudly
    (unresolved column) — the silent-history problem cannot occur.
    Single-writer maintenance-window contract."""
    swap = attrs_swap(spark, index_path, "drop_doc_attr_column")

    attrs = read_store_or_none(spark, f"{index_path}/attrs")
    if attrs is None:
        raise RuntimeError(
            f"drop_doc_attr_column: no attrs store at "
            f"{index_path}/attrs"
        )
    want = [str(c) for c in cols]
    present = [c for c in want if c in attrs.columns]
    if not present:
        return False  # replay after the swap committed: converged
    if len(present) < len(want):
        raise RuntimeError(
            f"drop_doc_attr_column: "
            f"{sorted(set(want) - set(present))} are not on the "
            "attrs store — a drop is all-or-nothing by the atomic "
            "swap; name columns that all exist"
        )
    reserved = [c for c in want if c in ("tok", "doc_id", "batch_id")]
    if reserved:
        raise RuntimeError(
            f"drop_doc_attr_column: {reserved} are layout columns, "
            "not attr metadata"
        )
    remaining = [
        c
        for c in attrs.columns
        if c not in ("tok", "doc_id", "batch_id") and c not in set(want)
    ]
    if not remaining:
        raise RuntimeError(
            "drop_doc_attr_column: dropping every metadata column "
            "would leave a store no filtered probe can use — delete "
            f"the {index_path}/attrs directory instead to retire "
            "filterability entirely"
        )
    (
        attrs.select("tok", "doc_id", "batch_id", *remaining)
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(swap.stage_path)
    )
    swap.commit()
    return True
