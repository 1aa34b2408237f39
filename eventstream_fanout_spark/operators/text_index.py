"""Persisted inverted text index + BM25 keyword search — the retrieval
side of the training-data pipeline as a stored artifact, mirroring the
round-6 ANN index design (operators/ann_index.py).

``inverted_index_postings`` (plans/text_queries.py) builds posting
lists in-plan; this module PERSISTS the index as warehouse tables and
probes the stored form.  Round-7 layout (VERDICT r6 item 2): the
document length ``dl`` is DENORMALIZED into every posting row — the
classic document-ordered posting-list layout — and the corpus
statistics are FOLDED into one tiny row per index generation, so a
keyword probe touches ONLY term-filtered rows plus a
generations-count-sized stats relation.  Round 6's probes joined the
full ``doclens`` relation (1 row per document) twice per query — a
corpus-length scan per probe at billions of docs; that join is gone.

* ``postings`` — ``(tok, doc_id, tf, dl)``: one row per (term, doc),
  carrying the doc's token length.  Partitioned by ``batch_id``
  (generational-store contract shared with the ANN codes table).
* ``doclens``  — ``(doc_id, dl)``: kept ONLY for maintenance — the
  compaction-time stats rebuild and the ingest-time doc_id-uniqueness
  check.  Probes never read it.
* ``vocab``   — ``(tok, df, batch_id)``: GENERATIONAL document
  frequencies, summed merge-on-read per term (round-8 change; round 7
  stored a build-time snapshot that went stale on any ingest and was
  rebuilt by a full postings scan on any erasure — VERDICT r7 item 3).
  The build writes the frozen generation, each ingest batch appends
  its own df contribution (a batch-local aggregate the sink already
  computes), and an erasure appends NEGATIVE df deltas derived from
  the doomed rows.  Readers (the static probe and the hot-term bound)
  sum ``df`` over a term-filtered, pushed-predicate scan — per-term
  cost, never corpus cost.
* ``stats``   — one row PER GENERATION ``(batch_id, n_docs,
  total_len)``: the algebraic corpus rollup, written by the build
  (frozen generation), appended per ingest batch, appended NEGATIVE by
  an erasure's correction generation, re-folded by compaction.  A
  probe sums a #generations-row relation instead of scanning per-doc
  lengths.
* ``tombstones`` — ``(doc_id, batch_id)``: one partition per erasure
  CORRECTION generation, written LAST by ``delete_docs`` (the commit
  marker: a correction generation is committed iff its tombstone
  partition exists); ``upsert_docs`` appends RESURRECTION marker rows
  under its (non-negative) ingest generation — a doc is erased iff
  its negative-gen rows outnumber its markers (the balance rule).
  Maintenance-only; probes never read it.

Probe cost model: a keyword query filters ``postings`` (and, static
probe, ``vocab``) on ``tok IN (terms)`` — a pushed-down parquet
predicate, so the scan touches only the matching terms' posting rows;
``stats`` contributes one row per generation (compaction folds it back
toward 1).  The raw documents table and the doclens table are never
read at query time.

Every probe is a call into one private core, ``_bm25_core``; its
docstring holds the probe x guard table (all guards lazy, riding
expressions the probe already pays for — ``functions/guards.py``).

Scoring is the log-free BM25 variant: textbook BM25 idf is
``ln((N - df + 0.5)/(df + 0.5))``, but transcendentals diverge across
engines (the tf-idf lesson, plans/text_queries.py), so the idf RATIO
is used directly — per-term this is the exponential of the standard
idf (a monotone per-term transform; multi-term rankings can differ
from textbook BM25, which is acceptable for a deterministic
hash-checkable scorer and stated here explicitly).  The tf-saturation
factor is the standard ``tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``.
All inputs are exact BIGINTs cast to double; every float op is a
single exactly-rounded IEEE step written with the identical expression
tree in the SQL oracle; the per-doc term sum goes through the
order-independent quantized ``dsum``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.core import dsum
from ..functions.guards import guard_branch, guard_rider
from ..functions.hashing import tokens
from ..streaming.compaction import write_generation

BM25_K1 = 1.2
BM25_B = 0.75


FROZEN_BATCH_ID = -1  # the static build's generation


def doc_postings(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings, doclens) for a ``(doc_id, text)`` relation — the
    per-document index rows, shared by the static build and the
    streaming ingest sink (one code path, two execution modes).
    Postings carry the denormalized ``dl``: the tf/dl join happens
    ONCE here, at write time, instead of on every probe."""
    occ = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    tf = occ.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dl = occ.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("dl")
    )
    return tf.join(dl, "doc_id").select("tok", "doc_id", "tf", "dl"), dl


def batch_stats(dl: DataFrame) -> DataFrame:
    """The 1-row ``(n_docs, total_len)`` rollup of a doclens relation
    — the per-generation stats artifact."""
    return dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
    )


def build_text_index(
    spark: SparkSession, docs: DataFrame, index_path: str
) -> None:
    """Write the four index tables from a ``(doc_id, text)`` corpus.
    One explode feeds every aggregate (tf, dl, df, stats are all
    partial-agg-friendly counts/sums).

    All four tables are written under the frozen generation
    ``batch_id = -1`` so the streaming ingest sink
    (streaming/text_ingest.py) can append later batches replay-safely;
    ``vocab`` is generational like the rest (round 8 — the ingest sink
    and ``delete_docs`` append df deltas), so its merge-on-read sum is
    current after any ingest or erasure.  The static probe
    (:func:`bm25_topk`) still fails closed once NON-frozen (ingested)
    generations exist — its frozen-only contract is unchanged —
    while erasure correction generations (always ``< -1``) keep it
    valid on an erased-but-never-ingested index."""
    # tokenize ONCE (r14, guide §1.2): the postings table is written
    # first and READ BACK (the streaming sink's discipline); doclens
    # is its distinct (doc_id, dl) projection — postings denormalize
    # dl — vocab its per-tok row count, stats the doclens rollup.
    # Before, each of the four writes re-ran the explode→tf→dl tree
    # over the corpus.
    postings, _dl = doc_postings(docs)
    write_generation(
        postings.withColumn("batch_id", F.lit(FROZEN_BATCH_ID)),
        f"{index_path}/postings",
    )
    # Schema-specified read-back (r15 — the SPARK-23271 corner the
    # vector-dedup sink fixed first): an all-empty-text corpus commits
    # no data file under dynamic overwrite, so inference over the bare
    # _SUCCESS would fail; with the schema given it reads as zero
    # postings and the derived artifacts land empty (a corrupt file
    # still errors at scan time — fail-closed).
    from pyspark.sql import Observation
    from pyspark.sql import types as T

    stored = (
        spark.read.schema(postings.schema.add("batch_id", T.LongType()))
        .parquet(f"{index_path}/postings")
        .where(F.col("batch_id") == FROZEN_BATCH_ID)
    )
    dl = stored.select("doc_id", "dl").distinct()
    vocab = stored.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    # n_docs for the bloom sizing rides the stats write as an
    # Observation (r15; the r14 shape re-read the just-written stats
    # partition — one extra driver job per build)
    stats_obs = Observation()
    stats = batch_stats(dl).observe(stats_obs, F.sum("n_docs").alias("n"))
    for rel, name in ((dl, "doclens"), (vocab, "vocab"), (stats, "stats")):
        write_generation(
            rel.withColumn("batch_id", F.lit(FROZEN_BATCH_ID)),
            f"{index_path}/{name}",
        )
    # Bloom LAST, from the just-written artifacts instead of the live
    # tokenization subtree (ADVICE r11: the old bloom-first call
    # re-computed the explode once for the count and once for the
    # rows): ids come from the written doclens generation (a
    # partition-pruned two-column scan, schema-specified like the
    # postings read-back) and m from the observed stats row.  A crash
    # before this write leaves the generation bloom-less, which the
    # ingest gate detects and answers with the full fallback scan —
    # the same conservative ordering as the sink.
    written_dl = (
        spark.read.schema(dl.schema.add("batch_id", T.LongType()))
        .parquet(f"{index_path}/doclens")
        .where(F.col("batch_id") == FROZEN_BATCH_ID)
    )
    n_docs = int(stats_obs.get["n"] or 0)
    write_idbloom(
        spark,
        index_path,
        written_dl.select("doc_id"),
        FROZEN_BATCH_ID,
        n_docs=n_docs,
    )


def bm25_score_expr() -> F.Column:
    """The per-(doc, term) log-free BM25 score.  Expression tree is
    mirrored character-for-character by sql_bm25_score_expr — change
    BOTH or hashes drift in the last ulp."""
    n_docs = F.col("n_docs").cast("double")
    df = F.col("df").cast("double")
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    total_len = F.col("total_len").cast("double")
    idf = ((n_docs - df) + F.lit(0.5)) / (df + F.lit(0.5))
    avgdl = total_len / n_docs
    sat = (tf * F.lit(BM25_K1 + 1.0)) / (
        tf
        + (F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + (F.lit(BM25_B) * (dl / avgdl))))
    )
    return idf * sat


def sql_bm25_score_expr() -> str:
    """DuckDB twin of :func:`bm25_score_expr` (same tree, same literal
    constants, explicit DOUBLE casts so DuckDB's decimal literals
    cannot sneak in)."""
    n_docs = "CAST(s.n_docs AS DOUBLE)"
    df = "CAST(d.df AS DOUBLE)"
    tf = "CAST(t.tf AS DOUBLE)"
    dl = "CAST(l.dl AS DOUBLE)"
    total_len = "CAST(s.total_len AS DOUBLE)"
    idf = f"((({n_docs} - {df}) + CAST(0.5 AS DOUBLE)) / ({df} + CAST(0.5 AS DOUBLE)))"
    avgdl = f"({total_len} / {n_docs})"
    sat = (
        f"(({tf} * CAST({BM25_K1 + 1.0!r} AS DOUBLE)) / "
        f"({tf} + (CAST({BM25_K1!r} AS DOUBLE) * "
        f"(CAST({1.0 - BM25_B!r} AS DOUBLE) + "
        f"(CAST({BM25_B!r} AS DOUBLE) * ({dl} / {avgdl}))))))"
    )
    return f"({idf} * {sat})"


def _merged_stats(stats: DataFrame) -> DataFrame:
    """Sum the per-generation stats rows into the probe's 1-row
    ``(n_docs, total_len)`` broadcast side — a #generations-row scan,
    never per-doc.  An EMPTY stats table (broken artifact) raises via
    the null-owning CASE branch (a ``+``-rider would silently
    short-circuit on the null sum — the round-6 lazy-guard lesson)."""
    agg = stats.agg(
        F.sum("n_docs").cast("bigint").alias("_nd"),
        F.sum("total_len").cast("bigint").alias("_tl"),
    )
    raise_empty = lambda col, t: F.assert_true(  # noqa: E731
        col.isNotNull(),
        F.lit(
            "text index probe: the stats table is empty — the index "
            "artifact is broken; rebuild or re-run compaction"
        ),
    ).cast(t)
    return agg.select(
        F.when(F.col("_nd").isNull(), raise_empty(F.col("_nd"), "bigint"))
        .otherwise(F.col("_nd"))
        .alias("n_docs"),
        F.when(F.col("_tl").isNull(), raise_empty(F.col("_tl"), "bigint"))
        .otherwise(F.col("_tl"))
        .alias("total_len"),
    )


# Columns of the scored relation (one row per matched (doc, term)); a
# batch probe prepends ``qid``.  Every guard branch is shaped to them.
_SCORED = (
    ("doc_id", "bigint"),
    ("tok", "string"),
    ("sc", "double"),
    ("batch_id", "int"),
)

_ASOF_ERASED = (
    "text index as-of probe: the store holds erasure "
    "correction generations — erasure is destructive (no "
    "earlier view is reconstructible, by right-to-erasure "
    "contract); probe the live index with bm25_topk_merged"
)
_FILTERED_ASOF_ERASED = (
    "filtered as-of probe: the store holds erasure "
    "correction generations — erasure is destructive (no "
    "earlier view is reconstructible, by right-to-erasure "
    "contract); probe the live index without a watermark"
)
_ATTRS_STALE = (
    " scanned posting row(s) have no attrs row — "
    "the text attr store is stale (an out-of-band "
    "writer appended postings without their "
    "attrs) and a filtered probe would silently "
    "drop those documents; re-run "
    "build_text_attr_store"
)
_BATCH_ATTRS_STALE = (
    " scanned posting row(s) have no attrs row — "
    "the text attr store is stale; re-run "
    "build_text_attr_store"
)


def _bm25_core(
    spark: SparkSession,
    index_path: str,
    terms: list[str],
    *,
    static: bool = False,
    upto_batch_id: int | None = None,
    attr_pred: F.Column | None = None,
    qterms: DataFrame | None = None,
) -> DataFrame:
    """The one BM25 probe body: ``([qid,] doc_id, n_terms_matched,
    bm25_score)`` per matched doc, unranked.  Every public probe is a
    call into it plus a top-k tail.

    Scan: ``postings`` filtered ``tok IN terms`` (pushed to parquet);
    df from the same scan (merge-on-read, :func:`_merged_vocab`) or,
    ``static``, from the stored vocab; n_docs/total_len from the
    #generations-row ``stats`` fold.  ``upto_batch_id`` partition-prunes
    postings, stats and attrs to ``batch_id <= N``.  ``attr_pred``
    restricts CANDIDATES through the term-filtered postings-layout
    attrs scan (a left-semi join) — df and n_docs/avgdl stay
    corpus-global, so a doc scores the same filtered or not.
    ``qterms`` ``(qid, tok)`` maps a batch's matched rows back to its
    queries (one scan for the whole batch).

    Every guard is lazy and rides the plan (``functions/guards.py``):

    ==============================  ======  ======  ====  ========  =======  =====
    guard (what it refuses)         static  merged  asof  filtered  f. asof  batch
    ==============================  ======  ======  ====  ========  =======  =====
    empty stats table               x       x       x     x         x        x
    duplicated (tok, doc_id) rows   .       x       x     x         x        x
    postings gen without stats      .       x       x     x         x        x
    vocab gen without stats         x       .       .     .         .        .
    stats correction w/o tombstone  x       x       .     x         .        x
    ingested gen (frozen-only)      x       .       .     .         .        .
    correction below a watermark    .       .       x     .         x        .
    posting row without attrs row   .       .       .     x         x        pred
    watermark below attr evolution  .       .       .     .         x        .
    query term outside the literal  .       .       .     .         .        x
    ==============================  ======  ======  ====  ========  =======  =====

    ``bm25_topk_bounded`` is ``merged``; ``pred`` = only with
    ``attr_pred``.  Why each exists:

    * duplicated rows — a doc in two generations (cross-generation
      re-ingest, or a probe racing a crashed compaction) would double
      its score rows; asserted on the df aggregate.
    * postings / vocab generation without stats — a writer crashed
      between its data and (LAST) stats writes; replay heals.
    * correction without tombstone — ``delete_docs`` crashed between
      its stats correction and its tombstone commit, so the corrected
      rollup is live while the doomed postings still score.
    * ingested generation — the static probe's stored vocab/stats are
      only valid for the frozen build plus erasure corrections (which
      the merge-on-read sums fold exactly); asserted on the stats fold
      (any completed ingest) and on the scanned postings (an ingest
      that crashed before its stats row).
    * correction below a watermark — erasure is destructive by
      contract; a correction's deltas are global, so no earlier view
      is reconstructible.  Corrections are negative generations, below
      every non-negative watermark, so this refuses every store the
      correction-commit guard would: a watermarked probe drops that
      guard.
    * attrs coverage — the attrs store is delta-maintained by the
      ingest/delete/upsert ops; this is the tripwire for out-of-band
      writes.
    * attr evolution — ``add_doc_attr_column`` backfilled the new
      column into every historical generation, so a filtered view
      below the evolve generation never existed.

    Coverage, stated plainly: the row guards are candidate-scoped
    (they see the term-filtered scan), so a duplicated doc none of
    whose terms match the query is not probe-detected — its only
    effect is an n_docs/total_len overcount in the global stats; the
    ingest sink's doc_id-uniqueness check (streaming/text_ingest.py)
    enforces the contract at write time, and compaction heals it."""
    keys = ("qid",) if qterms is not None else ()
    fields = (("qid", "bigint"),) * len(keys) + _SCORED
    in_terms = F.col("tok").isin(terms)
    postings = spark.read.parquet(f"{index_path}/postings").where(in_terms)
    stats_rows = spark.read.parquet(f"{index_path}/stats")
    attrs = (
        spark.read.parquet(f"{index_path}/attrs").where(in_terms)
        if attr_pred is not None
        else None
    )
    guards = []
    if upto_batch_id is not None:
        wm = F.col("batch_id") <= F.lit(int(upto_batch_id))
        postings = postings.where(wm)
        stats_rows = stats_rows.where(wm)
        if attrs is not None:
            attrs = attrs.where(wm)
            guards += _attr_evolution_guard(
                spark, index_path, int(upto_batch_id), fields
            )
    stats = _merged_stats(stats_rows.drop("batch_id"))
    if static:
        vocab = _stored_vocab(spark, index_path, terms, stats_rows)
        stats = _refusing_stats(
            stats,
            stats_rows.agg(F.max("batch_id").alias("_g")),
            F.col("_g") == F.lit(FROZEN_BATCH_ID),
            F.concat(
                F.lit("text index static probe: the index holds generation "),
                F.col("_g").cast("string"),
                F.lit(
                    " beyond the frozen build — the snapshot vocab/stats "
                    "are stale; probe with bm25_topk_merged (or compact "
                    "and rebuild the snapshot)"
                ),
            ),
        )
    else:
        vocab = _merged_vocab(postings)
        guards.append(_generation_coverage_guard(postings, stats_rows, fields))
        if upto_batch_id is not None:
            stats = _refusing_stats(
                stats,
                stats_rows.agg(F.min("n_docs").alias("_g")),
                F.col("_g") >= 0,
                F.lit(
                    _FILTERED_ASOF_ERASED if attrs is not None
                    else _ASOF_ERASED
                ),
            )
    if upto_batch_id is None:
        guards.append(
            _correction_commit_guard(spark, index_path, stats_rows, fields)
        )
    scoring = postings
    if attrs is not None:
        allowed = attrs.where(attr_pred).select("doc_id").distinct()
        uncovered = (
            postings.select("tok", "doc_id")
            .join(
                attrs.select("tok", "doc_id"), ["tok", "doc_id"], "left_anti"
            )
            .agg(F.count(F.lit(1)).cast("long").alias("_nu"))
        )
        guards.append(
            guard_branch(
                uncovered,
                F.col("_nu") == 0,
                F.concat(
                    F.col("_nu").cast("string"),
                    F.lit(_BATCH_ATTRS_STALE if keys else _ATTRS_STALE),
                ),
                fields,
            )
        )
        scoring = postings.join(allowed, "doc_id", "left_semi")
    if qterms is not None:
        scoring = scoring.join(F.broadcast(qterms), "tok")
    scored = (
        scoring.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(stats))
        .select(
            *keys, "doc_id", "tok", bm25_score_expr().alias("sc"), "batch_id"
        )
    )
    for g in guards:
        scored = scored.unionByName(g)
    # the generation max shares the groupBy, so the static probe's
    # scanned-postings guard costs no extra aggregate
    agg = scored.groupBy(*keys, "doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms_matched"),
        F.max("batch_id").alias("_mb"),
        dsum(F.col("sc"), "bm25_score"),
    )
    n_terms = F.col("n_terms_matched")
    if static:
        n_terms = guard_rider(
            n_terms,
            F.col("_mb") == F.lit(FROZEN_BATCH_ID),
            F.concat(
                F.lit("text index static probe: scanned postings include "
                      "generation "),
                F.col("_mb").cast("string"),
                F.lit(
                    " beyond the frozen build (an ingest sink wrote "
                    "postings here) — the snapshot vocab/stats are stale; "
                    "probe with bm25_topk_merged"
                ),
            ),
            "int",
        )
    return agg.select(
        *keys, "doc_id", n_terms.alias("n_terms_matched"), "bm25_score"
    )


def _topk(matched: DataFrame, k: int) -> DataFrame:
    """The single-query tail: best score first, ties by doc_id."""
    return matched.orderBy(F.desc("bm25_score"), F.asc("doc_id")).limit(k)


def _refusing_stats(
    stats: DataFrame, probe: DataFrame, ok: F.Column, message: F.Column
) -> DataFrame:
    """The 1-row stats side with a refusal riding ``n_docs``: ``ok``
    is evaluated on the 1-row ``probe`` aggregate of the stats rows."""
    return stats.crossJoin(probe).select(
        guard_rider(F.col("n_docs"), ok, message, "bigint").alias("n_docs"),
        "total_len",
    )


def bm25_topk(
    spark: SparkSession, index_path: str, terms: list[str], k: int
) -> DataFrame:
    """BM25 top-k over the STORED index for a bag of query terms,
    using the stored vocab/stats — valid only while the index holds
    nothing beyond the frozen generation (plus erasure correction
    generations, whose vocab/stats deltas the merge-on-read sums fold
    in exactly).  The postings/vocab scans are filtered ``tok IN
    terms`` (pushed to parquet); documents and doclens are never read;
    ``dl`` comes off the posting rows.  Refuses an ingested index
    (guards: :func:`_bm25_core`); use :func:`bm25_topk_merged` there."""
    return _topk(_bm25_core(spark, index_path, terms, static=True), k)


def bm25_topk_merged(
    spark: SparkSession, index_path: str, terms: list[str], k: int
) -> DataFrame:
    """:func:`bm25_topk` with df/stats derived MERGE-ON-READ from the
    generational store — the probe for an index that has ingested
    batches since its build.

    Probe cost: df comes from the SAME term-filtered postings scan the
    scoring uses (pushed ``tok IN`` predicate — only matching rows);
    n_docs/total_len sum the per-generation ``stats`` rows (one row
    per generation, folded back toward 1 by compact_text_index).  No
    per-document relation is read — ``dl`` rides the posting rows
    (round-7 denormalization; round 6 scanned doclens twice here).
    Guards: :func:`_bm25_core`."""
    return _topk(_bm25_core(spark, index_path, terms), k)


def _merged_vocab(postings: DataFrame) -> DataFrame:
    """df per term from the term-filtered postings scan, with the
    per-(tok, doc) row uniqueness contract asserted on the same
    aggregate: count(*) must equal count_distinct(doc_id) per term or
    a doc's score rows are silently duplicated.  df is a grouped count
    (provably non-null), so the "+"-rider form is safe here (round-6
    lesson #2)."""
    return (
        postings.groupBy("tok")
        .agg(
            F.count_distinct(F.col("doc_id")).cast("bigint").alias("_df"),
            F.count(F.lit(1)).cast("bigint").alias("_rows"),
        )
        .select(
            "tok",
            guard_rider(
                F.col("_df"),
                F.col("_rows") == F.col("_df"),
                F.concat(
                    F.lit("text index probe: term '"),
                    F.col("tok"),
                    F.lit("' has "),
                    (F.col("_rows") - F.col("_df")).cast("string"),
                    F.lit(
                        " duplicated (tok, doc_id) posting "
                        "row(s) — a doc was re-ingested under a "
                        "new generation or a compaction crashed "
                        "mid-fold; re-run compact_text_index "
                        "before probing"
                    ),
                ),
                "bigint",
            ).alias("df"),
        )
    )


def _generation_coverage_guard(
    scanned: DataFrame,
    stats_rows: DataFrame,
    fields: tuple[tuple[str, str], ...],
    what: str = "postings",
) -> DataFrame:
    """Guard branch: every batch_id in the ``scanned`` relation
    (term-filtered postings, or the term-filtered vocab scan) must
    have a stats row, or a writer's crash window between its data and
    stats writes would silently score against a rollup that does not
    match (an ingest sink crashed before its stats row; an erasure
    crashed between its vocab-delta and stats-correction writes).
    Distinct-batch_id over a term-filtered scan is a
    partition-column-only aggregate."""
    missing = (
        scanned.select("batch_id")
        .distinct()
        .join(stats_rows.select("batch_id"), "batch_id", "left_anti")
        .agg(F.count(F.lit(1)).cast("int").alias("_nm"))
    )
    return guard_branch(
        missing,
        F.col("_nm") == 0,
        F.concat(
            F.col("_nm").cast("string"),
            F.lit(
                f" index generation(s) have {what} but no "
                "stats row — a writer crashed between its "
                f"{what} and stats writes; replay the batch "
                "(or re-run the erasure — both are idempotent) "
                "before probing"
            ),
        ),
        fields,
    )


def _correction_commit_guard(
    spark: SparkSession,
    index_path: str,
    stats_rows: DataFrame,
    fields: tuple[tuple[str, str], ...],
) -> DataFrame:
    """Guard branch closing the delete_docs crash window: the erasure
    writes vocab delta -> stats correction -> tombstones (commit
    marker LAST), so a crash between the stats write and the tombstone
    commit leaves the corrected n_docs/total_len LIVE while the doomed
    postings still score — and neither coverage guard trips (the
    correction generation HAS its stats row; it has no postings).
    Every stats CORRECTION generation (``n_docs < 0`` — structural
    generations are always non-negative) must have its tombstone
    partition; re-running the same delete_docs heals (the orphan
    correction is overwritten in place and the tombstone lands).

    Cost: the stats scan the probe already pays (generations-sized) +
    one read of the metadata-sized tombstones table.  The table-
    existence branch is plan-time (read_store_or_none — fail-closed on
    any non-missing-path read error)."""
    from ..streaming.compaction import read_store_or_none

    corr = (
        stats_rows.where(F.col("n_docs") < 0)
        .select("batch_id")
        .distinct()
    )
    tombs = read_store_or_none(spark, f"{index_path}/tombstones")
    if tombs is not None:
        corr = corr.join(
            tombs.select("batch_id").distinct(), "batch_id", "left_anti"
        )
    return guard_branch(
        corr.agg(F.count(F.lit(1)).cast("int").alias("_nm")),
        F.col("_nm") == 0,
        F.concat(
            F.col("_nm").cast("string"),
            F.lit(
                " stats correction generation(s) have no "
                "tombstone commit partition — a delete_docs "
                "call crashed between its stats-correction "
                "write and its tombstone commit, so the "
                "corrected rollup is live while the doomed "
                "postings still score; re-run the same "
                "delete_docs before probing"
            ),
        ),
        fields,
    )


def _attr_evolution_guard(
    spark: SparkSession,
    index_path: str,
    upto_batch_id: int,
    fields: tuple[tuple[str, str], ...],
) -> list[DataFrame]:
    """The filtered as-of refusal below an attr-evolution marker
    (add_doc_attr_column), as a 0- or 1-element guard list: an absent
    marker store means no evolution ever ran (plan unchanged); the
    store is metadata-sized when present."""
    from ..streaming.compaction import read_store_or_none

    evo = read_store_or_none(spark, f"{index_path}/attr_evolutions")
    if evo is None:
        return []
    return [
        guard_branch(
            evo.agg(F.max("batch_id").cast("int").alias("_mx")),
            F.coalesce(F.col("_mx") <= F.lit(upto_batch_id), F.lit(True)),
            F.concat(
                F.lit("filtered as-of probe: upto_batch_id="),
                F.lit(str(upto_batch_id)),
                F.lit(" is below attr-evolution generation "),
                F.col("_mx").cast("string"),
                F.lit(
                    " — add_doc_attr_column backfilled "
                    "the new column into every historical "
                    "generation, so this filtered as-of "
                    "view never existed; probe at or "
                    "above the evolve generation, or the "
                    "live index without a watermark"
                ),
            ),
            fields,
        )
    ]


def _stored_vocab(
    spark: SparkSession,
    index_path: str,
    terms: list[str],
    stats_rows: DataFrame,
) -> DataFrame:
    """Merge-on-read ``(tok, df)`` from the generational vocab store:
    the term-filtered (pushed ``tok IN``) scan's per-term ``df`` sum
    over all generations — build snapshot + ingest deltas + erasure
    corrections.  Per-term cost.  Fail-closed: a vocab generation with
    no stats row (an erasure that crashed between its vocab-delta and
    stats-correction writes, or an ingest that crashed before stats)
    raises via the shared coverage guard instead of silently summing a
    half-applied correction."""
    v = spark.read.parquet(f"{index_path}/vocab").where(
        F.col("tok").isin(terms)
    )
    guard = _generation_coverage_guard(
        v,
        stats_rows,
        fields=(("tok", "string"), ("df", "bigint")),
        what="vocab rows",
    )
    return (
        v.groupBy("tok")
        .agg(F.sum("df").cast("bigint").alias("df"))
        .unionByName(guard)
    )


def bm25_topk_asof(
    spark: SparkSession,
    index_path: str,
    terms: list[str],
    k: int,
    upto_batch_id: int,
) -> DataFrame:
    """:func:`bm25_topk_merged` AS OF an ingest-generation watermark —
    the reproducibility probe: "rank against the index exactly as it
    stood after batch N" (training runs pin their retrieval corpus;
    a later re-run must see the same index state).  Implemented as a
    ``batch_id <= upto_batch_id`` filter on the postings AND stats
    scans — ``batch_id`` is the partition column, so time travel is
    literal partition pruning, no extra cost over the live probe.
    The frozen build (-1) and compaction folds (< -1) are always
    below any non-negative watermark, so an as-of probe over a
    compacted store sees the fold (which is exactly the committed
    prefix it represents).  A store that has been ERASED refuses
    (guards: :func:`_bm25_core`)."""
    return _topk(
        _bm25_core(spark, index_path, terms, upto_batch_id=upto_batch_id), k
    )


def hot_term_filter(
    spark: SparkSession,
    index_path: str,
    terms: list[str],
    max_df_frac: float,
) -> tuple[list[str], list[str]]:
    """(kept, dropped) partition of ``terms`` by the stored document
    frequency: a term whose ``df > max_df_frac * n_docs`` is a
    stop-word-shaped HOT term — its posting list is a constant
    fraction of the corpus, so scanning it makes the probe
    quasi-linear in corpus size (the one input shape that defeated the
    term-filtered-scan cost model, VERDICT r7 item 7).  The bound is
    decided BEFORE the postings scan, from the merge-on-read vocab
    (per-term pushed scan) and the generations-count stats rollup —
    the collect here is ≤ len(terms)+1 rows, the metadata-sized
    query-batch shape SCALE.md §1 documents for BM25 serving.

    A term absent from the vocab has df 0 and is kept (its postings
    scan matches nothing).  Dropped terms are reported so callers can
    surface them; scoring semantics are "the query minus its hot
    terms" — the standard stop-word trade, stated plainly."""
    stats_rows = spark.read.parquet(f"{index_path}/stats")
    dfs = (
        _stored_vocab(spark, index_path, terms, stats_rows)
        .crossJoin(
            F.broadcast(_merged_stats(stats_rows.drop("batch_id")))
        )
        .select("tok", "df", "n_docs")
        .collect()
    )
    hot = {
        r["tok"]
        for r in dfs
        if float(r["df"]) > float(max_df_frac) * float(r["n_docs"])
    }
    kept = [t for t in terms if t not in hot]
    dropped = [t for t in terms if t in hot]
    return kept, dropped


def bm25_topk_bounded(
    spark: SparkSession,
    index_path: str,
    terms: list[str],
    k: int,
    max_df_frac: float,
) -> DataFrame:
    """:func:`bm25_topk_merged` behind the hot-term bound: terms whose
    stored df exceeds ``max_df_frac * n_docs`` are dropped BEFORE the
    postings scan, so no single stop-word-shaped term can make the
    probe corpus-length.  The surviving terms probe exactly as
    bm25_topk_merged (same guards, same scoring)."""
    kept, _ = hot_term_filter(spark, index_path, terms, max_df_frac)
    return bm25_topk_merged(spark, index_path, kept, k)


def bm25_batch_topk(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int,
    terms_literal: list[str] | None = None,
    max_df_frac: float | None = None,
    attr_pred: F.Column | None = None,
) -> DataFrame:
    """BM25 top-k for a BATCH of keyword queries ``(qid, terms
    array<string>)`` in ONE pass over the term-filtered postings — the
    text twin of the ANN batch probe (pq_batch_probe_topk): the union
    of the batch's terms filters the postings scan once, the (qid,
    tok) pairs form a small broadcast relation mapping matched rows
    back to their queries, and a per-qid window takes each query's
    top-k.  Serving cost is one term-filtered scan regardless of
    batch size.

    ``terms_literal`` is the union of all queries' terms as a Python
    list, pushed into the parquet scan as an ``IN`` predicate.  When
    None it is collected from ``queries`` first — a driver round-trip
    the STREAMING sink (streaming/text_serve.py) pays once per
    micro-batch, bounded by the batch's query-term vocabulary
    (metadata-sized, the BPE-merge-artifact precedent), because a
    dynamic relation cannot become a parquet pushed filter; batch
    callers with static terms pass the literal and keep the plan
    collect-free.  A query term missing from the literal raises
    instead of silently contributing nothing.

    ``max_df_frac`` applies the hot-term bound (:func:`hot_term_filter`)
    to the batch's term union before the scan: stop-word-shaped terms
    (stored ``df > max_df_frac * n_docs``) are excluded from the
    pushed IN predicate AND exempted from the coverage guard — they
    are dropped by POLICY, not lost by a broken literal.

    ``attr_pred`` makes this the BATCH form of filtered keyword search
    (``bm25_topk_filtered``'s serving twin).  Guards:
    :func:`_bm25_core`."""
    from pyspark.sql import Window

    if terms_literal is None:
        terms_literal = sorted(
            {
                t
                for r in queries.select(
                    F.explode("terms").alias("tok")
                ).distinct().collect()
                for t in [r["tok"]]
            }
        )
    dropped: list[str] = []
    if max_df_frac is not None:
        terms_literal, dropped = hot_term_filter(
            spark, index_path, terms_literal, max_df_frac
        )
    qterms = queries.select(
        "qid", F.explode("terms").alias("tok")
    ).distinct()
    # rides the broadcast-sized qterms relation
    uncovered = (
        qterms.where(~F.col("tok").isin([*terms_literal, *dropped]))
        .agg(F.count(F.lit(1)).cast("int").alias("_nu"))
    )
    qterms = qterms.unionByName(
        guard_branch(
            uncovered,
            F.col("_nu") == 0,
            F.concat(
                F.col("_nu").cast("string"),
                F.lit(
                    " query term(s) are missing from terms_literal "
                    "— the pushed IN filter would silently exclude "
                    "their postings from scoring; pass the union "
                    "of ALL queries' terms (or None to derive it)"
                ),
            ),
            (("qid", "bigint"), ("tok", "string")),
        )
    )
    matched = _bm25_core(
        spark, index_path, terms_literal, attr_pred=attr_pred, qterms=qterms
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("bm25_score"), F.asc("doc_id")
    )
    return (
        matched.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("qid", "doc_id", "n_terms_matched", "bm25_score", "rank")
    )


def build_text_attr_store(
    spark: SparkSession, attrs: DataFrame, index_path: str
) -> None:
    """Persist a filterable-attribute side store for the text index in
    POSTINGS LAYOUT — one row per stored ``(tok, doc_id)`` pair,
    carrying the doc's metadata columns, partitioned by ``batch_id``
    exactly like the postings (VERDICT r9 item 3: the
    ``operators/ann_index.build_attr_store`` pattern transplanted).
    Denormalizing the attrs per posting row is the same trade as the
    round-7 ``dl`` move: a filtered probe's metadata scan is then
    TERM-FILTERED (``tok IN terms`` + the predicate, both pushed to
    parquet) — per-term cost, never a corpus-wide metadata join.

    ``attrs`` is ``(doc_id, <metadata columns...>)``.  Coverage is
    fail-closed at build: every stored posting row must find its doc's
    attrs row (the when-owned per-row assert) or it raises instead of
    silently vanishing from every future filtered probe.

    BOOTSTRAP (and out-of-band-repair) path only: once the store
    exists, the ingest/delete/upsert ops (streaming/text_ingest.py)
    maintain it delta-shaped — each batch's attr-posting rows ride the
    batch into its own generation partition."""
    postings = spark.read.parquet(f"{index_path}/postings").select(
        "tok", "doc_id", "batch_id"
    )
    tagged = attrs.withColumn("_present", F.lit(1))
    joined = postings.join(tagged, "doc_id", "left")
    guarded_doc = F.when(
        F.col("_present").isNull(),
        F.assert_true(
            F.col("_present").isNotNull(),
            F.concat(
                F.lit("text attr store build: stored posting doc_id="),
                F.col("doc_id").cast("string"),
                F.lit(
                    " has no attrs row — a filtered probe would "
                    "silently drop it; supply attrs for every "
                    "indexed document"
                ),
            ),
        ).cast("long"),
    ).otherwise(F.col("doc_id"))
    write_generation(
        joined.select(
            "tok",
            guarded_doc.alias("doc_id"),
            "batch_id",
            *[c for c in attrs.columns if c != "doc_id"],
        ),
        f"{index_path}/attrs",
    )

def bm25_topk_filtered(
    spark: SparkSession,
    index_path: str,
    terms: list[str],
    k: int,
    attr_pred: F.Column,
    upto_batch_id: int | None = None,
) -> DataFrame:
    """FILTERED keyword search: :func:`bm25_topk_merged` restricted to
    documents whose attr rows satisfy ``attr_pred`` — the "search
    within lang='en'" query every retrieval stack serves daily, on the
    text side (the ANN twin is ``ann_index.pq_filtered_topk``).

    Semantics (the standard filtered-search contract, replayed by the
    DuckDB oracle): the predicate restricts CANDIDATES, not
    statistics — df and n_docs/avgdl stay corpus-global, so a doc's
    score is identical filtered or not and the filtered ranking is
    exactly the unfiltered ranking restricted to matching docs.

    Scale shape: the attrs scan is TERM-FILTERED exactly like the
    postings scan (``tok IN terms`` pushed to parquet — the
    postings-layout denormalization bought this) with ``attr_pred``
    pushed into the same scan; the candidate restriction is a
    left-semi join between two term-filtered relations.  No
    corpus-wide metadata join exists in the plan (pinned by pytest).

    ``upto_batch_id`` composes filtered search with AS-OF time travel
    ("rank within lang='en' exactly as the index stood after batch
    N"): the watermark partition-prunes the postings, attrs AND stats
    scans (attrs ride the same ``batch_id`` generations, so one
    committed prefix covers both), df derives from the watermarked
    scan, and — like ``bm25_topk_asof`` — an ERASED store refuses.
    Guards: :func:`_bm25_core`."""
    return _topk(
        _bm25_core(
            spark,
            index_path,
            terms,
            upto_batch_id=upto_batch_id,
            attr_pred=attr_pred,
        ),
        k,
    )


# --- per-generation doc_id Bloom artifact (round 11) -------------------
#
# The ingest sink's doc_id-uniqueness gate anti-joined every batch
# against the FULL doclens store — the last corpus-length scan on a
# hot WRITE path (at 10^9 docs: a corpus scan per micro-batch).  Each
# generation now also stores a tiny Bloom filter of its doc_ids
# (sparse (w, bits) long words, ~2 bytes/doc); the gate tests the
# batch against the stored blooms via a broadcast join (metadata-sized
# side) and touches doclens only for the (normally empty) maybe-hit
# set.  Over-approximation is always SAFE here: a stale bloom (erased
# docs, crashed writes) only costs an extra narrow doclens probe that
# finds nothing; a generation MISSING its bloom row falls back to the
# full anti-join — so the gate's fail-closed contract is unchanged.
# Write-path internals only: never part of an oracle-checked plan, so
# the hash functions are free to use conv() (no DuckDB twin needed).

IDBLOOM_WORD = 64   # bits per stored word
IDBLOOM_K = 3       # hash positions per id


def idbloom_m(n_ids: int) -> int:
    """Bits for a generation of ``n_ids`` docs: ~16 bits/id (<1% FP at
    k=3), power of two, floored at 1024 and capped at 2^26 (8 MB of
    bits — beyond that the fallback scan is cheap relative to the
    generation anyway)."""
    m = 1024
    while m < 16 * max(int(n_ids), 1) and m < (1 << 26):
        m *= 2
    return m


def _idbloom_pos(h: F.Column, j: int, m: int) -> F.Column:
    """Position j from 8 hex chars of the id's md5 (16^8 = 4.3e9
    combinations — never the resolution cap for any allowed m)."""
    return F.conv(F.substring(h, j * 8 + 1, 8), 16, 10).cast(
        "long"
    ) % F.lit(int(m))


def idbloom_rows(ids: DataFrame, m: int) -> DataFrame:
    """Sparse Bloom words ``(w, bits, m)`` for a ``(doc_id)`` relation
    — a batch-local aggregate (explode k positions, bit_or per word);
    absent words are implicitly zero."""
    h = F.md5(F.col("doc_id").cast("string"))
    pos = ids.select(
        F.explode(
            F.array(*[_idbloom_pos(h, j, m) for j in range(IDBLOOM_K)])
        ).alias("pos")
    )
    return (
        pos.groupBy((F.col("pos") / IDBLOOM_WORD).cast("int").alias("w"))
        .agg(
            F.bit_or(
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    (F.col("pos") % IDBLOOM_WORD).cast("int"),
                )
            ).alias("bits")
        )
        .select("w", "bits", F.lit(int(m)).alias("m"))
    )


def write_idbloom(
    spark: SparkSession,
    index_path: str,
    ids: DataFrame,
    batch_id: int,
    n_docs: int | None = None,
) -> None:
    """Persist one generation's id bloom (dynamic partition overwrite
    — replay overwrites only itself, like every other store table).

    ``n_docs`` sizes the filter; pass a count the caller already
    materialized (the generation's stats row) to avoid a duplicate
    pass over ``ids`` on the hot write path (ADVICE r11).  An
    over-estimate is safe (larger m → lower false-positive rate)."""
    n = int(n_docs) if n_docs is not None else ids.count()
    write_generation(
        idbloom_rows(ids, idbloom_m(n))
        .withColumn("batch_id", F.lit(int(batch_id))),
        f"{index_path}/idbloom",
    )
