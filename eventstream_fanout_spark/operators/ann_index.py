"""Persisted PQ/IVF ANN index — build once, probe many (VERDICT r5
item 2).

Every registered ANN query until round 5 re-encoded / re-fit its index
inside the query plan — right for oracle-checking, wrong as the
production shape: at 100 TB the index is an ARTIFACT.  This module
persists it as warehouse tables and probes the stored form:

* ``codes``     — one row per corpus vector: ``(vec_id, list_id,
  codes array<int>)``, partitioned by ``(batch_id, list_id)``.  The 8
  subspace codes are the vector's entire index footprint (8 bytes at a
  tinyint encoding — the PQ memory bound); ``list_id`` is its IVF
  coarse cell, so an nprobe probe is PARTITION PRUNING on the codes
  scan.  ``batch_id`` keys incremental appends exactly like the dedup
  signature store (streaming/ann_ingest.py): the static build writes
  the frozen generation ``batch_id = -1``, streamed batches append
  under their own id, replay overwrites only itself.
* ``codebook``  — the 64 per-subspace PQ centroids ``(cid, s, ce)``.
* ``centroids`` — the 8 IVF coarse centroids ``(cid, ce)``.

Probe cost model: the query builds a 64-entry broadcast distance table
from ``codebook``, selects nprobe lists via the broadcast ``centroids``
(partition-pruning the codes scan), and ADC-scans ONLY stored codes —
no embedding is re-encoded in-plan (the encode subtree exists solely
at build/ingest time).  All distances are the exact-BIGINT
nano-quantized sums shared with plans/similarity_queries.py, so the
persisted index is bit-identical to the in-plan encode and the DuckDB
oracle replays it.

Reference parity note: the reference has no ANN surface at all (its
whole engine is reference pipeline/app.py:1-115); this is north-star
extension surface (SURVEY.md §2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.guards import guard_branch, guard_rider
from ..streaming.compaction import write_generation
from .similarity import ivf_assign, ivf_centroids

PQ_SUBS = 8     # subspaces
PQ_SUBDIM = 8   # dims per subspace (8 x 8 = 64 = EMBED_DIM)
FROZEN_BATCH_ID = -1  # the static build's generation

CODES_SCHEMA = "vec_id long, list_id long, codes array<int>"


def pq_subspaces(df: DataFrame) -> DataFrame:
    """Explode ``embedding`` into (vec_id, s, sub) subspace slices."""
    return df.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("embedding"), s * PQ_SUBDIM + 1, PQ_SUBDIM)
                    for s in range(PQ_SUBS)
                ]
            )
        ).alias("s", "sub"),
    )


def l2q(a: F.Column, b: F.Column) -> F.Column:
    """Exact BIGINT sum of nano-quantized squared differences."""
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: F.floor(
            (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
            * F.lit(1e9)
            + F.lit(0.5)
        ).cast("long"),
    )
    return F.aggregate(diffs, F.lit(0).cast("long"), lambda acc, v: acc + v)


def pq_codebook(emb: DataFrame) -> DataFrame:
    """The 64-row per-subspace PQ codebook: seed rows 10..17 sliced per
    subspace (deterministic, oracle-replayable — the PQ analogue of
    ivf_centroids' seed stand-in; production fits it by k-means per
    subspace and ships the same 64-row artifact)."""
    return pq_subspaces(
        emb.where((F.col("vec_id") >= 10) & (F.col("vec_id") <= 17))
    ).select(F.col("vec_id").alias("cid"), "s", F.col("sub").alias("ce"))


def pq_fit_codebook(corpus: DataFrame, n_iters: int = 1) -> DataFrame:
    """Fitted PQ sub-quantizer: per-subspace Lloyd k-means over the
    corpus slices, initialized from the seed codebook — the PQ twin of
    ``similarity.ivf_fit_centroids`` (same quantized-integer means,
    same lazy persist-per-iteration, same (cid, s, ce) output shape,
    so ``build_pq_index(codebook=...)`` persists it unchanged).  With
    this plus the fitted coarse centroids, BOTH quantizer artifacts of
    the production index are k-means products.

    Scale shape per iteration: broadcast the 64-row codebook, one
    corpus-slice scan to assign (pure map + argmin agg), element-wise
    means via posexplode → (s, cid, pos) partial-agg — 8*8*8 aggregate
    rows total.  Deterministic: fixed init, fixed iteration count,
    integer-exact means (the dsum lesson), no RNG — the DuckDB oracle
    replays the fit bit-for-bit."""
    cb = pq_codebook(corpus)
    sub = pq_subspaces(corpus)
    for _ in range(n_iters):
        scored = sub.join(F.broadcast(cb), "s").select(
            "vec_id", "s", "cid", l2q(F.col("sub"), F.col("ce")).alias("d")
        )
        assign = (
            scored.groupBy("vec_id", "s")
            .agg(
                F.max(
                    F.struct(
                        (-F.col("d")).alias("nd"),
                        (-F.col("cid")).alias("ncid"),
                    )
                ).alias("m")
            )
            .select("vec_id", "s", (-F.col("m.ncid")).alias("cid"))
        )
        members = sub.join(assign, ["vec_id", "s"]).select(
            "s", "cid", F.posexplode(F.col("sub")).alias("pos", "x")
        )
        means = members.groupBy("s", "cid", "pos").agg(
            (
                F.sum(
                    F.floor(
                        F.col("x").cast("double") * F.lit(1e9) + F.lit(0.5)
                    ).cast("long")
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1e9)
            ).alias("v")
        )
        fitted = means.groupBy("s", "cid").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("v")))
                ),
                lambda st: st.getField("v").cast("float"),
            ).alias("ce_new")
        )
        cb = (
            cb.join(fitted, ["s", "cid"], "left")
            .select(
                "cid",
                "s",
                F.coalesce(F.col("ce_new"), F.col("ce")).alias("ce"),
            )
            # lazy cache per iteration — fit-on-first-action, the
            # ivf_fit_centroids round-7 contract (plan construction
            # runs zero jobs; each iteration materializes once)
            .persist()
        )
    return cb


def encode_pq_codes(
    vectors: DataFrame, codebook: DataFrame, centroids: DataFrame
) -> DataFrame:
    """Encode ``(vec_id, embedding)`` rows into index rows
    ``(vec_id, list_id, codes)``.

    Scale shape: broadcast the 64-row codebook, argmin per (vector,
    subspace) via a map-side-combining groupBy, pack the 8 codes into
    one s-ordered array (the array_sort(collect_list(struct)) pattern
    — deterministic), then one more broadcast map for the IVF list
    assignment.  Per-vector output is ~8 bytes of codes + two longs;
    no vector-vs-vector join anywhere."""
    sub = pq_subspaces(vectors)
    scored = sub.join(F.broadcast(codebook), "s").select(
        "vec_id", "s", "cid", l2q(F.col("sub"), F.col("ce")).alias("d")
    )
    codes = (
        scored.groupBy("vec_id", "s")
        .agg(
            F.max(
                F.struct(
                    (-F.col("d")).alias("nd"), (-F.col("cid")).alias("ncid")
                )
            ).alias("m")
        )
        .select("vec_id", "s", (-F.col("m.ncid")).cast("int").alias("code"))
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("s"), F.col("code")))
                ),
                lambda st: st.getField("code"),
            ).alias("codes")
        )
    )
    assign = ivf_assign(vectors, centroids)
    return codes.join(assign, "vec_id").select("vec_id", "list_id", "codes")


def build_pq_quantizer(
    spark: SparkSession,
    emb: DataFrame,
    index_path: str,
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> None:
    """Persist ONLY the quantizer artifacts (codebook + centroids) — a
    fresh index with no corpus yet.  This is the starting state of a
    dedup-gated ingest (streaming/vector_dedup.py treats a missing
    codes table as an empty store): the first admitted batch founds
    the codes store, and every vector that ever enters it has passed
    the gate."""
    if codebook is None:
        codebook = pq_codebook(emb)
    if centroids is None:
        centroids = ivf_centroids(emb)
    codebook.write.mode("overwrite").parquet(f"{index_path}/codebook")
    centroids.write.mode("overwrite").parquet(f"{index_path}/centroids")


def build_pq_index(
    spark: SparkSession,
    emb: DataFrame,
    index_path: str,
    corpus: DataFrame | None = None,
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> None:
    """Write the full index (codes + codebook + centroids).

    ``corpus`` optionally narrows which vectors get ENCODED into the
    initial frozen generation (the incremental-ingest sims index a
    subset at build time and stream the rest in later) — default: all
    of ``emb`` except the query row 0, matching the registered ANN
    queries.  ``centroids``/``codebook`` override the quantizer
    artifacts — pass ``ivf_fit_centroids(...)`` output (or any k-means
    product with the (cid, ce) / (cid, s, ce) shapes) to persist a
    FITTED index; the default is the deterministic seed quantizer the
    oracles replay."""
    if codebook is None:
        codebook = pq_codebook(emb)
    if centroids is None:
        centroids = ivf_centroids(emb)
    build_pq_quantizer(
        spark, emb, index_path, centroids=centroids, codebook=codebook
    )
    if corpus is None:
        corpus = emb.where(F.col("vec_id") != 0)
    corpus = corpus.select("vec_id", "embedding")
    write_generation(
        encode_pq_codes(corpus, codebook, centroids)
        .withColumn("batch_id", F.lit(FROZEN_BATCH_ID)),
        f"{index_path}/codes",
        "batch_id",
        "list_id",
    )


def read_index(
    spark: SparkSession, index_path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(codes, codebook, centroids) relations of a stored index."""
    return (
        spark.read.parquet(f"{index_path}/codes"),
        spark.read.parquet(f"{index_path}/codebook"),
        spark.read.parquet(f"{index_path}/centroids"),
    )


def _manifest_rows(rows: DataFrame, centroids: DataFrame) -> DataFrame:
    """Restrict an index-layout relation (codes or attrs) to lists
    present in the centroids table — the LIST MANIFEST invariant
    (round 12, split_list): rows under a list_id the centroids table
    does not name are not part of the index.  Integer-nprobe probes
    enforce this for free (their coarse ranking only ever selects
    manifest cids); exhaustive (nprobe=None) scans apply this
    broadcast semi-join so that split_list's staged rewrites — new
    lists written before the centroid-swap commit, the old list's
    rows awaiting cleanup after it — are invisible at every probe
    shape, in every crash window.  Cost: a ~k-row broadcast hash
    semi-join riding the scan."""
    return rows.join(
        F.broadcast(centroids.select(F.col("cid").alias("_mcid"))),
        F.col("list_id") == F.col("_mcid"),
        "left_semi",
    )


# Columns of a single probe's scored relation and of a batch probe's;
# every guard branch is shaped to one of them.
_SINGLE = (("vec_id", "long"), ("list_id", "long"), ("adc_dist", "bigint"))
_BATCH = (("qid", "long"), ("vec_id", "long"), ("adc_dist", "bigint"))

_ATTRS_STALE = (
    " stored code row(s) in the probed lists have "
    "no attrs row — the attr store is stale (a "
    "streamed ingest or upsert_vectors landed "
    "since it was built) and a filtered probe "
    "would silently drop those vectors; re-run "
    "build_attr_store"
)
_BATCH_ATTRS_STALE = (
    " stored code row(s) in the probed lists have "
    "no attrs row — the attr store is stale (an "
    "out-of-band write bypassed the delta-"
    "maintaining sinks) and a filtered batch probe "
    "would silently drop those vectors; re-run "
    "build_attr_store"
)


def _codebook_guard(
    codebook: DataFrame, fields: tuple[tuple[str, str], ...] = _SINGLE
) -> DataFrame:
    """Guard branch: the stored codebook must hold exactly PQ_SUBS x 8
    entries or the probe raises at execution instead of returning a
    silently empty/garbage top-k."""
    expected = PQ_SUBS * 8
    return guard_branch(
        codebook.agg(F.count(F.lit(1)).cast("int").alias("_ncent")),
        F.col("_ncent") == expected,
        F.concat(
            F.lit("persisted PQ codebook has "),
            F.col("_ncent").cast("string"),
            F.lit(
                f" entries, expected {expected} — the index "
                "artifact is broken or was built from a corpus "
                "lacking the seed vec_ids; rebuild before probing"
            ),
        ),
        fields,
    )


def _adc_sum_with_row_guard() -> F.Column:
    """``adc_dist`` from the ``(_sum, _n)`` aggregate, with the
    generation-uniqueness contract riding the sum: every vector must
    contribute exactly PQ_SUBS code rows.  A vec_id present in TWO
    index generations (a re-ingested vector violating the
    unique-vector contract, or a probe racing a crashed compaction)
    would silently DOUBLE its summed distance and sink in the ranking
    — raise instead.  The count shares the existing groupBy."""
    return guard_rider(
        F.col("_sum"),
        F.col("_n") == F.lit(PQ_SUBS),
        F.concat(
            F.lit("ANN index probe: vec_id "),
            F.col("vec_id").cast("string"),
            F.lit(" has "),
            F.col("_n").cast("string"),
            F.lit(
                f" code rows, expected {PQ_SUBS} — the vector "
                "exists in multiple index generations "
                "(re-ingested id or crashed compaction); "
                "re-run compact_index before probing"
            ),
        ),
        "bigint",
    )


def adc_scores_from_index(
    codes: DataFrame, codebook: DataFrame, query: DataFrame
) -> DataFrame:
    """(vec_id, list_id, adc_dist) for every stored code row: unpack
    the 8-byte code array and sum the broadcast 64-entry query distance
    table — per stored vector the cost is 8 lookups + a sum; embeddings
    are never touched (asymmetric distance computation on the stored
    form).  Includes the lazy codebook guard."""
    qtable = (
        pq_subspaces(query.select(F.lit(0).alias("vec_id"), "embedding"))
        .join(F.broadcast(codebook), "s")
        .select(
            F.col("s").alias("qs"),
            F.col("cid").alias("qcid"),
            l2q(F.col("sub"), F.col("ce")).alias("qd"),
        )
    )
    unpacked = codes.select(
        "vec_id", "list_id", F.posexplode(F.col("codes")).alias("s", "code")
    )
    agg = (
        unpacked.join(
            F.broadcast(qtable),
            (F.col("s") == F.col("qs"))
            & (F.col("code").cast("long") == F.col("qcid")),
        )
        .groupBy("vec_id", "list_id")
        .agg(
            F.sum("qd").alias("_sum"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    return agg.select(
        "vec_id",
        "list_id",
        _adc_sum_with_row_guard().alias("adc_dist"),
    ).unionByName(_codebook_guard(codebook))


def batch_probe_lists(
    queries: DataFrame, centroids: DataFrame, nprobe: int
) -> DataFrame:
    """``(qid, probe_cid)``: each query's ``nprobe`` nearest coarse
    lists — the per-query coarse ranking over the broadcast centroid
    table, |batch| x nprobe rows total.  This small relation is what
    prunes the batch probe's codes scan (VERDICT r6 item 1): the
    single-probe nprobe selection (``pq_probe_topk``) generalized to a
    batch via a per-qid window instead of a global limit."""
    from pyspark.sql import Window

    from ..functions.vectors import cosine

    ranked = (
        queries.select("qid", F.col("embedding").alias("qe"))
        .crossJoin(F.broadcast(centroids))
        .select("qid", "cid", cosine(F.col("qe"), F.col("ce")).alias("qcos"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("qcos"), F.asc("cid"))
    return (
        ranked.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= nprobe)
        .select("qid", F.col("cid").alias("probe_cid"))
    )


def _attrs_restrict(
    codes: DataFrame,
    attrs: DataFrame,
    attr_pred: F.Column,
    message: str,
    fields: tuple[tuple[str, str], ...],
) -> tuple[DataFrame, DataFrame]:
    """(restricted codes, coverage guard): ``codes`` semi-joined to the
    attr-allowed vec_ids, plus the guard branch raising when any code
    row in the (already list-pruned) relation has no attrs twin — a
    vec_id-only projection of the same pruned attrs scan, so the check
    costs touched lists, not corpus."""
    allowed = attrs.where(attr_pred).select("vec_id")
    uncovered = (
        codes.select("vec_id")
        .join(attrs.select("vec_id"), "vec_id", "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("_nu"))
    )
    guard = guard_branch(
        uncovered,
        F.col("_nu") == 0,
        F.concat(F.col("_nu").cast("string"), F.lit(message)),
        fields,
    )
    return codes.join(allowed, "vec_id", "left_semi"), guard


def pq_batch_probe_topk(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int,
    nprobe: int | None = None,
    attr_pred: F.Column | None = None,
) -> DataFrame:
    """ADC top-k for a BATCH of queries ``(qid, embedding)`` in one
    pass over the stored codes — the production serving shape: the
    per-query 64-entry distance tables concatenate into one broadcast
    relation (64 x |batch| rows), the codes scan runs ONCE, and a
    per-qid window takes each query's top-k.  Cost is one index scan
    regardless of batch size, vs |batch| scans for repeated single
    probes.

    ``nprobe=None`` scans all codes (pure PQ).  An integer restricts
    each query to its nprobe nearest coarse lists: the per-query
    (qid, list) probe pairs form a broadcast relation joined against
    the codes scan on its ``list_id`` PARTITION column, so the scan
    prunes to the union of touched lists (dynamic partition pruning —
    plan pinned by tests/test_ann_index.py) and per-batch cost is
    |touched lists' codes|, not |corpus|.

    ``attr_pred`` makes this the BATCH form of filtered vector search
    (``pq_filtered_topk``'s serving twin): the attrs side store prunes
    to the union of the batch's probed lists, the predicate pushes
    into that pruned scan, and the codes restriction is a vec_id
    semi-join — the per-query (qid, list) pairing already guarantees a
    vector only scores for queries that probed its list, so the shared
    allowed-set is exact.  Guards: :func:`_pq_topk`."""
    from pyspark.sql import Window

    codes, codebook, centroids = read_index(spark, index_path)
    attrs = (
        spark.read.parquet(f"{index_path}/attrs")
        if attr_pred is not None
        else None
    )
    qtable = (
        pq_subspaces(queries.select(F.col("qid").alias("vec_id"), "embedding"))
        .join(F.broadcast(codebook), "s")
        .select(
            F.col("vec_id").alias("tqid"),
            F.col("s").alias("qs"),
            F.col("cid").alias("qcid"),
            l2q(F.col("sub"), F.col("ce")).alias("qd"),
        )
    )
    guards = [_codebook_guard(codebook, _BATCH)]
    if nprobe is None:
        # every (query, stored vector) pair scores — restricted to
        # the list manifest (split_list invariant, _manifest_rows)
        base = _manifest_rows(codes, centroids)
        if attrs is not None:
            attrs = _manifest_rows(attrs, centroids)
        keys = ["vec_id"]
    else:
        probes = batch_probe_lists(queries, centroids, nprobe)
        base = codes.join(
            F.broadcast(probes),
            F.col("list_id") == F.col("probe_cid"),
        )
        if attrs is not None:
            attrs = attrs.join(
                F.broadcast(probes.select("probe_cid").distinct()),
                F.col("list_id") == F.col("probe_cid"),
            )
        keys = ["qid", "vec_id"]
    if attrs is not None:
        base, coverage = _attrs_restrict(
            base, attrs, attr_pred, _BATCH_ATTRS_STALE, _BATCH
        )
        guards.append(coverage)
    unpacked = base.select(
        *keys, F.posexplode(F.col("codes")).alias("s", "code")
    )
    pair_cond = (F.col("s") == F.col("qs")) & (
        F.col("code").cast("long") == F.col("qcid")
    )
    if nprobe is not None:
        pair_cond = pair_cond & (F.col("qid") == F.col("tqid"))
    adc = (
        unpacked.join(F.broadcast(qtable), pair_cond)
        # a query that is itself indexed must not retrieve itself
        .where(F.col("vec_id") != F.col("tqid"))
        .groupBy(F.col("tqid").alias("qid"), F.col("vec_id"))
        .agg(
            F.sum("qd").alias("_sum"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select("qid", "vec_id", _adc_sum_with_row_guard().alias("adc_dist"))
    )
    for g in guards:
        adc = adc.unionByName(g)
    w = Window.partitionBy("qid").orderBy(
        F.asc("adc_dist"), F.asc("vec_id")
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("qid", "vec_id", "adc_dist", "rank")
    )


def _pq_topk(
    spark: SparkSession,
    index_path: str,
    query: DataFrame,
    k: int,
    nprobe: int | None,
    upto_batch_id: int | None,
    attr_pred: F.Column | None = None,
) -> DataFrame:
    """The one single-query ADC probe body: top-k ``(vec_id, list_id,
    adc_dist)`` against the STORED index, optionally restricted to
    vectors whose attr-store row satisfies ``attr_pred``.

    ``nprobe=None`` scans all codes (pure PQ) restricted to the list
    manifest (:func:`_manifest_rows`); an integer probes only the
    nprobe coarse lists nearest the query — a broadcast centroid
    ranking whose result prunes the codes (and attrs) scans on their
    ``list_id`` partition column.  The filter restricts WITHIN the
    probed lists (coarse selection ignores it — the standard
    filtered-IVF contract: a matching vector in an unprobed list is a
    recall miss exactly as in unfiltered IVF).  ``upto_batch_id``
    partition-prunes codes and attrs to ``batch_id <= N``.  The plan
    contains the codes/codebook/centroids scans and NO encode subtree
    (pinned by tests/test_ann_index.py).

    Every guard is lazy and rides the plan (``functions/guards.py``):

    ==================================  =====  ========  =====
    guard (what it refuses)             probe  filtered  batch
    ==================================  =====  ========  =====
    codebook not PQ_SUBS x 8 entries    x      x         x
    vector with != PQ_SUBS code rows    x      x         x
    watermark below an upsert/refit     wm     wm        .
    code row without attrs row          .      x         pred
    ==================================  =====  ========  =====

    ``probe`` = ``pq_probe_topk``, ``filtered`` = ``pq_filtered_topk``,
    ``batch`` = ``pq_batch_probe_topk``; ``wm`` = only with
    ``upto_batch_id``, ``pred`` = only with ``attr_pred``.

    * code-row count — a vec_id in two generations (re-ingested id, or
      a probe racing a crashed compaction) would double its ADC sum.
    * upsert/refit marker — ADC carries no corpus statistics, so
      ERASURE needs no as-of bookkeeping (it removes code rows from
      every generation; right-to-erasure beats time travel).  An
      upsert rewrites history too, but the vector should still EXIST
      in past views, so an as-of view below an upsert generation is a
      state that never was (:func:`_upsert_asof_guard`).
    * attrs coverage — the attrs store is maintained delta-shaped by
      the ingest/upsert/delete paths (streaming/ann_ingest.py); this
      is the tripwire for out-of-band writes, checked within the
      probed lists.  With ``nprobe=None`` its anti-join runs over the
      whole corpus — exhaustive filtered probes are a debug shape,
      not the serving path."""
    from ..functions.vectors import cosine

    codes, codebook, centroids = read_index(spark, index_path)
    attrs = (
        spark.read.parquet(f"{index_path}/attrs")
        if attr_pred is not None
        else None
    )
    guards = []
    if upto_batch_id is not None:
        wm = F.col("batch_id") <= F.lit(int(upto_batch_id))
        codes = codes.where(wm)
        if attrs is not None:
            attrs = attrs.where(wm)
        guards += _upsert_asof_guard(spark, index_path, int(upto_batch_id))
    if nprobe is not None:
        probes = (
            query.select(F.col("embedding").alias("qe"))
            .crossJoin(F.broadcast(centroids))
            .select("cid", cosine(F.col("qe"), F.col("ce")).alias("qcos"))
            .orderBy(F.desc("qcos"), F.asc("cid"))
            .limit(nprobe)
            .select(F.col("cid").alias("probe_cid"))
        )
        in_probed = F.col("list_id") == F.col("probe_cid")
        codes = codes.join(F.broadcast(probes), in_probed).select(
            "vec_id", "list_id", "codes"
        )
        if attrs is not None:
            attrs = attrs.join(F.broadcast(probes), in_probed)
    else:
        codes = _manifest_rows(codes, centroids)
        if attrs is not None:
            attrs = _manifest_rows(attrs, centroids)
    if attrs is not None:
        codes, coverage = _attrs_restrict(
            codes, attrs, attr_pred, _ATTRS_STALE, _SINGLE
        )
        guards.insert(0, coverage)
    scored = adc_scores_from_index(codes, codebook, query)
    for g in guards:
        scored = scored.unionByName(g)
    return scored.orderBy(F.asc("adc_dist"), F.asc("vec_id")).limit(k)


def pq_probe_topk(
    spark: SparkSession,
    index_path: str,
    query: DataFrame,
    k: int,
    nprobe: int | None = None,
    upto_batch_id: int | None = None,
) -> DataFrame:
    """ADC top-k against the STORED index.  ``nprobe=None`` scans all
    codes (pure PQ); an integer probes only the nprobe coarse lists
    nearest the query.  ``upto_batch_id`` probes AS OF an
    ingest-generation watermark (partition pruning on the generation
    column, the text index's bm25_topk_asof twin; the frozen build and
    compaction folds are negative, so they sit below any non-negative
    watermark).  Guards: :func:`_pq_topk`."""
    return _pq_topk(spark, index_path, query, k, nprobe, upto_batch_id)


def _upsert_asof_guard(
    spark: SparkSession, index_path: str, upto_batch_id: int
) -> list[DataFrame]:
    """The as-of refusal below any generation an
    :func:`..streaming.ann_ingest.upsert_vectors` call rewrote, as a
    0- or 1-element guard list.  The marker table is metadata-sized
    (one row per upsert batch); absent markers mean no upsert ever ran
    and the probe plan is unchanged — but ONLY the missing-path case
    is treated as absent: a corrupt or half-written marker store
    propagates its read error instead of silently disabling the
    refusal.  An EXISTING-but-empty marker table passes (the
    ``coalesce`` keeps the NULL max from raising an inscrutable
    null-message error)."""
    from ..streaming.compaction import read_store_or_none

    markers = read_store_or_none(spark, f"{index_path}/upserts")
    if markers is None:
        return []
    return [
        guard_branch(
            markers.agg(F.max("batch_id").cast("int").alias("_mx")),
            F.coalesce(
                F.col("_mx") <= F.lit(int(upto_batch_id)),
                F.lit(True),  # empty marker table: nothing to refuse
            ),
            F.concat(
                F.lit("ANN as-of probe: upto_batch_id="),
                F.lit(str(int(upto_batch_id))),
                F.lit(" is below upsert generation "),
                F.col("_mx").cast("string"),
                F.lit(
                    " — upsert_vectors physically rewrote the "
                    "old code rows out of every generation, so "
                    "this as-of view no longer exists; probe at "
                    "or above the upsert generation, or the live "
                    "index without a watermark"
                ),
            ),
            _SINGLE,
        )
    ]


def build_attr_store(
    spark: SparkSession, attrs: DataFrame, index_path: str
) -> None:
    """Persist a filterable-attribute side store NEXT TO the codes
    table, in the SAME ``(batch_id, list_id)`` partition layout —
    the scale contract behind :func:`pq_filtered_topk`: a filtered
    probe prunes BOTH relations to the query's nprobe lists, so the
    metadata scan (and the predicate pushed into it) costs touched
    lists, not corpus.  This is the codes-side twin of the BM25
    denormalized-``dl`` move (operators/text_index.py): attributes
    used at serve time live in index layout, never behind a
    corpus-wide join to the embeddings table.

    ``attrs`` is ``(vec_id, <metadata columns...>)``.  Coverage is
    fail-closed: every stored code row must find its attrs row — a
    missing one raises AT BUILD (per-row ``when``-owned assert, the
    null branch owning the assert per the merged-probe guard lesson)
    instead of silently vanishing from every future filtered probe.

    This is the BOOTSTRAP (and out-of-band-repair) path only: once the
    store exists, the ingest/upsert/delete ops
    (streaming/ann_ingest.py) maintain it DELTA-SHAPED — each batch's
    attrs rows ride the batch into its own partitions — so a live
    index never needs this corpus-length codes-join again
    (VERDICT r9 item 2).
    """
    codes = spark.read.parquet(f"{index_path}/codes").select(
        "vec_id", "list_id", "batch_id"
    )
    tagged = attrs.withColumn("_present", F.lit(1))
    joined = codes.join(tagged, "vec_id", "left")
    guarded_list = F.when(
        F.col("_present").isNull(),
        F.assert_true(
            F.col("_present").isNotNull(),
            F.concat(
                F.lit("attr store build: stored code vec_id="),
                F.col("vec_id").cast("string"),
                F.lit(
                    " has no attrs row — a filtered probe would "
                    "silently drop it; supply attrs for every "
                    "indexed vector"
                ),
            ),
        ).cast("long"),
    ).otherwise(F.col("list_id"))
    write_generation(
        joined.select(
            "vec_id",
            guarded_list.alias("list_id"),
            "batch_id",
            *[
                c
                for c in attrs.columns
                if c != "vec_id"
            ],
        ),
        f"{index_path}/attrs",
        "batch_id",
        "list_id",
    )


def pq_filtered_topk(
    spark: SparkSession,
    index_path: str,
    query: DataFrame,
    k: int,
    attr_pred: F.Column,
    nprobe: int | None = None,
    upto_batch_id: int | None = None,
) -> DataFrame:
    """FILTERED vector search: ADC top-k among stored vectors whose
    attr-store row satisfies ``attr_pred`` — the
    predicate + nearest-neighbor query every retrieval stack serves
    (RAG "search within lang='en' docs", labeled-split mining).

    Semantics (the standard filtered-IVF contract, and what the
    DuckDB oracle replays): coarse-list selection ignores the filter
    — the query's nprobe nearest lists are probed, then the predicate
    restricts WITHIN those lists.

    Scale shape: probes prune codes AND attrs on the ``list_id``
    partition column via the broadcast coarse ranking; ``attr_pred``
    pushes into the pruned attrs parquet scan; the codes-side
    restriction is a left-semi join between two list-pruned relations.
    Probe cost stays proportional to touched lists under any filter
    selectivity; no corpus-wide metadata join exists in the plan
    (pinned by tests/test_ann_index.py).

    ``upto_batch_id`` composes filtered search with AS-OF time travel
    ("rank within lang='en' exactly as the index stood after batch
    N"): the watermark partition-prunes BOTH the codes and the attrs
    scans (attrs ride the same ``batch_id`` generations, so the
    committed prefix of one is the committed prefix of the other).
    Guards: :func:`_pq_topk`."""
    return _pq_topk(
        spark, index_path, query, k, nprobe, upto_batch_id, attr_pred
    )
