"""Similarity search over embedding columns (``array<float>``) —
north-star surface: brute-force cosine top-k as the correctness
baseline, random-hyperplane LSH bucketing as the 100 TB scale path.

Scale design: brute force scores |corpus| rows per query — fine for a
broadcast query batch, impossible for all-pairs.  The LSH variant
assigns every vector an 8-bit bucket from the signs of 8 deterministic
±1 hyperplane projections; queries probe only their own bucket
(optionally Hamming-1 neighbors), so the join is bucket-local.  The
hyperplanes derive from md5 (functions/hashing idea) so the SQL oracle
reproduces them exactly; in production they'd be any fixed seed.

All scoring goes through functions/vectors.py quantized math — JVM
built-ins only, deterministic across engines.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.guards import guard_branch
from ..functions.vectors import (
    cosine,
    cosine_given_bnorm,
    cosine_given_norms,
    dot,
    norm2,
)

NUM_HYPERPLANES = 8
EMBED_DIM = 64


def hyperplane_signs(j: int, dim: int = EMBED_DIM) -> list[int]:
    """Deterministic ±1 hyperplane components: parity of md5("j,i")."""
    out = []
    for i in range(dim):
        h = hashlib.md5(f"{j},{i}".encode()).hexdigest()
        out.append(1 if (int(h[0], 16) % 2) else -1)
    return out


def brute_force_topk(
    corpus: DataFrame, query: DataFrame, k: int
) -> DataFrame:
    """Exact cosine top-k of ``query`` (single row, ``qe`` array column)
    against the corpus.  The query side is broadcast — the corpus scan
    stays partition-parallel with no shuffle before the final top-k
    (TakeOrderedAndProject).  The query norm is materialized on the
    broadcast side (1 row) instead of per corpus row."""
    qn = query.withColumn("qn2", norm2(F.col("qe")))
    scored = corpus.crossJoin(F.broadcast(qn)).select(
        "vec_id",
        "label",
        cosine_given_bnorm(
            F.col("embedding"), F.col("qe"), F.col("qn2")
        ).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def lsh_bucket(embedding_col: F.Column, dim: int = EMBED_DIM) -> F.Column:
    """8-bit LSH bucket id from hyperplane projection signs.  Uses the
    same nano-quantized integer dot products as the oracle.  ``dim``
    selects the hyperplane length (64 for whole embeddings, 16 for the
    multi-vector chunk buckets in operators/multivector.py)."""
    quant = F.transform(
        embedding_col,
        lambda x: F.floor(x.cast("double") * F.lit(1e9) + F.lit(0.5)).cast(
            "long"
        ),
    )
    bucket = F.lit(0).cast("long")
    for j in range(NUM_HYPERPLANES):
        signs = F.array(
            *[F.lit(s).cast("long") for s in hyperplane_signs(j, dim)]
        )
        proj = F.aggregate(
            F.zip_with(quant, signs, lambda e, s: e * s),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(
            proj > 0, F.lit(2**j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_topk(corpus: DataFrame, query: DataFrame, k: int) -> DataFrame:
    """ANN top-k probing only the query's LSH bucket.  Recall < 1 by
    design; at scale the bucket join replaces the full scan."""
    bucketed = corpus.withColumn("bucket", lsh_bucket(F.col("embedding")))
    qb = query.withColumn("qbucket", lsh_bucket(F.col("qe"))).withColumn(
        "qn2", norm2(F.col("qe"))
    )
    candidates = bucketed.join(
        F.broadcast(qb), F.col("bucket") == F.col("qbucket")
    )
    return (
        candidates.select(
            "vec_id",
            "label",
            "bucket",
            cosine_given_bnorm(
                F.col("embedding"), F.col("qe"), F.col("qn2")
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def lsh_multiprobe_topk(
    corpus: DataFrame, query: DataFrame, k: int
) -> DataFrame:
    """Multi-probe LSH ANN top-k: probe the query's bucket AND its 8
    Hamming-1 neighbor buckets (flip each hyperplane bit once) — the
    standard multi-probe recall dial: near-misses that landed one
    hyperplane away become candidates at ~9x the probed fraction,
    still bucket-local (9 constant probe rows broadcast; never a scan
    of non-probed buckets).  ``probe_hamming`` reports which ring each
    hit came from (0 = exact bucket, 1 = neighbor)."""
    bucketed = corpus.withColumn("bucket", lsh_bucket(F.col("embedding")))
    qb = query.withColumn("qbucket", lsh_bucket(F.col("qe"))).withColumn(
        "qn2", norm2(F.col("qe"))
    )
    probes = qb.select(
        "qe",
        "qn2",
        "qbucket",
        F.explode(
            F.array(
                F.col("qbucket"),
                *[
                    F.col("qbucket").bitwiseXOR(F.lit(1 << j).cast("long"))
                    for j in range(NUM_HYPERPLANES)
                ],
            )
        ).alias("pbucket"),
    )
    cands = bucketed.join(
        F.broadcast(probes), F.col("bucket") == F.col("pbucket")
    )
    return (
        cands.select(
            "vec_id",
            "label",
            "bucket",
            F.bit_count(
                F.col("bucket").bitwiseXOR(F.col("qbucket"))
            ).cast("int").alias("probe_hamming"),
            cosine_given_bnorm(
                F.col("embedding"), F.col("qe"), F.col("qn2")
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


IVF_SEED_LO, IVF_SEED_HI = 10, 17  # 8 deterministic seed centroids
IVF_NPROBE = 2


def ivf_centroids(emb: DataFrame) -> DataFrame:
    """IVF coarse-quantizer "training" stand-in: a deterministic seed
    set of corpus vectors (vec_id 10..17) plays the centroid role so the
    SQL oracle can reproduce the index bit-for-bit.  In production the
    centroids come from a k-means fit over a sample and ship as a small
    broadcast artifact (like the LSH hyperplanes); every plan below is
    identical either way — only where the 8 rows come from changes."""
    return emb.where(
        (F.col("vec_id") >= IVF_SEED_LO) & (F.col("vec_id") <= IVF_SEED_HI)
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))


def ivf_fit_centroids(
    corpus: DataFrame,
    n_iters: int = 2,
    sample_mod: int = 1,
    init: DataFrame | None = None,
) -> DataFrame:
    """Fitted IVF coarse quantizer: Lloyd k-means iterations over a
    deterministic sample, initialized from the seed centroids — the
    production replacement for :func:`ivf_centroids`' stand-in
    (VERDICT r3 item 5).  Returns the same (cid, ce) shape, so
    :func:`ivf_assign`/:func:`ivf_topk` plans are unchanged.

    Scale shape per iteration: broadcast the k centroids, one
    corpus-sample scan to assign (pure map + map-side-combining
    groupBy), then element-wise means via posexplode → (cid, pos)
    partial-agg — k*dim aggregate rows total, never a vector-vs-vector
    join.  ``sample_mod`` gates the fit to a 1/sample_mod sample (the
    standard sampled-k-means economy at 100 TB); empty clusters keep
    their previous centroid.  Deterministic: fixed init, fixed
    iteration count, no RNG.

    ``init`` overrides the seed-row initialization with any (cid, ce)
    relation — the Lloyd loop is k-agnostic, so a caller can fit 2
    centroids over one inverted list (split_list) with the same
    deterministic machinery as the 8-way corpus fit."""
    cents = ivf_centroids(corpus) if init is None else init
    sample = (
        corpus.where(F.col("vec_id") % sample_mod == 0)
        if sample_mod > 1
        else corpus
    )
    for _ in range(n_iters):
        assign = ivf_assign(sample, cents)
        members = sample.select("vec_id", "embedding").join(assign, "vec_id")
        # quantized integer mean, not avg(double): SUM(double) partial
        # aggregation is not bit-deterministic across partitionings,
        # and a last-ulp centroid wiggle can flip a near-tie
        # assignment between runs (the dsum lesson applied here)
        means = (
            members.select(
                F.col("list_id").alias("cid"),
                F.posexplode(F.col("embedding")).alias("pos", "x"),
            )
            .groupBy("cid", "pos")
            .agg(
                (
                    F.sum(
                        F.floor(
                            F.col("x").cast("double") * F.lit(1e9)
                            + F.lit(0.5)
                        ).cast("long")
                    ).cast("double")
                    / F.count(F.lit(1)).cast("double")
                    / F.lit(1e9)
                ).alias("v")
            )
        )
        fitted = means.groupBy("cid").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("v")))
                ),
                lambda s: s.getField("v").cast("float"),
            ).alias("ce_new")
        )
        cents = (
            cents.join(fitted, "cid", "left")
            .select(
                "cid",
                F.coalesce(F.col("ce_new"), F.col("ce")).alias("ce"),
            )
            # Cache the k-row centroid set after each Lloyd iteration —
            # LAZILY (ADVICE r5 / VERDICT r6 item 8: this was an eager
            # localCheckpoint, which made merely CONSTRUCTING a plan on
            # top of the fit run n_iters corpus-scanning Spark jobs, so
            # plan-only tooling like dump_plans executed the full fit).
            # persist() marks the k-row relation for caching without
            # computing anything: fit-on-first-ACTION.  The first job
            # that touches the fitted centroids materializes each
            # iteration's InMemoryRelation once; every other reference
            # (next iteration's assignment, ivf_topk's assign + probes
            # + guard) reads the cache instead of re-running the
            # corpus-sample scans — at real scale each avoided re-fit
            # is n_iters corpus-sample scans.  Pinned by
            # tests/test_similarity_quality.py: plan construction runs
            # ZERO jobs; results are hash-identical (the fit is
            # deterministic integer math, so WHEN it runs cannot change
            # WHAT it returns).  Cluster caveat (unchanged from the
            # localCheckpoint era): cached fits are session-scoped — on
            # a real deployment persist the fitted (cid, ce) rows to a
            # table (operators/ann_index.py's build_pq_index(centroids=
            # ...) stores exactly this artifact) and reload, rather
            # than holding them in executor memory.
            .persist()
        )
    return cents


def ivf_assign(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (max cosine,
    ties to the lowest cid) -> (vec_id, list_id).

    Scale shape: broadcast the k centroids, k cosines per row (a pure
    map, one corpus scan), then a map-side-combining groupBy on vec_id
    whose payload is 16 bytes/row.  No corpus-vs-corpus join anywhere.
    At index-build time this runs once and persists as the inverted
    lists; queries never touch it."""
    cents = centroids.withColumn("cn2", norm2(F.col("ce")))
    scored = (
        corpus.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "cid",
            cosine_given_bnorm(
                F.col("embedding"), F.col("ce"), F.col("cn2")
            ).alias("ccos"),
        )
    )
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(F.col("ccos"), (-F.col("cid")).alias("ncid"))
        ).alias("m")
    )
    return best.select("vec_id", (-F.col("m.ncid")).alias("list_id"))


def ivf_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int,
    nprobe: int = IVF_NPROBE,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-Flat ANN top-k: probe the ``nprobe`` inverted lists nearest
    the query and brute-force only those lists (~nprobe/k_lists of the
    corpus instead of all of it).  Recall < 1 by design; raising nprobe
    trades scan fraction for recall — the standard IVF dial.

    ``centroids`` defaults to the deterministic seed set (the oracle
    path); pass :func:`ivf_fit_centroids` output for the fitted index.
    An empty/short centroid set (corpus lacking the seed ids) raises
    AT EXECUTION instead of silently returning zero rows (ADVICE r3).
    The guard is lazy — a 1-row centroid-count aggregate gates the
    query vector column inside the plan, so no extra Spark job runs
    (an eager ``count()`` here measurably doubled the ANN bench)."""
    expected = IVF_SEED_HI - IVF_SEED_LO + 1
    if centroids is None:
        centroids = ivf_centroids(corpus)
    assign = ivf_assign(corpus, centroids)
    probes = (
        query.crossJoin(F.broadcast(centroids))
        .select("cid", cosine(F.col("qe"), F.col("ce")).alias("qcos"))
        .orderBy(F.desc("qcos"), F.asc("cid"))
        .limit(nprobe)
        .select(F.col("cid").alias("probe_cid"))
    )
    probed = assign.join(
        F.broadcast(probes), F.col("list_id") == F.col("probe_cid")
    ).select("vec_id", "list_id")
    cand = corpus.join(probed, "vec_id")
    qn = query.withColumn("qn2", norm2(F.col("qe")))
    topk = (
        cand.crossJoin(F.broadcast(qn))
        .select(
            "vec_id",
            "label",
            "list_id",
            cosine_given_bnorm(
                F.col("embedding"), F.col("qe"), F.col("qn2")
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )
    # Broken-index guard (ADVICE r3), lazy: a 0-row union branch whose
    # filter must evaluate assert_true over the always-present 1-row
    # centroid-count aggregate — raises AT EXECUTION on a missing/
    # short/over-full centroid set (including the all-empty case an
    # in-row gate cannot catch), and costs no separate Spark job (an
    # eager count() here measurably doubled the ANN bench).
    ncent = centroids.agg(F.count(F.lit(1)).cast("int").alias("_ncent"))
    guard = guard_branch(
        ncent,
        F.col("_ncent") == expected,
        F.concat(
            F.lit("IVF centroid set has "),
            F.col("_ncent").cast("string"),
            F.lit(
                f" rows, expected {expected} — corpus lacks "
                f"the seed vec_ids {IVF_SEED_LO}..{IVF_SEED_HI}"
                " or the fitted quantizer dropped lists; "
                "refusing to probe a broken index"
            ),
        ),
        topk.schema,
    )
    # re-sort after the union: union output order is unspecified even
    # with an empty branch, and callers rely on the documented
    # descending-cosine contract shared with brute_force_topk/lsh_topk
    return topk.unionByName(guard).orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )


def embedding_near_pairs(
    corpus: DataFrame, min_cosine: float, sample_mod: int = 16
) -> DataFrame:
    """Ground-truth cosine >= threshold pairs on an EXPLICITLY CAPPED
    deterministic sample (``vec_id % sample_mod == 0``).

    This is the brute-force verifier, deliberately sample-gated: the
    pair join is O((n/sample_mod)²), so the registered surface contains
    no unbounded all-pairs operator.  The full-corpus scale path is the
    LSH bucket equi-join (``embedding_lsh_near_pairs``); use this one
    to estimate its recall on the sample.  ``sample_mod=1`` (full
    corpus) is available for tests only."""
    # squared norms are materialized per ROW before the pair join —
    # per pair only the single-fold quantized dot remains (the norm of
    # each vector was otherwise re-folded once per partner: O(n²) norm
    # work for an O(n) quantity).  cosine_given_norms reproduces
    # cosine() bit-for-bit (same BIGINT sums, same IEEE combine).
    sampled = corpus.where(F.col("vec_id") % sample_mod == 0)
    a = sampled.select(
        F.col("vec_id").alias("vid_a"),
        F.col("embedding").alias("ea"),
        norm2(F.col("embedding")).alias("na2"),
    )
    b = sampled.select(
        F.col("vec_id").alias("vid_b"),
        F.col("embedding").alias("eb"),
        norm2(F.col("embedding")).alias("nb2"),
    )
    return (
        a.join(b, F.col("vid_a") < F.col("vid_b"))
        .select(
            "vid_a",
            "vid_b",
            cosine_given_norms(
                F.col("ea"), F.col("eb"), F.col("na2"), F.col("nb2")
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= F.lit(min_cosine))
    )


# --- binary (sign) quantization + Hamming ranking (round 8) ----------

BINARY_WORDS = 4       # 64 sign bits packed 16 per word
BINARY_WORD_BITS = 16  # 16-bit words: no BIGINT sign-bit edge cases


def sign_words(embedding: F.Column) -> F.Column:
    """``array<long>`` of 4 packed 16-bit words: bit j of word w is 1
    iff ``embedding[16w + j] > 0`` — the 1-bit-per-dimension binary
    sketch (64 dims -> 8 bytes, 1/32 of the float32 vector).  Strict
    ``> 0`` so the zero boundary is engine-exact; powers of two are
    literal (no column-shift ops), everything stays in whole-stage
    codegen."""
    pows = F.array(
        *[F.lit(1 << j).cast("long") for j in range(BINARY_WORD_BITS)]
    )
    words = []
    for w in range(BINARY_WORDS):
        sl = F.slice(
            embedding, w * BINARY_WORD_BITS + 1, BINARY_WORD_BITS
        )
        bits = F.zip_with(
            sl,
            pows,
            lambda x, p: F.when(
                x.cast("double") > F.lit(0.0), p
            ).otherwise(F.lit(0).cast("long")),
        )
        words.append(
            F.aggregate(
                bits, F.lit(0).cast("long"), lambda a, b: a + b
            )
        )
    return F.array(*words)


def hamming_words(a: F.Column, b: F.Column) -> F.Column:
    """Hamming distance between two packed word arrays: per-word
    XOR + popcount, summed — integer-exact, 4 bit_count calls per
    pair."""
    x = F.zip_with(
        a, b, lambda p, q: F.bit_count(p.bitwiseXOR(q)).cast("long")
    )
    return (
        F.aggregate(x, F.lit(0).cast("long"), lambda acc, v: acc + v)
        .cast("int")
    )


def binary_hamming_topk(
    corpus: DataFrame, query: DataFrame, k: int
) -> DataFrame:
    """Hamming top-k of the 1-row ``query`` (``qw`` packed-words
    column) against pre-packed corpus ``(vec_id, wrd)`` rows.  Scale
    shape: the scan side is the 8-byte sketch column (1/32 the float
    vectors), the query is broadcast, ranking is XOR+popcount into a
    TakeOrdered top-k — the cheapest ANN family, and the standard
    shortlist stage in front of an exact rerank
    (:func:`binary_rerank_topk`)."""
    return (
        corpus.crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            hamming_words(F.col("wrd"), F.col("qw")).alias("hamming"),
        )
        .orderBy(F.asc("hamming"), F.asc("vec_id"))
        .limit(k)
    )
