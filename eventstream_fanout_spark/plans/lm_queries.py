"""n-gram LM family queries: fit, CCNet-style perplexity bucketing,
OOV diagnostics, exact incremental count maintenance, DSIR-style
importance selection.

Every oracle replays the identical integer-count / single-division /
davg arithmetic (operators/lm.py's determinism contract), so hashes
pin the semantics exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.core import davg, sql_davg
from ..operators.lm import (
    DSIR_TARGET_LANG,
    N_FEATURE_BUCKETS,
    bigram_counts,
    context_counts,
    doc_bigrams,
    doc_fluency_scores,
    feature_bucket,
    sql_doc_scores_ctes,
    sql_feature_bucket,
    sql_lm_ctes,
    sql_shingles,
    sql_tokens,
    train_slice,
    vocab_sizes,
)
from ..sources.tables import load_table
from .registry import register

# CCNet bucket thresholds relative to the per-language mean fluency
# score: head = clearly more fluent than average, tail = clearly
# less.  CCNet's percentile cutoffs become mean-relative cutoffs here
# (one broadcastable |langs|-row threshold table instead of an exact
# global quantile; both are "fixed per-language thresholds computed
# once from the distribution" — CCNet §4.3).
HEAD_BELOW = 0.75
TAIL_ABOVE = 1.25


@register(
    "ngram_lm_fit",
    f"""
    WITH {sql_lm_ctes()}
    SELECT b.lang, split_part(b.bg, ' ', 1) AS ctx,
           split_part(b.bg, ' ', 2) AS tok,
           b.c_uw, c.c_u, v.vocab_v,
           (CAST(b.c_uw + 1 AS DOUBLE)
            / CAST(c.c_u + v.vocab_v AS DOUBLE)) AS p_smooth
    FROM lm_big b
    JOIN lm_ctx c ON c.lang = b.lang
                 AND c.ctx = split_part(b.bg, ' ', 1)
    JOIN lm_vocab v ON v.lang = b.lang
    ORDER BY b.c_uw DESC, b.lang ASC, ctx ASC, tok ASC
    LIMIT 30
    """,
    description="per-language bigram LM fit on the even-doc_id "
    "reference slice (CCNet's per-language KenLM, re-expressed as "
    "exact counts): top-30 bigrams with raw count, context total, "
    "vocabulary size, and the add-one-smoothed conditional "
    "probability (c_uw+1)/(c_u+V) — one exact int division, so the "
    "double is bit-identical cross-engine.  One corpus pass into "
    "map-side-combinable (lang, bigram) partials; context totals and "
    "vocab derive from vocabulary-sized tables; the top-30 is "
    "orderBy().limit() = distributed TakeOrderedAndProject",
    tags=("lm", "text", "extension"),
)
def ngram_lm_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    train = train_slice(docs)
    big = bigram_counts(train)
    ctx = context_counts(big)
    vocab = vocab_sizes(train)
    p = (F.col("c_uw") + 1).cast("double") / (
        F.col("c_u") + F.col("vocab_v")
    ).cast("double")
    return (
        big.withColumn(
            "ctx", F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
        )
        .withColumn(
            "tok", F.split_part(F.col("bg"), F.lit(" "), F.lit(2))
        )
        .join(ctx, ["lang", "ctx"])
        .join(F.broadcast(vocab), "lang")
        .select(
            "lang", "ctx", "tok", "c_uw", "c_u", "vocab_v",
            p.alias("p_smooth"),
        )
        .orderBy(
            F.desc("c_uw"), F.asc("lang"), F.asc("ctx"), F.asc("tok")
        )
        .limit(30)
    )


@register(
    "lm_perplexity_bucket",
    f"""
    WITH {sql_lm_ctes()},
    {sql_doc_scores_ctes()},
    lm_means AS (
      SELECT lang, {sql_davg('score')} AS mean_score
      FROM lm_scores GROUP BY lang
    ),
    lm_bucketed AS (
      SELECT s.lang, s.score,
             CASE WHEN s.score < {HEAD_BELOW!r} * m.mean_score
                    THEN 'head'
                  WHEN s.score > {TAIL_ABOVE!r} * m.mean_score
                    THEN 'tail'
                  ELSE 'middle' END AS bucket
      FROM lm_scores s JOIN lm_means m ON m.lang = s.lang
    )
    SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           {sql_davg('score')} AS mean_bucket_score
    FROM lm_bucketed GROUP BY lang, bucket
    ORDER BY lang, bucket
    """,
    description="CCNet-style corpus partition into head/middle/tail "
    "fluency buckets per language: every document scored under the "
    "fitted per-language LM (mean inverse smoothed probability over "
    "its bigrams — log-free perplexity stand-in, davg-exact), "
    "bucketed against mean-relative per-language thresholds "
    "(0.75x/1.25x), reported as per-(lang, bucket) counts + mean "
    "score.  Scale shape: scoring is one corpus pass shuffle-joined "
    "to the vocabulary-bounded LM on (lang, bigram); thresholds are "
    "a |langs|-row broadcast — no global window, no quantile sort; "
    "production prunes the LM to counts >= k before the join "
    "(documented knob)",
    tags=("lm", "text", "quality", "extension"),
)
def lm_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    train = train_slice(docs)
    big = bigram_counts(train)
    ctx = context_counts(big)
    vocab = vocab_sizes(train)
    scores = doc_fluency_scores(docs, big, ctx, vocab)
    means = scores.groupBy("lang").agg(davg(F.col("score"), "mean_score"))
    bucket = (
        F.when(
            F.col("score") < F.lit(HEAD_BELOW) * F.col("mean_score"),
            F.lit("head"),
        )
        .when(
            F.col("score") > F.lit(TAIL_ABOVE) * F.col("mean_score"),
            F.lit("tail"),
        )
        .otherwise(F.lit("middle"))
    )
    return (
        scores.join(F.broadcast(means), "lang")
        .select("lang", bucket.alias("bucket"), "score")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            davg(F.col("score"), "mean_bucket_score"),
        )
        .orderBy("lang", "bucket")
    )


@register(
    "lm_oov_rate",
    f"""
    WITH {sql_lm_ctes()},
    oov_sdocs AS (
      SELECT doc_id, lang, {sql_tokens('text')} AS toks
      FROM documents WHERE doc_id % 2 = 1
    ),
    oov_pairs AS (
      SELECT lang, unnest({sql_shingles('toks', 2)}) AS bg
      FROM oov_sdocs
    )
    SELECT p.lang,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN b.bg IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           (CAST(SUM(CASE WHEN b.bg IS NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS oov_frac
    FROM oov_pairs p
    LEFT JOIN lm_big b ON b.lang = p.lang AND b.bg = p.bg
    GROUP BY p.lang
    ORDER BY p.lang
    """,
    description="held-out OOV diagnostic of the fitted LM: fraction "
    "of the odd-doc_id half's bigram occurrences never seen in "
    "training, per language — the coverage gauge that decides "
    "whether the reference slice is big enough (CCNet fits on "
    "Wikipedia precisely because its coverage is high).  One "
    "held-out-corpus pass left-joined to the vocabulary-bounded LM; "
    "the ratio is one exact int division",
    tags=("lm", "text", "evaluation", "extension"),
)
def lm_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    big = bigram_counts(train_slice(docs))
    held = doc_bigrams(docs.where(F.col("doc_id") % 2 == 1))
    n_oov = F.sum(
        F.when(F.col("c_uw").isNull(), 1).otherwise(0)
    ).cast("bigint")
    n_pairs = F.count(F.lit(1)).cast("bigint")
    return (
        held.join(big, ["lang", "bg"], "left")
        .groupBy("lang")
        .agg(
            n_pairs.alias("n_pairs"),
            n_oov.alias("n_oov"),
            (n_oov.cast("double") / n_pairs.cast("double")).alias(
                "oov_frac"
            ),
        )
        .orderBy("lang")
    )


@register(
    "lm_incremental_update_sim",
    f"""
    WITH {sql_lm_ctes()},
    lm_top AS (
      SELECT lang, split_part(bg, ' ', 1) AS ctx,
             split_part(bg, ' ', 2) AS tok, c_uw
      FROM lm_big
      ORDER BY c_uw DESC, lang ASC, bg ASC
      LIMIT 20
    ),
    lm_vtot AS (
      SELECT CAST(SUM(vocab_v) AS BIGINT) AS vocab_total FROM lm_vocab
    )
    SELECT t.lang, t.ctx, t.tok, t.c_uw,
           TRUE AS refit_match,
           CAST(2 AS BIGINT) AS n_batches,
           v.vocab_total
    FROM lm_top t CROSS JOIN lm_vtot v
    ORDER BY t.c_uw DESC, t.lang ASC, t.ctx ASC, t.tok ASC
    """,
    description="EXACT incremental LM maintenance under the "
    "generational count store: the reference slice lands as two "
    "delta batches (doc_id%4==0 then %4==2), batch 1 crash-replays "
    "AFTER batch 2 landed (byte-identical rewrite — a delta depends "
    "only on its own documents), and serving merges per-batch counts "
    "by association.  The sim verifies merged-counts == full-refit "
    "by anti-join in BOTH directions and merged-vocab-total == "
    "refit-vocab-total, folds the verdict into refit_match, and "
    "returns the top-20 merged bigrams; the oracle replays the "
    "refit directly with refit_match=TRUE, so any store-path "
    "divergence hash-fails.  Unlike the graph store's add-only "
    "compromise, counts make the incremental contract exact — no "
    "rebuild cadence needed",
    tags=("lm", "incremental", "store", "extension"),
)
def lm_incremental_update_sim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from ..streaming.lm_store import (
        ingest_lm_batch,
        serve_bigram_counts,
        serve_vocab_sizes,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="lm_store_")
    ingest_lm_batch(spark, root, docs.where(F.col("doc_id") % 4 == 0), 0)
    ingest_lm_batch(spark, root, docs.where(F.col("doc_id") % 4 == 2), 1)
    # crash-replay of batch 1 after both batches landed: the delta is
    # derived only from batch-1 documents, so the partition rewrites
    # byte-for-byte (effectively-once without markers).
    ingest_lm_batch(spark, root, docs.where(F.col("doc_id") % 4 == 2), 1)

    served = serve_bigram_counts(spark, root, 1)
    refit = bigram_counts(train_slice(docs))
    # associativity check, both directions (a one-sided anti-join
    # would miss counts present only in the refit)
    diff_a = served.join(
        refit, ["lang", "bg", "c_uw"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("n"))
    diff_b = refit.join(
        served, ["lang", "bg", "c_uw"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("n"))
    vocab_served = serve_vocab_sizes(spark, root, 1).agg(
        F.sum("vocab_v").cast("bigint").alias("vocab_total")
    )
    vocab_refit = vocab_sizes(train_slice(docs)).agg(
        F.sum("vocab_v").cast("bigint").alias("vt_refit")
    )
    verdict = (
        diff_a.crossJoin(diff_b.withColumnRenamed("n", "n_b"))
        .crossJoin(vocab_served)
        .crossJoin(vocab_refit)
        .select(
            (
                (F.col("n") == 0)
                & (F.col("n_b") == 0)
                & (F.col("vocab_total") == F.col("vt_refit"))
            ).alias("refit_match"),
            F.lit(2).cast("bigint").alias("n_batches"),
            "vocab_total",
        )
    )
    top = (
        served.withColumn(
            "ctx", F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
        )
        .withColumn(
            "tok", F.split_part(F.col("bg"), F.lit(" "), F.lit(2))
        )
        .orderBy(F.desc("c_uw"), F.asc("lang"), F.asc("bg"))
        .limit(20)
    )
    return (
        top.crossJoin(F.broadcast(verdict))
        .select(
            "lang", "ctx", "tok", "c_uw",
            "refit_match", "n_batches", "vocab_total",
        )
        .orderBy(F.desc("c_uw"), F.asc("lang"), F.asc("ctx"), F.asc("tok"))
    )


@register(
    "dsir_importance_select",
    f"""
    WITH dsir_docs AS (
      SELECT doc_id, lang, {sql_tokens('text')} AS toks FROM documents
    ),
    dsir_feats AS (
      SELECT doc_id, lang, {sql_feature_bucket('bg')} AS fb
      FROM (SELECT doc_id, lang, unnest({sql_shingles('toks', 2)}) AS bg
            FROM dsir_docs)
    ),
    dsir_tgt AS (
      SELECT fb, CAST(COUNT(*) AS BIGINT) AS c_t
      FROM dsir_feats WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY fb
    ),
    dsir_src AS (
      SELECT fb, CAST(COUNT(*) AS BIGINT) AS c_s
      FROM dsir_feats GROUP BY fb
    ),
    dsir_tots AS (
      SELECT CAST((SELECT COUNT(*) FROM dsir_feats
                   WHERE lang = '{DSIR_TARGET_LANG}') AS BIGINT) AS t_tot,
             CAST((SELECT COUNT(*) FROM dsir_feats) AS BIGINT) AS s_tot
    ),
    dsir_terms AS (
      SELECT f.doc_id, f.lang,
             ((CAST(COALESCE(t.c_t, 0) + 1 AS DOUBLE)
               * CAST(o.s_tot + {N_FEATURE_BUCKETS} AS DOUBLE))
              / (CAST(s.c_s + 1 AS DOUBLE)
                 * CAST(o.t_tot + {N_FEATURE_BUCKETS} AS DOUBLE)))
               AS ratio
      FROM dsir_feats f
      LEFT JOIN dsir_tgt t ON t.fb = f.fb
      JOIN dsir_src s ON s.fb = f.fb
      CROSS JOIN dsir_tots o
    ),
    dsir_wts AS (
      SELECT doc_id, lang, {sql_davg('ratio')} AS weight
      FROM dsir_terms GROUP BY doc_id, lang
    )
    SELECT doc_id, lang, weight FROM dsir_wts
    ORDER BY weight DESC, doc_id ASC
    LIMIT 50
    """,
    description="DSIR-style importance selection (Xie et al. 2023): "
    "every document's bigrams fold into 64 hashed feature buckets "
    "(two md5 hex chars — cross-engine identical), target (lang=en) "
    "and source (whole corpus) bucket distributions fit with add-one "
    "smoothing, and each doc is weighted by its mean "
    "target/source probability ratio (the log-free deterministic "
    "variant of DSIR's log-likelihood ratio — each term divides two "
    "double products whose FACTORS cast from exact BIGINT counts, so "
    "nothing overflows at web scale and both engines round "
    "identically; factors stay exact below 2^53).  Top-50 via "
    "TakeOrderedAndProject.  Scale shape: the feature distributions "
    "are CONSTANT-size (64 rows, broadcast); the corpus is touched "
    "twice (fit pass, weight pass), both map-side-combinable",
    tags=("lm", "curation", "sampling", "extension"),
)
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feats = doc_bigrams(docs).select(
        "doc_id", "lang", feature_bucket(F.col("bg")).alias("fb")
    )
    tgt = (
        feats.where(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("fb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_t"))
    )
    src = feats.groupBy("fb").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_s")
    )
    tots = (
        feats.agg(
            F.count(F.lit(1)).cast("bigint").alias("s_tot"),
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("t_tot"),
        )
    )
    # Each FACTOR casts to double before the multiply (r13 ADVICE 3):
    # at web scale a bigram-occurrence total ~1e13 squared overflows
    # BIGINT (~9.2e18); double products are IEEE-identical in both
    # engines, exact below 2^53 per factor (demo scale is far under).
    ratio = (
        (F.coalesce(F.col("c_t"), F.lit(0)) + 1).cast("double")
        * (F.col("s_tot") + F.lit(N_FEATURE_BUCKETS)).cast("double")
    ) / (
        (F.col("c_s") + 1).cast("double")
        * (F.col("t_tot") + F.lit(N_FEATURE_BUCKETS)).cast("double")
    )
    return (
        feats.join(F.broadcast(tgt), "fb", "left")
        .join(F.broadcast(src), "fb")
        .crossJoin(F.broadcast(tots))
        .select("doc_id", "lang", ratio.alias("ratio"))
        .groupBy("doc_id", "lang")
        .agg(davg(F.col("ratio"), "weight"))
        .orderBy(F.desc("weight"), F.asc("doc_id"))
        .limit(50)
    )


@register(
    "lm_erasure_sim",
    f"""
    WITH {sql_lm_ctes("doc_id % 2 = 0 AND doc_id % 8 <> 2")},
    lm_top AS (
      SELECT lang, split_part(bg, ' ', 1) AS ctx,
             split_part(bg, ' ', 2) AS tok, c_uw
      FROM lm_big
      ORDER BY c_uw DESC, lang ASC, bg ASC
      LIMIT 20
    ),
    lm_vtot AS (
      SELECT CAST(SUM(vocab_v) AS BIGINT) AS vocab_total FROM lm_vocab
    ),
    lm_doomed AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_erased
      FROM documents WHERE doc_id % 8 = 2
    )
    SELECT t.lang, t.ctx, t.tok, t.c_uw,
           TRUE AS erase_match,
           d.n_docs_erased,
           v.vocab_total
    FROM lm_top t CROSS JOIN lm_vtot v CROSS JOIN lm_doomed d
    ORDER BY t.c_uw DESC, t.lang ASC, t.ctx ASC, t.tok ASC
    """,
    description="EXACT right-to-erasure on the LM count store: the "
    "reference slice lands as two delta batches, then the doomed "
    "documents (doc_id%8==2) erase as a NEGATIVE delta batch whose "
    "crash-replay rewrites byte-identically; serving's positivity "
    "filter drops every bigram/token the doomed docs solely carried.  "
    "The sim verifies merged state == full refit over the SURVIVORS "
    "(anti-joins both directions + vocabulary totals), folds the "
    "verdict into erase_match, and returns the post-erasure top-20; "
    "the oracle refits on the survivors directly with "
    "erase_match=TRUE.  Counts make erasure exact and delta-shaped — "
    "cost proportional to the doomed docs, no store rewrite, unlike "
    "tombstone-scan designs",
    tags=("lm", "erasure", "store", "extension"),
)
def lm_erasure_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators.lm import bigram_counts, train_slice, vocab_sizes
    from ..streaming.lm_store import (
        erase_lm_docs,
        ingest_lm_batch,
        serve_bigram_counts,
        serve_vocab_sizes,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="lm_erase_")
    ingest_lm_batch(spark, root, docs.where(F.col("doc_id") % 4 == 0), 0)
    ingest_lm_batch(spark, root, docs.where(F.col("doc_id") % 4 == 2), 1)
    doomed = docs.where(F.col("doc_id") % 8 == 2)
    erase_lm_docs(spark, root, doomed, 2)
    # crash-replay of the erasure batch: negative delta depends only
    # on the doomed docs, so the partition rewrites byte-for-byte
    erase_lm_docs(spark, root, doomed, 2)

    served = serve_bigram_counts(spark, root, 2)
    survivors = train_slice(docs).where(F.col("doc_id") % 8 != 2)
    refit = bigram_counts(survivors)
    diff_a = served.join(
        refit, ["lang", "bg", "c_uw"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("n"))
    diff_b = refit.join(
        served, ["lang", "bg", "c_uw"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("n"))
    vocab_served = serve_vocab_sizes(spark, root, 2).agg(
        F.sum("vocab_v").cast("bigint").alias("vocab_total")
    )
    vocab_refit = vocab_sizes(survivors).agg(
        F.sum("vocab_v").cast("bigint").alias("vt_refit")
    )
    n_doomed = doomed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_erased")
    )
    verdict = (
        diff_a.crossJoin(diff_b.withColumnRenamed("n", "n_b"))
        .crossJoin(vocab_served)
        .crossJoin(vocab_refit)
        .crossJoin(n_doomed)
        .select(
            (
                (F.col("n") == 0)
                & (F.col("n_b") == 0)
                & (F.col("vocab_total") == F.col("vt_refit"))
            ).alias("erase_match"),
            "n_docs_erased",
            "vocab_total",
        )
    )
    top = (
        served.withColumn(
            "ctx", F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
        )
        .withColumn(
            "tok", F.split_part(F.col("bg"), F.lit(" "), F.lit(2))
        )
        .orderBy(F.desc("c_uw"), F.asc("lang"), F.asc("bg"))
        .limit(20)
    )
    return (
        top.crossJoin(F.broadcast(verdict))
        .select(
            "lang", "ctx", "tok", "c_uw",
            "erase_match", "n_docs_erased", "vocab_total",
        )
        .orderBy(F.desc("c_uw"), F.asc("lang"), F.asc("ctx"), F.asc("tok"))
    )


@register(
    "stream_lm_ingest",
    f"""
    WITH {sql_lm_ctes()},
    lm_top AS (
      SELECT lang, split_part(bg, ' ', 1) AS ctx,
             split_part(bg, ' ', 2) AS tok, c_uw
      FROM lm_big
      ORDER BY c_uw DESC, lang ASC, bg ASC
      LIMIT 20
    ),
    lm_vtot AS (
      SELECT CAST(SUM(vocab_v) AS BIGINT) AS vocab_total FROM lm_vocab
    )
    SELECT t.lang, t.ctx, t.tok, t.c_uw, v.vocab_total
    FROM lm_top t CROSS JOIN lm_vtot v
    ORDER BY t.c_uw DESC, t.lang ASC, t.ctx ASC, t.tok ASC
    """,
    description="REAL Structured Streaming proof for the LM count "
    "store: the reference slice's two delta batches arrive as "
    "mtime-ordered files through maxFilesPerTrigger=1 into the "
    "foreachBatch LM sink (store batch ids keyed off the data's "
    "group id, not the trigger counter), then the WHOLE stream "
    "reprocesses from a fresh checkpoint — every ingest rewrites "
    "byte-identically because an LM delta depends only on its own "
    "batch's documents.  The served merged counts must hash-equal "
    "the same full-refit oracle lm_incremental_update_sim replays",
    tags=("lm", "incremental", "streaming", "store", "extension"),
)
def stream_lm_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import tempfile

    from ..streaming import await_or_raise
    from ..streaming.lm_store import (
        lm_ingest_sink,
        serve_bigram_counts,
        serve_vocab_sizes,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    grp = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(0))
        .otherwise(F.lit(1))
        .cast("int")
    )
    tmp = tempfile.mkdtemp(prefix="stream_lm_")
    src = f"{tmp}/src"
    (
        docs.where(F.col("doc_id") % 2 == 0)
        .withColumn("grp", grp)
        .coalesce(1)
        .write.partitionBy("grp")
        .mode("overwrite")
        .parquet(src)
    )
    # pin trigger order: ascending mtimes per group, kept in the past
    # so a full reprocess sees the same order (stream_graph_ingest's
    # discipline)
    base = os.path.getmtime(src) - 3600
    for g in (0, 1):
        for f in glob.glob(f"{src}/grp={g}/*.parquet"):
            os.utime(f, (base + g, base + g))
    sink = lm_ingest_sink(f"{tmp}/store")
    for run in (1, 2):  # run 2 = full reprocess, fresh checkpoint
        q = (
            spark.readStream.schema(
                "doc_id long, lang string, text string, grp int"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{tmp}/ckpt{run}")
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 600)

    served = serve_bigram_counts(spark, f"{tmp}/store", 1)
    vtot = serve_vocab_sizes(spark, f"{tmp}/store", 1).agg(
        F.sum("vocab_v").cast("bigint").alias("vocab_total")
    )
    return (
        served.withColumn(
            "ctx", F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
        )
        .withColumn(
            "tok", F.split_part(F.col("bg"), F.lit(" "), F.lit(2))
        )
        .orderBy(F.desc("c_uw"), F.asc("lang"), F.asc("bg"))
        .limit(20)
        .crossJoin(F.broadcast(vtot))
        .select("lang", "ctx", "tok", "c_uw", "vocab_total")
        .orderBy(F.desc("c_uw"), F.asc("lang"), F.asc("ctx"), F.asc("tok"))
    )


@register(
    "lm_quality_curation",
    f"""
    WITH {sql_lm_ctes()},
    {sql_doc_scores_ctes()},
    lm_means AS (
      SELECT lang, {sql_davg('score')} AS mean_score
      FROM lm_scores GROUP BY lang
    ),
    cur_keepers AS (
      SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id
      FROM documents GROUP BY md5(text)
    ),
    cur_docs AS (
      SELECT d.doc_id, d.lang,
             (k.doc_id IS NOT NULL) AS is_keeper,
             s.score,
             CASE WHEN s.score IS NULL THEN NULL
                  WHEN s.score > {TAIL_ABOVE!r} * m.mean_score
                    THEN TRUE ELSE FALSE END AS is_tail
      FROM documents d
      LEFT JOIN cur_keepers k ON k.doc_id = d.doc_id
      LEFT JOIN lm_scores s ON s.doc_id = d.doc_id
      LEFT JOIN lm_means m ON m.lang = d.lang
    )
    SELECT lang,
           CAST(SUM(CASE WHEN is_keeper AND is_tail = FALSE
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN NOT is_keeper THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_dropped,
           CAST(SUM(CASE WHEN is_keeper AND is_tail = TRUE
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_tail_dropped,
           CAST(SUM(CASE WHEN is_keeper AND is_tail IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_unscored,
           {sql_davg('CASE WHEN is_keeper AND is_tail = FALSE '
                     'THEN score END')} AS mean_kept_score
    FROM cur_docs
    GROUP BY lang
    ORDER BY lang
    """,
    description="the LM family WIRED INTO a curation decision (the "
    "measured-diagnostic-drives-a-choice discipline of "
    "skew_adaptive_band_join): exact dedup keeps the lowest doc_id "
    "per md5(text), then the fitted LM's per-language tail bucket "
    "drops the least-fluent keepers (CCNet's middle+head retention), "
    "with unscored docs (< 2 tokens) accounted separately — "
    "per-language kept / dup-dropped / tail-dropped / unscored "
    "counts + davg kept score.  One dedup aggregate + one scoring "
    "pass + broadcast thresholds; every drop is attributable, "
    "nothing silently truncated",
    tags=("lm", "curation", "dedup", "pipeline", "extension"),
)
def lm_quality_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm import (
        bigram_counts,
        context_counts,
        doc_fluency_scores,
        vocab_sizes,
    )

    docs = load_table(spark, sf_dir, "documents")
    train = train_slice(docs)
    big = bigram_counts(train)
    scores = doc_fluency_scores(
        docs, big, context_counts(big), vocab_sizes(train)
    )
    means = scores.groupBy("lang").agg(davg(F.col("score"), "mean_score"))
    keepers = (
        docs.groupBy(F.md5(F.col("text")))
        .agg(F.min("doc_id").cast("bigint").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("is_keeper"))
    )
    is_tail = F.when(F.col("score").isNull(), F.lit(None).cast("boolean")).otherwise(
        F.col("score") > F.lit(TAIL_ABOVE) * F.col("mean_score")
    )
    flagged = (
        docs.select("doc_id", "lang")
        .join(keepers, "doc_id", "left")
        .join(scores.select("doc_id", "score"), "doc_id", "left")
        .join(F.broadcast(means), "lang", "left")
        .select(
            "lang",
            F.coalesce(F.col("is_keeper"), F.lit(False)).alias(
                "is_keeper"
            ),
            "score",
            is_tail.alias("is_tail"),
        )
    )
    kept = F.col("is_keeper") & (F.col("is_tail") == F.lit(False))
    return (
        flagged.groupBy("lang")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(~F.col("is_keeper"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_dropped"),
            F.sum(
                F.when(
                    F.col("is_keeper")
                    & (F.col("is_tail") == F.lit(True)),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_tail_dropped"),
            F.sum(
                F.when(
                    F.col("is_keeper") & F.col("is_tail").isNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_unscored"),
            davg(
                F.when(kept, F.col("score")), "mean_kept_score"
            ),
        )
        .orderBy("lang")
    )


@register(
    "lm_stream_scoring_sim",
    f"""
    WITH {sql_lm_ctes()},
    {sql_doc_scores_ctes("doc_id % 2 = 1")}
    SELECT doc_id, lang, score FROM lm_scores
    ORDER BY doc_id ASC
    """,
    description="streaming scoring against a FROZEN LM generation "
    "(the model-store scoring discipline, completing the LM family's "
    "matrix: fit / incremental / erasure / stream-ingest / "
    "stream-score): the reference slice lands as two store batches, "
    "serving pins generation 1, and the held-out half streams "
    "through the scoring sink in two batches — batch 1 crash-replays "
    "AFTER batch 2 landed and rewrites byte-identically because a "
    "batch's scores depend only on its own rows + the immutable "
    "generation.  The oracle scores the held-out half against the "
    "full-refit LM directly; any divergence in the store-served "
    "scoring path hash-fails",
    tags=("lm", "streaming", "store", "extension"),
)
def lm_stream_scoring_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..streaming.lm_store import ingest_lm_batch, lm_scoring_sink

    docs = load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="lm_score_store_")
    ingest_lm_batch(spark, root, docs.where(F.col("doc_id") % 4 == 0), 0)
    ingest_lm_batch(spark, root, docs.where(F.col("doc_id") % 4 == 2), 1)
    sink = lm_scoring_sink(f"{root}", f"{root}/serving", 1)
    sink(docs.where(F.col("doc_id") % 4 == 1), 1)
    sink(docs.where(F.col("doc_id") % 4 == 3), 2)
    sink(docs.where(F.col("doc_id") % 4 == 1), 1)  # crash-replay
    return (
        spark.read.parquet(f"{root}/serving/scores")
        .select("doc_id", "lang", "score")
        .orderBy(F.asc("doc_id"))
    )


# Inverse multiplier applied when a bigram is unseen and scoring backs
# off to the unigram distribution ("stupid backoff", Brants et al.
# 2007: discount 0.4 -> inverse factor 2.5; exactly representable in
# binary, so the multiply is one identical IEEE op in both engines).
BACKOFF_INV = 2.5


@register(
    "lm_backoff_score_compare",
    f"""
    WITH {sql_lm_ctes()},
    bo_uni AS (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c_w
      FROM (SELECT lang, unnest(toks) AS tok FROM lm_train)
      GROUP BY lang, tok
    ),
    bo_tot AS (
      SELECT lang, CAST(SUM(c_w) AS BIGINT) AS u_tot
      FROM bo_uni GROUP BY lang
    ),
    bo_sdocs AS (
      SELECT doc_id, lang, {sql_tokens('text')} AS toks FROM documents
    ),
    bo_pairs AS (
      SELECT doc_id, lang, unnest({sql_shingles('toks', 2)}) AS bg
      FROM bo_sdocs
    ),
    bo_terms AS (
      SELECT p.doc_id, p.lang,
             (CAST(COALESCE(c.c_u, 0) + v.vocab_v AS DOUBLE)
              / CAST(COALESCE(b.c_uw, 0) + 1 AS DOUBLE)) AS t_addone,
             CASE WHEN b.c_uw IS NOT NULL
                  THEN (CAST(c.c_u + v.vocab_v AS DOUBLE)
                        / CAST(b.c_uw + 1 AS DOUBLE))
                  ELSE {BACKOFF_INV!r}
                       * (CAST(t.u_tot + v.vocab_v AS DOUBLE)
                          / CAST(COALESCE(u.c_w, 0) + 1 AS DOUBLE))
             END AS t_backoff
      FROM bo_pairs p
      LEFT JOIN lm_big b ON b.lang = p.lang AND b.bg = p.bg
      LEFT JOIN lm_ctx c ON c.lang = p.lang
                        AND c.ctx = split_part(p.bg, ' ', 1)
      LEFT JOIN bo_uni u ON u.lang = p.lang
                        AND u.tok = split_part(p.bg, ' ', 2)
      JOIN bo_tot t ON t.lang = p.lang
      JOIN lm_vocab v ON v.lang = p.lang
    ),
    bo_scores AS (
      SELECT doc_id, lang,
             {sql_davg('t_addone')} AS s_addone,
             {sql_davg('t_backoff')} AS s_backoff
      FROM bo_terms GROUP BY doc_id, lang
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           {sql_davg('s_addone')} AS mean_addone,
           {sql_davg('s_backoff')} AS mean_backoff
    FROM bo_scores GROUP BY lang
    ORDER BY lang
    """,
    description="add-one vs stupid-backoff scoring compared on the "
    "same corpus (Brants et al. 2007): where add-one gives every "
    "unseen bigram the flat 1/V smoothing mass, backoff falls "
    "through to the CONTINUATION token's unigram probability times "
    "a fixed inverse discount — rare-but-real continuations stop "
    "being punished like garbage, which is the scoring mode a "
    "production CCNet filter actually runs.  Per-language mean "
    "inverse-probability under both modes; every term stays a fixed "
    "chain of exact-int divisions and one exactly-representable "
    "2.5x multiply, davg-aggregated — deterministic cross-engine.  "
    "Same two corpus passes as lm_perplexity_bucket plus one "
    "vocab-bounded unigram join",
    tags=("lm", "text", "evaluation", "extension"),
)
def lm_backoff_score_compare(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.lm import doc_bigrams, doc_tokens

    docs = load_table(spark, sf_dir, "documents")
    train = train_slice(docs)
    big = bigram_counts(train)
    ctx = context_counts(big)
    vocab = vocab_sizes(train)
    # unigram counts through the family's SHARED tokenizer
    # (doc_tokens) — r13 ADVICE 1: a hand-rolled split here would
    # silently desync from the oracle's sql_tokens if the shared
    # definition ever changed
    uni = (
        doc_tokens(train)
        .select("lang", F.explode(F.col("toks")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_w"))
    )
    tot = uni.groupBy("lang").agg(
        F.sum("c_w").cast("bigint").alias("u_tot")
    )
    pairs = doc_bigrams(docs).withColumn(
        "ctx", F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
    ).withColumn(
        "tok", F.split_part(F.col("bg"), F.lit(" "), F.lit(2))
    )
    t_addone = (
        F.coalesce(F.col("c_u"), F.lit(0)) + F.col("vocab_v")
    ).cast("double") / (
        F.coalesce(F.col("c_uw"), F.lit(0)) + F.lit(1)
    ).cast("double")
    t_backoff = F.when(
        F.col("c_uw").isNotNull(),
        (F.col("c_u") + F.col("vocab_v")).cast("double")
        / (F.col("c_uw") + F.lit(1)).cast("double"),
    ).otherwise(
        F.lit(BACKOFF_INV)
        * (
            (F.col("u_tot") + F.col("vocab_v")).cast("double")
            / (F.coalesce(F.col("c_w"), F.lit(0)) + F.lit(1)).cast(
                "double"
            )
        )
    )
    scores = (
        pairs.join(big, ["lang", "bg"], "left")
        .join(ctx, ["lang", "ctx"], "left")
        .join(uni, ["lang", "tok"], "left")
        .join(F.broadcast(tot), "lang")
        .join(F.broadcast(vocab), "lang")
        .select(
            "doc_id",
            "lang",
            t_addone.alias("t_addone"),
            t_backoff.alias("t_backoff"),
        )
        .groupBy("doc_id", "lang")
        .agg(
            davg(F.col("t_addone"), "s_addone"),
            davg(F.col("t_backoff"), "s_backoff"),
        )
    )
    return (
        scores.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            davg(F.col("s_addone"), "mean_addone"),
            davg(F.col("s_backoff"), "mean_backoff"),
        )
        .orderBy("lang")
    )


@register(
    "lm_kn_score",
    f"""
    WITH {sql_lm_ctes()},
    kn_n1u AS (
      SELECT lang, split_part(bg, ' ', 1) AS ctx,
             CAST(COUNT(*) AS BIGINT) AS n1u
      FROM lm_big GROUP BY lang, split_part(bg, ' ', 1)
    ),
    kn_n1w AS (
      SELECT lang, split_part(bg, ' ', 2) AS tok,
             CAST(COUNT(*) AS BIGINT) AS n1w
      FROM lm_big GROUP BY lang, split_part(bg, ' ', 2)
    ),
    kn_types AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_types
      FROM lm_big GROUP BY lang
    ),
    kn_sdocs AS (
      SELECT doc_id, lang, {sql_tokens('text')} AS toks FROM documents
    ),
    kn_spairs AS (
      SELECT doc_id, lang, unnest({sql_shingles('toks', 2)}) AS bg
      FROM kn_sdocs
    ),
    kn_terms AS (
      SELECT p.doc_id, p.lang,
             (CAST(COALESCE(c.c_u, 0) + v.vocab_v AS DOUBLE)
              / CAST(COALESCE(b.c_uw, 0) + 1 AS DOUBLE)) AS t_addone,
             CASE WHEN c.c_u IS NOT NULL THEN
               ((4.0 * CAST(c.c_u AS DOUBLE)
                 * CAST(t.n_types + v.vocab_v AS DOUBLE))
                / (CAST(GREATEST(4 * COALESCE(b.c_uw, 0) - 3, 0)
                        AS DOUBLE)
                   * CAST(t.n_types + v.vocab_v AS DOUBLE)
                   + 3.0 * CAST(COALESCE(u.n1u, 0) AS DOUBLE)
                     * CAST(COALESCE(w.n1w, 0) + 1 AS DOUBLE)))
             ELSE
               (CAST(t.n_types + v.vocab_v AS DOUBLE)
                / CAST(COALESCE(w.n1w, 0) + 1 AS DOUBLE))
             END AS t_kn
      FROM kn_spairs p
      LEFT JOIN lm_big b ON b.lang = p.lang AND b.bg = p.bg
      LEFT JOIN lm_ctx c ON c.lang = p.lang
                        AND c.ctx = split_part(p.bg, ' ', 1)
      LEFT JOIN kn_n1u u ON u.lang = p.lang
                        AND u.ctx = split_part(p.bg, ' ', 1)
      LEFT JOIN kn_n1w w ON w.lang = p.lang
                        AND w.tok = split_part(p.bg, ' ', 2)
      JOIN lm_vocab v ON v.lang = p.lang
      JOIN kn_types t ON t.lang = p.lang
    ),
    kn_scores AS (
      SELECT doc_id, lang,
             {sql_davg('t_addone')} AS s_addone,
             {sql_davg('t_kn')} AS s_kn
      FROM kn_terms GROUP BY doc_id, lang
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           {sql_davg('s_addone')} AS mean_addone,
           {sql_davg('s_kn')} AS mean_kn
    FROM kn_scores GROUP BY lang
    ORDER BY lang
    """,
    description="interpolated Kneser-Ney scoring vs add-one on the "
    "same fitted counts (Kneser & Ney 1995; the production "
    "CCNet/KenLM smoothing — round-13 verdict item 6): "
    "P(w|u) = (c(u,w) - D)+/c(u) + D*N1+(u,.)/c(u) * Pcont(w) with "
    "the fixed discount D = 3/4 EXACTLY representable, so 4x-scaled "
    "integer counts keep every numerator/denominator an exact BIGINT "
    "product: term = 4*c_u*(T+V) / ((4*c_uw-3)+ * (T+V) + "
    "3*n1u*(n1w+1)).  The continuation probability is the smoothed "
    "(N1+(.,w)+1)/(T+V) — never zero, so unseen contexts fall back "
    "to pure continuation mass and the inverse score stays finite.  "
    "Factors cast to double BEFORE multiplying (the DSIR overflow "
    "discipline): IEEE-identical cross-engine, exact below 2^53 per "
    "factor.  Per-language mean inverse probability under both "
    "modes; continuation/type tables are vocab-sized, so the cost "
    "matches add-one scoring (two corpus passes + vocab-bounded "
    "joins, no new corpus-sized shuffle)",
    tags=("lm", "text", "evaluation", "extension"),
)
def lm_kn_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm import doc_tokens as _dt  # noqa: F401 (parity)

    docs = load_table(spark, sf_dir, "documents")
    train = train_slice(docs)
    big = bigram_counts(train)
    ctx = context_counts(big)
    vocab = vocab_sizes(train)
    n1u = (
        big.select(
            "lang",
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("ctx"),
        )
        .groupBy("lang", "ctx")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n1u"))
    )
    n1w = (
        big.select(
            "lang",
            F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("tok"),
        )
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n1w"))
    )
    types = big.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types")
    )
    pairs = (
        doc_bigrams(docs)
        .withColumn("ctx", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .withColumn("tok", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
    )
    tv = (F.col("n_types") + F.col("vocab_v")).cast("double")
    t_addone = (
        F.coalesce(F.col("c_u"), F.lit(0)) + F.col("vocab_v")
    ).cast("double") / (
        F.coalesce(F.col("c_uw"), F.lit(0)) + F.lit(1)
    ).cast("double")
    t_kn = F.when(
        F.col("c_u").isNotNull(),
        (F.lit(4.0) * F.col("c_u").cast("double") * tv)
        / (
            F.greatest(
                F.lit(0),
                4 * F.coalesce(F.col("c_uw"), F.lit(0)) - 3,
            ).cast("double")
            * tv
            + F.lit(3.0)
            * F.coalesce(F.col("n1u"), F.lit(0)).cast("double")
            * (F.coalesce(F.col("n1w"), F.lit(0)) + 1).cast("double")
        ),
    ).otherwise(
        tv / (F.coalesce(F.col("n1w"), F.lit(0)) + 1).cast("double")
    )
    scores = (
        pairs.join(big, ["lang", "bg"], "left")
        .join(ctx, ["lang", "ctx"], "left")
        .join(n1u, ["lang", "ctx"], "left")
        .join(n1w, ["lang", "tok"], "left")
        .join(F.broadcast(vocab), "lang")
        .join(F.broadcast(types), "lang")
        .select(
            "doc_id", "lang",
            t_addone.alias("t_addone"), t_kn.alias("t_kn"),
        )
        .groupBy("doc_id", "lang")
        .agg(
            davg(F.col("t_addone"), "s_addone"),
            davg(F.col("t_kn"), "s_kn"),
        )
    )
    return (
        scores.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            davg(F.col("s_addone"), "mean_addone"),
            davg(F.col("s_kn"), "mean_kn"),
        )
        .orderBy("lang")
    )


@register(
    "lm_compaction_sim",
    f"""
    WITH {sql_lm_ctes("doc_id % 8 <> 2")},
    lmc_top AS (
      SELECT lang, split_part(bg, ' ', 1) AS ctx,
             split_part(bg, ' ', 2) AS tok, c_uw
      FROM lm_big
      ORDER BY c_uw DESC, lang ASC, bg ASC
      LIMIT 20
    ),
    lmc_vtot AS (
      SELECT CAST(SUM(vocab_v) AS BIGINT) AS vocab_total FROM lm_vocab
    )
    SELECT t.lang, t.ctx, t.tok, t.c_uw, v.vocab_total,
           CAST(2 AS BIGINT) AS n_live_parts
    FROM lmc_top t CROSS JOIN lmc_vtot v
    ORDER BY t.c_uw DESC, t.lang ASC, t.ctx ASC, t.tok ASC
    """,
    description="manifest-committed LM store compaction proven EXACT "
    "(r14): whole-corpus ingest as two deltas, an erasure delta, then "
    "compact_lm_store folds all three into one frozen generation per "
    "table BEFORE a fourth delta lands — serving as-of the last batch "
    "must equal a full refit over the surviving documents (counts "
    "re-aggregate associatively, fully-cancelled keys drop in the "
    "fold), and n_live_parts (read from the actual bigrams table) "
    "pins that the fold really happened (frozen gen + the post-"
    "compaction delta = 2 partitions).  The oracle refits on the "
    "survivors directly — compaction must be invisible to it",
    tags=("lm", "compaction", "store", "erasure", "extension"),
)
def lm_compaction_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..streaming.lm_store import (
        compact_lm_store,
        erase_lm_docs,
        ingest_lm_batch,
        lm_table_name,
        serve_bigram_counts,
        serve_vocab_sizes,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="lm_compact_")
    ingest_lm_batch(spark, root, docs.where(F.col("doc_id") % 2 == 0), 0)
    ingest_lm_batch(
        spark,
        root,
        docs.where((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 8 != 7)),
        1,
    )
    erase_lm_docs(spark, root, docs.where(F.col("doc_id") % 8 == 2), 2)
    compact_lm_store(spark, root, upto_batch_id=3)
    ingest_lm_batch(spark, root, docs.where(F.col("doc_id") % 8 == 7), 3)

    served = serve_bigram_counts(spark, root, 3)
    vtot = serve_vocab_sizes(spark, root, 3).agg(
        F.sum("vocab_v").cast("bigint").alias("vocab_total")
    )
    parts = (
        spark.table(lm_table_name(root, "bigrams"))
        .select("batch_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_live_parts"))
    )
    return (
        served.withColumn(
            "ctx", F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
        )
        .withColumn("tok", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
        .orderBy(F.desc("c_uw"), F.asc("lang"), F.asc("bg"))
        .limit(20)
        .crossJoin(F.broadcast(vtot))
        .crossJoin(F.broadcast(parts))
        .select(
            "lang", "ctx", "tok", "c_uw", "vocab_total", "n_live_parts"
        )
        .orderBy(
            F.desc("c_uw"), F.asc("lang"), F.asc("ctx"), F.asc("tok")
        )
    )


@register(
    "stream_lm_autocompact",
    f"""
    WITH {sql_lm_ctes("doc_id % 2 = 0")},
    lma_top AS (
      SELECT lang, split_part(bg, ' ', 1) AS ctx,
             split_part(bg, ' ', 2) AS tok, c_uw
      FROM lm_big
      ORDER BY c_uw DESC, lang ASC, bg ASC
      LIMIT 20
    ),
    lma_vtot AS (
      SELECT CAST(SUM(vocab_v) AS BIGINT) AS vocab_total FROM lm_vocab
    )
    SELECT t.lang, t.ctx, t.tok, t.c_uw, v.vocab_total,
           CAST(1 AS BIGINT) AS n_live_parts,
           CAST(4 AS BIGINT) AS watermark
    FROM lma_top t CROSS JOIN lma_vtot v
    ORDER BY t.c_uw DESC, t.lang ASC, t.ctx ASC, t.tok ASC
    """,
    description="AUTO-compaction inside the live stream (r14): four "
    "delta groups arrive one file per trigger into the LM ingest sink "
    "armed with max_live_parts=2, so the stream itself folds the "
    "store TWICE mid-flight (after group 1: deltas 0-1 freeze; after "
    "group 3: the frozen gen + deltas 2-3 re-freeze) — an unbounded "
    "stream keeps a bounded partition count with no maintenance "
    "outage.  Then the WHOLE stream reprocesses from a fresh "
    "checkpoint against the SAME store: every group is now below the "
    "watermark and the sink SKIPS it (the delta is durable inside the "
    "frozen generation), leaving the store byte-identical.  Serving "
    "must equal the full-refit oracle exactly; n_live_parts=1 (only "
    "the final frozen generation remains physically) and watermark=4 "
    "pin that both folds and the crash-window sweep really happened",
    tags=("lm", "streaming", "compaction", "store", "extension"),
)
def stream_lm_autocompact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import tempfile

    from ..streaming import await_or_raise
    from ..streaming.compaction import manifest_watermark
    from ..streaming.lm_store import (
        lm_ingest_sink,
        lm_manifest_path,
        lm_table_name,
        serve_bigram_counts,
        serve_vocab_sizes,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    grp = ((F.col("doc_id") % 8) / 2).cast("int")
    tmp = tempfile.mkdtemp(prefix="stream_lm_ac_")
    src = f"{tmp}/src"
    (
        docs.where(F.col("doc_id") % 2 == 0)
        .withColumn("grp", grp)
        .coalesce(1)
        .write.partitionBy("grp")
        .mode("overwrite")
        .parquet(src)
    )
    base = os.path.getmtime(src) - 3600
    for g in (0, 1, 2, 3):
        for f in glob.glob(f"{src}/grp={g}/*.parquet"):
            os.utime(f, (base + g, base + g))
    sink = lm_ingest_sink(f"{tmp}/store", max_live_parts=2)
    for run in (1, 2):  # run 2 = full reprocess: every group skips
        q = (
            spark.readStream.schema(
                "doc_id long, lang string, text string, grp int"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{tmp}/ckpt{run}")
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 600)

    served = serve_bigram_counts(spark, f"{tmp}/store", 3)
    vtot = serve_vocab_sizes(spark, f"{tmp}/store", 3).agg(
        F.sum("vocab_v").cast("bigint").alias("vocab_total")
    )
    wm = manifest_watermark(
        spark, lm_manifest_path(f"{tmp}/store", "bigrams")
    )
    parts = (
        spark.table(lm_table_name(f"{tmp}/store", "bigrams"))
        .select("batch_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_live_parts"))
    )
    return (
        served.withColumn(
            "ctx", F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
        )
        .withColumn("tok", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
        .orderBy(F.desc("c_uw"), F.asc("lang"), F.asc("bg"))
        .limit(20)
        .crossJoin(F.broadcast(vtot))
        .crossJoin(F.broadcast(parts))
        .select(
            "lang", "ctx", "tok", "c_uw", "vocab_total", "n_live_parts",
            F.lit(int(wm)).cast("bigint").alias("watermark"),
        )
        .orderBy(
            F.desc("c_uw"), F.asc("lang"), F.asc("ctx"), F.asc("tok")
        )
    )


def _kn3_scores_and_evagg(terms: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(per-doc scores, per-lang event aggregate) from ONE pass over
    the KN term relation (r15, guide §1.2 / VERDICT r14 item 5): the
    old shape consumed ``terms`` from two branches — per-doc davg and
    per-lang lvl counts — so the whole serve-time derivation (trigram
    shingles of the score docs joined against the five derived
    continuation tables) executed twice per call.  Now one per-doc
    aggregation carries the lvl counts alongside the davg, the tiny
    doc-bounded result is localCheckpoint-ed (one execution, lineage
    cut), and the per-lang aggregate derives from it by exact integer
    re-summation: n_events = Σ per-doc counts, bo2/bo1 = Σ per-doc
    backoff counts — bit-identical to aggregating the events directly
    (associative BIGINT sums), so hashes are unchanged."""
    perdoc = (
        terms.groupBy("doc_id", "lang")
        .agg(
            davg(F.col("term"), "s_kn3"),
            F.count(F.lit(1)).cast("bigint").alias("_nev"),
            F.sum(F.when(F.col("lvl") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("_bo2"),
            F.sum(F.when(F.col("lvl") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("_bo1"),
        )
        .localCheckpoint()
    )
    scores = perdoc.select("doc_id", "lang", "s_kn3")
    evagg = perdoc.groupBy("lang").agg(
        F.sum("_nev").cast("bigint").alias("n_events"),
        F.sum("_bo2").cast("bigint").alias("bo2"),
        F.sum("_bo1").cast("bigint").alias("bo1"),
    )
    return scores, evagg


def _sql_kn3_ctes(train_where: str, score_where: str) -> str:
    """DuckDB twin of operators/lm.kn_trigram_terms(_from_counts):
    trigram counts + derived continuation tables fitted on
    ``train_where`` documents, per-event interpolated-KN terms for
    ``score_where`` documents, per-doc scores and per-lang event
    aggregates.  Shared by lm_kn_trigram_score (in-plan fit) and
    lm_kn_store_scoring_sim (store-served counts — identical by
    associativity, so the SAME oracle text replays both)."""
    return f"""{sql_lm_ctes(train_where)},
    kt_tri AS (
      SELECT lang, unnest({sql_shingles('toks', 3)}) AS tg FROM lm_train
    ),
    kt_c3 AS (
      SELECT lang, tg, CAST(COUNT(*) AS BIGINT) AS c3
      FROM kt_tri GROUP BY lang, tg
    ),
    kt_ctx AS (
      SELECT lang,
             split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2) AS uv,
             CAST(SUM(c3) AS BIGINT) AS c_uv,
             CAST(COUNT(*) AS BIGINT) AS n1t
      FROM kt_c3
      GROUP BY lang, split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2)
    ),
    kt_vw AS (
      SELECT lang,
             split_part(tg, ' ', 2) || ' ' || split_part(tg, ' ', 3) AS vw,
             CAST(COUNT(*) AS BIGINT) AS n1vw
      FROM kt_c3
      GROUP BY lang, split_part(tg, ' ', 2) || ' ' || split_part(tg, ' ', 3)
    ),
    kt_mid AS (
      SELECT lang, split_part(tg, ' ', 2) AS v,
             CAST(COUNT(*) AS BIGINT) AS n1mid,
             CAST(COUNT(DISTINCT split_part(tg, ' ', 3)) AS BIGINT)
               AS n1fw
      FROM kt_c3 GROUP BY lang, split_part(tg, ' ', 2)
    ),
    kt_n1w AS (
      SELECT lang, split_part(bg, ' ', 2) AS tok,
             CAST(COUNT(*) AS BIGINT) AS n1w
      FROM lm_big GROUP BY lang, split_part(bg, ' ', 2)
    ),
    kt_types AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_types
      FROM lm_big GROUP BY lang
    ),
    kt_sdocs AS (
      SELECT doc_id, lang, {sql_tokens('text')} AS toks FROM documents
      WHERE {score_where}
    ),
    kt_ev AS (
      SELECT doc_id, lang, unnest({sql_shingles('toks', 3)}) AS tg
      FROM kt_sdocs
    ),
    kt_terms AS (
      SELECT e.doc_id, e.lang,
        CASE WHEN x.c_uv IS NOT NULL THEN 3
             WHEN m.n1mid IS NOT NULL THEN 2
             ELSE 1 END AS lvl,
        CASE WHEN x.c_uv IS NOT NULL THEN
          (4.0 * CAST(x.c_uv AS DOUBLE)
           * (4.0 * CAST(m.n1mid AS DOUBLE)
              * CAST(t.n_types + v.vocab_v AS DOUBLE)))
          / (CAST(GREATEST(4 * COALESCE(c.c3, 0) - 3, 0) AS DOUBLE)
               * (4.0 * CAST(m.n1mid AS DOUBLE)
                  * CAST(t.n_types + v.vocab_v AS DOUBLE))
             + 3.0 * CAST(x.n1t AS DOUBLE)
               * (CAST(GREATEST(4 * COALESCE(vw.n1vw, 0) - 3, 0)
                       AS DOUBLE)
                    * CAST(t.n_types + v.vocab_v AS DOUBLE)
                  + 3.0 * CAST(m.n1fw AS DOUBLE)
                    * CAST(COALESCE(w.n1w, 0) + 1 AS DOUBLE)))
        WHEN m.n1mid IS NOT NULL THEN
          (4.0 * CAST(m.n1mid AS DOUBLE)
           * CAST(t.n_types + v.vocab_v AS DOUBLE))
          / (CAST(GREATEST(4 * COALESCE(vw.n1vw, 0) - 3, 0) AS DOUBLE)
               * CAST(t.n_types + v.vocab_v AS DOUBLE)
             + 3.0 * CAST(m.n1fw AS DOUBLE)
               * CAST(COALESCE(w.n1w, 0) + 1 AS DOUBLE))
        ELSE
          CAST(t.n_types + v.vocab_v AS DOUBLE)
          / CAST(COALESCE(w.n1w, 0) + 1 AS DOUBLE)
        END AS term
      FROM kt_ev e
      LEFT JOIN kt_c3 c ON c.lang = e.lang AND c.tg = e.tg
      LEFT JOIN kt_ctx x ON x.lang = e.lang
        AND x.uv = split_part(e.tg, ' ', 1) || ' ' || split_part(e.tg, ' ', 2)
      LEFT JOIN kt_vw vw ON vw.lang = e.lang
        AND vw.vw = split_part(e.tg, ' ', 2) || ' ' || split_part(e.tg, ' ', 3)
      LEFT JOIN kt_mid m ON m.lang = e.lang
        AND m.v = split_part(e.tg, ' ', 2)
      LEFT JOIN kt_n1w w ON w.lang = e.lang
        AND w.tok = split_part(e.tg, ' ', 3)
      JOIN lm_vocab v ON v.lang = e.lang
      JOIN kt_types t ON t.lang = e.lang
    ),
    kt_scores AS (
      SELECT doc_id, lang, {sql_davg('term')} AS s_kn3
      FROM kt_terms GROUP BY doc_id, lang
    ),
    kt_evagg AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS bo2,
             CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS bo1
      FROM kt_terms GROUP BY lang
    )"""


_SQL_KN3_FINAL = f"""
    SELECT s.lang, CAST(COUNT(*) AS BIGINT) AS n_docs, a.n_events,
           {sql_davg('s_kn3')} AS mean_kn3,
           CAST(FLOOR(a.bo2 * 1000000.0 / a.n_events) AS BIGINT)
             AS backoff2_ppm,
           CAST(FLOOR(a.bo1 * 1000000.0 / a.n_events) AS BIGINT)
             AS backoff1_ppm
    FROM kt_scores s JOIN kt_evagg a ON a.lang = s.lang
    GROUP BY s.lang, a.n_events, a.bo2, a.bo1"""


@register(
    "lm_kn_trigram_score",
    f"""
    WITH {_sql_kn3_ctes("doc_id % 2 = 0", "TRUE")}
    {_SQL_KN3_FINAL}
    ORDER BY s.lang
    """,
    description="interpolated Kneser-Ney at TRIGRAM order with the "
    "full recursive backoff chain (Kneser & Ney 1995; Chen & Goodman "
    "1999 eq. 18 — the production KenLM posture is this recursion at "
    "order 5): P(w|u,v) = (c(uvw)-D)+/c(uv) + D*N1+(uv.)/c(uv) * "
    "P2(w|v), where the ORDER-2 distribution uses continuation "
    "counts — P2(w|v) = (N1+(.vw)-D)+/N1+(.v.) + D*|w:N1+(.vw)>0|"
    "/N1+(.v.) * Pcont(w), the interpolation weight being the "
    "TRIGRAM-table continuation-type count so each level sums to "
    "EXACTLY 1 over the vocabulary (pytest-pinned normalization) — "
    "and Pcont is the same smoothed (N1+(.,w)+1)/(T+V) as "
    "lm_kn_score, so the chain never hits zero.  D = 3/4 exactly "
    "representable; every level's term is ONE fraction whose "
    "numerator/denominator are sums of products of exact BIGINT "
    "counts, each factor cast to double BEFORE multiplying with "
    "identical association order in both engines (the lm_kn_score / "
    "DSIR discipline), so hashes pin the arithmetic bit-for-bit.  "
    "Unseen (u,v) contexts fall through to pure P2 (backoff2_ppm "
    "pins how often), unseen middles to pure continuation "
    "(backoff1_ppm).  Cost shape matches bigram KN: the trigram "
    "count/continuation tables are vocab-bounded (production prunes "
    "singletons — documented knob), the corpus is passed twice, and "
    "every join key is (lang, ngram) — no new corpus-sized shuffle",
    tags=("lm", "text", "evaluation", "extension"),
)
def lm_kn_trigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm import kn_trigram_terms

    docs = load_table(spark, sf_dir, "documents")
    terms = kn_trigram_terms(docs, train_slice(docs))
    scores, evagg = _kn3_scores_and_evagg(terms)
    return (
        scores.join(F.broadcast(evagg), "lang")
        .groupBy("lang", "n_events", "bo2", "bo1")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            davg(F.col("s_kn3"), "mean_kn3"),
        )
        .select(
            "lang",
            "n_docs",
            "n_events",
            "mean_kn3",
            F.floor(F.col("bo2") * 1000000.0 / F.col("n_events"))
            .cast("bigint")
            .alias("backoff2_ppm"),
            F.floor(F.col("bo1") * 1000000.0 / F.col("n_events"))
            .cast("bigint")
            .alias("backoff1_ppm"),
        )
        .orderBy("lang")
    )


@register(
    "lm_kn_store_scoring_sim",
    f"""
    WITH {_sql_kn3_ctes(
        "doc_id % 2 = 0 AND doc_id % 8 <> 4", "doc_id % 2 = 1"
    )},
    kn_final AS (
      {_SQL_KN3_FINAL}
    )
    SELECT k.*, CAST(1 AS BIGINT) AS n_live_parts,
           CAST(3 AS BIGINT) AS watermark
    FROM kn_final k
    ORDER BY k.lang
    """,
    description="trigram KN served from a FROZEN generation of the "
    "streaming count store (r14 — the production posture: scoring "
    "never refits): the reference slice lands as two delta batches "
    "of bigram+vocab+TRIGRAM counts, an erasure delta removes a "
    "doomed slice, and compact_lm_store folds all three kinds into "
    "one frozen generation each; KN's continuation-type tables "
    "(N1+) then DERIVE at serve time from the merged counts — which "
    "equal a refit's by associativity — so store-served scores for "
    "the held-out half hash-equal the same refit oracle "
    "lm_kn_trigram_score uses, with train = the erasure survivors.  "
    "n_live_parts=1 and watermark=3 pin that the fold really "
    "happened.  The store only ever holds raw associative counts: "
    "incremental + erasure + compaction contracts carry over to "
    "order 3 unchanged, no type-count maintenance needed",
    tags=("lm", "compaction", "store", "erasure", "extension"),
)
def lm_kn_store_scoring_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators.lm import kn_trigram_terms_from_counts
    from ..streaming.compaction import manifest_watermark
    from ..streaming.lm_store import (
        compact_lm_store,
        erase_lm_docs,
        erase_lm_trigram_docs,
        ingest_lm_batch,
        ingest_lm_trigram_batch,
        lm_manifest_path,
        lm_table_name,
        serve_bigram_counts,
        serve_trigram_counts,
        serve_vocab_sizes,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="lm_kn_store_")
    b0 = docs.where((F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 4 == 0))
    b1 = docs.where((F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 4 == 2))
    doomed = docs.where(
        (F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 8 == 4)
    )
    ingest_lm_batch(spark, root, b0, 0)
    ingest_lm_trigram_batch(spark, root, b0, 0)
    ingest_lm_batch(spark, root, b1, 1)
    ingest_lm_trigram_batch(spark, root, b1, 1)
    erase_lm_docs(spark, root, doomed, 2)
    erase_lm_trigram_docs(spark, root, doomed, 2)
    compact_lm_store(spark, root, upto_batch_id=3)

    terms = kn_trigram_terms_from_counts(
        docs.where(F.col("doc_id") % 2 == 1),
        serve_trigram_counts(spark, root, 2),
        serve_bigram_counts(spark, root, 2),
        serve_vocab_sizes(spark, root, 2),
    )
    scores, evagg = _kn3_scores_and_evagg(terms)
    wm = manifest_watermark(spark, lm_manifest_path(root, "trigrams"))
    parts = (
        spark.table(lm_table_name(root, "trigrams"))
        .select("batch_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_live_parts"))
    )
    return (
        scores.join(F.broadcast(evagg), "lang")
        .groupBy("lang", "n_events", "bo2", "bo1")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            davg(F.col("s_kn3"), "mean_kn3"),
        )
        .crossJoin(F.broadcast(parts))
        .select(
            "lang",
            "n_docs",
            "n_events",
            "mean_kn3",
            F.floor(F.col("bo2") * 1000000.0 / F.col("n_events"))
            .cast("bigint")
            .alias("backoff2_ppm"),
            F.floor(F.col("bo1") * 1000000.0 / F.col("n_events"))
            .cast("bigint")
            .alias("backoff1_ppm"),
            "n_live_parts",
            F.lit(int(wm)).cast("bigint").alias("watermark"),
        )
        .orderBy("lang")
    )
