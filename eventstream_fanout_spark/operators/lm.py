"""Per-language n-gram language model: fit, scoring, CCNet-style
perplexity bucketing, and DSIR-style importance weighting.

The corpus-quality family so far scores documents with model-free
signals (token rarity, Gopher repetition rules, stopword ratios).
This module adds the model-BASED pass a production pipeline runs next
(CCNet; Wenzek et al. 2020): fit an n-gram LM per language on a
reference slice, score every document's fluency under it, and bucket
the corpus into head/middle/tail by per-language thresholds.  On top
of the same machinery, DSIR-style data selection (Xie et al. 2023)
weighs each document by how target-like its hashed n-gram features
are and keeps the top of the ranking.

Cross-engine determinism (the repo's oracle contract) rules out
transcendental log-probabilities: Spark's and DuckDB's ``ln`` need
not agree in the last ulp.  Both scores are therefore built from
ratios of exact BIGINT counts — each term is ONE IEEE double division
of two exactly-representable integers, bit-identical in both engines
— and per-document means go through :func:`functions.core.davg`
(micro-quantized, order-independent).  Concretely:

* fluency score  = mean over a doc's bigrams of the INVERSE smoothed
  conditional probability ``(c(ctx) + V) / (c(ctx,tok) + 1)``
  (add-one smoothing).  Monotone with perplexity's intent — common
  continuations score low, surprising ones high — while staying
  log-free and exact.
* importance weight = mean over a doc's hashed bigram features of the
  target/source probability ratio (DSIR's likelihood ratio with the
  log-sum replaced by a deterministic mean of ratios).

Scale shape: fitting is one corpus pass into vocabulary-sized partial
aggregates (map-side combinable ``groupBy(lang, bigram)``); scoring
is one corpus pass joined against the LM on ``(lang, bigram)`` — the
LM side is vocabulary-squared-bounded, NOT corpus-bounded, and in
production is pruned to counts >= k (documented knob; the registered
demos keep full counts so the oracle replays exactly).  No global
windows anywhere: top-k picks are ``orderBy().limit()``
(TakeOrderedAndProject) and bucket thresholds are per-language means
broadcast back (|langs| rows).

Reference parity: the reference engine (pipeline/app.py:39-113) has
no LM surface; this is training-data-pipeline extension surface
(SURVEY.md north star), same footing as the BPE trainer and the
classifier family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.core import davg
from ..functions.hashing import shingles, sql_shingles, sql_tokens, tokens

# Hashed-feature space for DSIR-style weighting: two md5 hex chars
# fold every bigram into 64 buckets (deterministic and identical in
# both engines — the sql_simhash_bit trick widened to a bucket id).
N_FEATURE_BUCKETS = 64

# DSIR target slice for the registered demo: English documents (the
# "looks like my target corpus" side; the source distribution is the
# whole corpus).
DSIR_TARGET_LANG = "en"


def doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, toks) — the shared tokenization of this family."""
    return docs.select(
        "doc_id", "lang", tokens(F.col("text")).alias("toks")
    )


def doc_bigrams(docs: DataFrame, toked: DataFrame | None = None) -> DataFrame:
    """One row per bigram OCCURRENCE: (doc_id, lang, bg) where ``bg``
    is the space-joined adjacent pair (tokens are whitespace-split so
    the join is unambiguous).  Docs with fewer than two tokens
    contribute nothing.  ``toked`` optionally supplies the
    :func:`doc_tokens` relation precomputed (callers that derive
    several count kinds from one batch persist it so the tokenize
    runs once — r14, guide §1.2)."""
    return (doc_tokens(docs) if toked is None else toked).select(
        "doc_id",
        "lang",
        F.explode(shingles(F.col("toks"), 2)).alias("bg"),
    )


def train_slice(docs: DataFrame) -> DataFrame:
    """The reference slice the LM is fitted on: even doc_ids (a
    deterministic half; production would point this at a curated
    reference corpus, e.g. Wikipedia — CCNet's choice)."""
    return docs.where(F.col("doc_id") % 2 == 0)


def bigram_counts(docs: DataFrame, toked: DataFrame | None = None) -> DataFrame:
    """Per-language bigram counts of a corpus slice:
    (lang, bg, c_uw).  One corpus pass, map-side combinable.
    ``toked`` as on :func:`doc_bigrams`."""
    return (
        doc_bigrams(docs, toked)
        .groupBy("lang", "bg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_uw"))
    )


def context_counts(big: DataFrame) -> DataFrame:
    """Context totals derived from bigram counts (vocabulary-sized
    input, never the corpus): (lang, ctx, c_u) where
    c_u = sum over continuations — the smoothing denominator base."""
    return (
        big.select(
            "lang",
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("ctx"),
            "c_uw",
        )
        .groupBy("lang", "ctx")
        .agg(F.sum("c_uw").cast("bigint").alias("c_u"))
    )


def vocab_sizes(docs: DataFrame) -> DataFrame:
    """Per-language vocabulary size of a corpus slice:
    (lang, vocab_v).  |langs| rows — always broadcastable."""
    return (
        doc_tokens(docs)
        .select("lang", F.explode(F.col("toks")).alias("tok"))
        .groupBy("lang")
        .agg(F.count_distinct(F.col("tok")).cast("bigint").alias("vocab_v"))
    )


def doc_fluency_scores(
    docs: DataFrame,
    big: DataFrame,
    ctx: DataFrame,
    vocab: DataFrame,
) -> DataFrame:
    """Score every document of ``docs`` under the LM given by
    (``big``, ``ctx``, ``vocab``): (doc_id, lang, score) where score
    is the mean inverse smoothed conditional probability
    ``(c_u + V) / (c_uw + 1)`` over the doc's bigram occurrences.

    Unseen bigrams/contexts coalesce to 0 (pure smoothing mass);
    documents of a language absent from the vocabulary table drop
    (inner join — mirrored in the oracle).  Docs with < 2 tokens have
    no bigrams and drop likewise."""
    pairs = doc_bigrams(docs)
    term = (
        (F.coalesce(F.col("c_u"), F.lit(0)) + F.col("vocab_v")).cast(
            "double"
        )
        / (F.coalesce(F.col("c_uw"), F.lit(0)) + F.lit(1)).cast("double")
    )
    return (
        pairs.join(big, ["lang", "bg"], "left")
        .withColumn(
            "ctx", F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
        )
        .join(ctx, ["lang", "ctx"], "left")
        .join(F.broadcast(vocab), "lang")
        .select("doc_id", "lang", term.alias("term"))
        .groupBy("doc_id", "lang")
        .agg(davg(F.col("term"), "score"))
    )


def feature_bucket(col: Column) -> Column:
    """Fold a string into one of N_FEATURE_BUCKETS hash buckets via
    the first two md5 hex chars — deterministic in both engines."""
    h = F.md5(col)
    return (
        F.ascii(F.substring(h, 1, 1)) * 16 + F.ascii(F.substring(h, 2, 1))
    ) % N_FEATURE_BUCKETS


def sql_feature_bucket(expr: str) -> str:
    return (
        f"((ascii(substr(md5({expr}), 1, 1)) * 16 + "
        f"ascii(substr(md5({expr}), 2, 1))) % {N_FEATURE_BUCKETS})"
    )


# --- shared oracle CTE fragments (DuckDB twins of the above) --------


def sql_lm_ctes(where_clause: str = "doc_id % 2 = 0") -> str:
    """The fitted-LM CTEs: train slice, per-lang vocab sizes, bigram
    counts, context totals.  Twin of train_slice + bigram_counts +
    context_counts + vocab_sizes.  ``where_clause`` picks the slice
    (the erasure sim fits on the survivors)."""
    return f"""
    lm_train AS (
      SELECT doc_id, lang, {sql_tokens('text')} AS toks
      FROM documents WHERE {where_clause}
    ),
    lm_vocab AS (
      SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab_v
      FROM (SELECT lang, unnest(toks) AS tok FROM lm_train)
      GROUP BY lang
    ),
    lm_pairs AS (
      SELECT lang, unnest({sql_shingles('toks', 2)}) AS bg FROM lm_train
    ),
    lm_big AS (
      SELECT lang, bg, CAST(COUNT(*) AS BIGINT) AS c_uw
      FROM lm_pairs GROUP BY lang, bg
    ),
    lm_ctx AS (
      SELECT lang, split_part(bg, ' ', 1) AS ctx,
             CAST(SUM(c_uw) AS BIGINT) AS c_u
      FROM lm_big GROUP BY lang, split_part(bg, ' ', 1)
    )"""


def sql_doc_scores_ctes(score_where: str = "TRUE") -> str:
    """Scoring CTEs on top of :func:`sql_lm_ctes`: every document's
    bigram occurrences, smoothed inverse-probability terms, and the
    per-doc davg score.  Twin of doc_fluency_scores.  ``score_where``
    picks the scored slice (the streaming scoring sim scores only the
    held-out half)."""
    from ..functions.core import sql_davg

    return f"""
    lm_sdocs AS (
      SELECT doc_id, lang, {sql_tokens('text')} AS toks
      FROM documents WHERE {score_where}
    ),
    lm_spairs AS (
      SELECT doc_id, lang, unnest({sql_shingles('toks', 2)}) AS bg
      FROM lm_sdocs
    ),
    lm_terms AS (
      SELECT p.doc_id, p.lang,
             (CAST(COALESCE(c.c_u, 0) + v.vocab_v AS DOUBLE)
              / CAST(COALESCE(b.c_uw, 0) + 1 AS DOUBLE)) AS term
      FROM lm_spairs p
      LEFT JOIN lm_big b ON b.lang = p.lang AND b.bg = p.bg
      LEFT JOIN lm_ctx c ON c.lang = p.lang
                        AND c.ctx = split_part(p.bg, ' ', 1)
      JOIN lm_vocab v ON v.lang = p.lang
    ),
    lm_scores AS (
      SELECT doc_id, lang, {sql_davg('term')} AS score
      FROM lm_terms GROUP BY doc_id, lang
    )"""


def trigram_counts(docs: DataFrame, toked: DataFrame | None = None) -> DataFrame:
    """Per-language trigram counts of a corpus slice: (lang, tg, c3).
    One corpus pass, map-side combinable — bigram_counts one order up,
    the raw material for trigram KN (all continuation-type tables
    DERIVE from these counts, so a generational store only needs the
    associative counts themselves).  ``toked`` as on
    :func:`doc_bigrams`."""
    return (
        (doc_tokens(docs) if toked is None else toked)
        .select("lang", F.explode(shingles(F.col("toks"), 3)).alias("tg"))
        .groupBy("lang", "tg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c3"))
    )


def kn_trigram_terms(docs: DataFrame, train: DataFrame) -> DataFrame:
    """Per-trigram-event interpolated Kneser-Ney terms at order 3
    (Chen & Goodman 1999 eq. 18 with fixed discount D = 3/4): one row
    per trigram occurrence of ``docs`` scored under counts fitted on
    ``train`` — (doc_id, lang, lvl, term) where ``term`` is the
    INVERSE interpolated probability (1/P, the family's log-free
    fluency unit) and ``lvl`` records which order served the event
    (3 = trigram context seen, 2 = backed off to the continuation
    bigram distribution, 1 = pure smoothed continuation unigram).

    Every level's distribution sums to EXACTLY 1 over the training
    vocabulary (the interpolation weights use the trigram-table
    continuation-type counts, and Pcont's +1 smoothing normalizes by
    construction) — pinned by tests/test_lm.py.  Each term is one
    IEEE division of sums of products of exact BIGINT counts, every
    factor cast to double BEFORE multiplying in a fixed association
    order, so DuckDB replays it bit-for-bit (lm_kn_score discipline).

    Scale shape: the count/continuation tables are vocab-bounded
    (production prunes singletons — documented knob), the corpus is
    passed twice, and every join key is (lang, ngram)."""
    return kn_trigram_terms_from_counts(
        docs, trigram_counts(train), bigram_counts(train),
        vocab_sizes(train),
    )


def kn_trigram_terms_from_counts(
    docs: DataFrame,
    tri: DataFrame,
    big: DataFrame,
    vocab: DataFrame,
) -> DataFrame:
    """:func:`kn_trigram_terms` with the raw count tables supplied by
    the caller — (lang, tg, c3), (lang, bg, c_uw), (lang, vocab_v) —
    so the SAME arithmetic scores against a frozen generation of the
    streaming count store (lm_store.serve_trigram_counts /
    serve_bigram_counts / serve_vocab_sizes): every continuation-type
    table derives here from the merged counts, which equal a refit's
    by associativity, so store-served KN == refit KN exactly."""

    def p(n: int) -> Column:
        return F.split_part(F.col("tg"), F.lit(" "), F.lit(n))

    uv = F.concat_ws(" ", p(1), p(2))
    vw_ = F.concat_ws(" ", p(2), p(3))
    tctx = (
        tri.select("lang", uv.alias("uv"), "c3")
        .groupBy("lang", "uv")
        .agg(
            F.sum("c3").cast("bigint").alias("c_uv"),
            F.count(F.lit(1)).cast("bigint").alias("n1t"),
        )
    )
    n1vw = (
        tri.select("lang", vw_.alias("vw"))
        .groupBy("lang", "vw")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n1vw"))
    )
    n1mid = (
        tri.select("lang", p(2).alias("v"), p(3).alias("w3"))
        .groupBy("lang", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n1mid"),
            F.count_distinct(F.col("w3")).cast("bigint").alias("n1fw"),
        )
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

    ev = (
        doc_tokens(docs)
        .select(
            "doc_id",
            "lang",
            F.explode(shingles(F.col("toks"), 3)).alias("tg"),
        )
        .withColumn("uv", uv)
        .withColumn("vw", vw_)
        .withColumn("v", p(2))
        .withColumn("w", p(3))
    )
    joined = (
        ev.join(tri, ["lang", "tg"], "left")
        .join(tctx, ["lang", "uv"], "left")
        .join(n1vw, ["lang", "vw"], "left")
        .join(n1mid, ["lang", "v"], "left")
        .join(n1w.withColumnRenamed("tok", "w"), ["lang", "w"], "left")
        .join(F.broadcast(vocab), "lang")
        .join(F.broadcast(types), "lang")
    )
    tv = (F.col("n_types") + F.col("vocab_v")).cast("double")
    a3 = F.greatest(
        F.lit(0), 4 * F.coalesce(F.col("c3"), F.lit(0)) - 3
    ).cast("double")
    p2den = F.lit(4.0) * F.col("n1mid").cast("double") * tv
    p2num = (
        F.greatest(
            F.lit(0), 4 * F.coalesce(F.col("n1vw"), F.lit(0)) - 3
        ).cast("double")
        * tv
        + F.lit(3.0)
        * F.col("n1fw").cast("double")
        * (F.coalesce(F.col("n1w"), F.lit(0)) + 1).cast("double")
    )
    term = (
        F.when(
            F.col("c_uv").isNotNull(),
            (F.lit(4.0) * F.col("c_uv").cast("double") * p2den)
            / (
                a3 * p2den
                + F.lit(3.0) * F.col("n1t").cast("double") * p2num
            ),
        )
        .when(F.col("n1mid").isNotNull(), p2den / p2num)
        .otherwise(
            tv / (F.coalesce(F.col("n1w"), F.lit(0)) + 1).cast("double")
        )
    )
    lvl = (
        F.when(F.col("c_uv").isNotNull(), F.lit(3))
        .when(F.col("n1mid").isNotNull(), F.lit(2))
        .otherwise(F.lit(1))
    )
    return joined.select(
        "doc_id", "lang", lvl.alias("lvl"), term.alias("term")
    )
