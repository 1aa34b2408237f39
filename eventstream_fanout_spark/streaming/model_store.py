"""Persisted fitted-model store + streaming scoring sink.

The serving side of operators/classify.py: a curation pipeline fits a
classifier offline, persists it, and scores document micro-batches as
they stream in.  This module gives the token-weight classifier the
same store discipline as the ANN/text indexes:

- the model is GENERATIONAL — each ``save_token_model`` writes the
  (weights, priors) relations under a ``gen=<n>`` partition, so a
  refit lands as a new generation without touching the serving one
  and scoring reads the latest generation atomically (a partial
  write of generation N is invisible until its priors partition —
  written last — exists);
- the scoring sink is batch-id-keyed: predictions land under
  ``batch_id=<n>`` with dynamic partition overwrite, so a replayed
  micro-batch rewrites its own partition byte-for-byte (the repo's
  standard effectively-once contract, cf. streaming/fanout.py:39).

Scale: the fitted model is classes x vocab — large but static;
scoring joins each micro-batch's distinct (doc, token) pairs against
the weight relation keyed by token (partial-aggregated first, see
token_weight_classify), so per-batch cost is O(batch), never
O(corpus) and never O(model refits).

100 TB note: at web-scale vocabulary the weight relation should be
bucketed by ``tok`` so the per-batch join co-locates without a
model-side shuffle (compaction.write_table_generation, the layout of
the graph and LM stores); at the fixture scales the plain
parquet store + shuffle join measures faster, so bucketing stays a
documented knob rather than a default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.classify import token_weight_classify
from .compaction import read_store_or_none, write_generation


def save_token_model(
    spark: SparkSession,
    path: str,
    weights: DataFrame,
    priors: DataFrame,
    generation: int,
) -> None:
    """Persist one model generation (idempotent per generation).

    Weights first, priors last: ``load_token_model`` keys "latest
    complete generation" off the priors relation, so a crash between
    the two writes leaves the new generation invisible and a re-run
    of the SAME call heals it (dynamic overwrite of the partition).
    """
    for rel, df in (("weights", weights), ("priors", priors)):
        write_generation(
            df.withColumn("gen", F.lit(generation).cast("int")),
            f"{path}/{rel}",
            "gen",
        )


def load_token_model(
    spark: SparkSession, path: str, generation: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Load one model generation — the latest COMPLETE one (max gen in
    priors) by default, or a pinned ``generation``.

    The one-row gen selector broadcasts into both reads; the weights
    scan is partition-pruned to that generation.
    """
    priors_all = spark.read.parquet(f"{path}/priors")
    if generation is None:
        sel = priors_all.agg(F.max("gen").alias("gen"))
    else:
        sel = spark.range(1).select(
            F.lit(generation).cast("int").alias("gen")
        )
    weights = (
        spark.read.parquet(f"{path}/weights")
        .join(F.broadcast(sel), "gen")
        .drop("gen")
    )
    priors = priors_all.join(F.broadcast(sel), "gen").drop("gen")
    return weights, priors


def _pinned_gen(
    spark: SparkSession, out_path: str, batch_id: int
) -> int | None:
    markers = read_store_or_none(spark, f"{out_path}/markers")
    if markers is None:
        return None
    rows = markers.where(F.col("batch_id") == batch_id).collect()
    return int(rows[0]["gen"]) if rows else None


def streaming_scoring_sink(
    model_path: str, out_path: str, class_col: str = "lang"
):
    """foreachBatch sink: score each micro-batch against ONE pinned
    model generation.

    ``out_path`` holds two relations: ``preds/`` (batch-id-keyed
    predictions, each row carrying the generation that scored it) and
    ``markers/`` (batch -> generation pins).  The marker is written
    FIRST: a crash-replay — even one that races a model refresh —
    re-reads the pin and rescores with the ORIGINAL generation, so
    replay is byte-identical no matter what the model store did in
    between (the marker-first contract of streaming/ann_ingest.py's
    upsert path, applied to model serving).  Both writes are dynamic
    partition overwrites on batch_id, so every crash window heals by
    re-running the same call.  The pin lookup collects one
    request-sized row (markers are one row per micro-batch)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        gen = _pinned_gen(spark, out_path, batch_id)
        if gen is None:
            latest = (
                spark.read.parquet(f"{model_path}/priors")
                .agg(F.max("gen"))
                .collect()[0][0]
            )
            gen = int(latest)
            write_generation(
                spark.range(1)
                .select(
                    F.lit(batch_id).cast("long").alias("batch_id"),
                    F.lit(gen).cast("int").alias("gen"),
                ),
                f"{out_path}/markers",
            )
        weights, priors = load_token_model(spark, model_path, generation=gen)
        preds = token_weight_classify(batch_df, weights, priors, class_col)
        write_generation(
            preds.withColumn("gen", F.lit(gen).cast("int"))
            .withColumn("batch_id", F.lit(batch_id).cast("long")),
            f"{out_path}/preds",
        )

    return sink
