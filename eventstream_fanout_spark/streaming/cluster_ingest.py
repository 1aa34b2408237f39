"""Streaming maintenance of a clustering-state store under a FROZEN
centroid generation — the centroid-refresh pipeline shape.

Why frozen: a centroid that moves mid-stream makes the maintained
state depend on trigger order (each batch would assign against
whatever the state happened to be), so a reprocess could not converge
to the same store.  Production k-means maintenance therefore splits
the two time scales: a scheduled FIT freezes a centroid generation
(``build_cluster_fit_store``), the stream assigns every incoming
vector against that frozen generation and appends mergeable
per-(cluster, dim) SUM+COUNT deltas (``cluster_sums_sink`` —
batch-id-keyed dynamic overwrite, so trigger replays and full
reprocesses from a fresh checkpoint converge bit-for-bit), and
serving floor-means the merged sums into the REFRESHED centroids the
next scheduled fit starts from (``read_refreshed_centroids`` also
reports each cluster's L1 drift — the quantizer-drift signal, same
role as ann_recall_after_churn's refit trigger).

The declarative twins (plans/clustering_queries.py
``kmeans_minibatch_sim`` / ``kmeans_erasure_sim``) hash-prove the
sequential as-of and erasure semantics; this module carries the
PHYSICAL contract — real readStream, real checkpoints, real
partitioned parquet state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.clustering import (
    assign_clusters,
    centroid_checksum_col,
    centroid_sums,
    kmeans_fit_q,
    quantize_vectors,
)
from .compaction import write_generation


def build_cluster_fit_store(
    spark: SparkSession, emb_base: DataFrame, path: str
) -> None:
    """Fit on the base corpus and FREEZE the centroid generation:
    (cluster_id, i, c) exploded rows at ``path``/centroids."""
    _, cents = kmeans_fit_q(
        quantize_vectors(emb_base).localCheckpoint(eager=True)
    )
    (
        cents.select(
            "cluster_id", F.posexplode("c").alias("i", "c")
        )
        .write.mode("overwrite")
        .parquet(f"{path}/centroids")
    )


def _frozen_centroids(spark: SparkSession, path: str) -> DataFrame:
    rows = spark.read.parquet(f"{path}/centroids")
    return rows.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))),
            lambda s: s.getField("c"),
        ).alias("c")
    )


def cluster_sums_sink(path: str):
    """foreachBatch sink: assign the micro-batch against the FROZEN
    generation and land its per-(cluster, dim) SUM+COUNT delta under
    its batch_id partition (dynamic overwrite — a replayed trigger
    overwrites its own partition with identical rows, the repo-wide
    effectively-once contract)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        cents = _frozen_centroids(spark, path)
        asg = assign_clusters(quantize_vectors(batch_df), cents)
        write_generation(
            centroid_sums(asg)
            .select(
                F.lit(int(batch_id)).cast("int").alias("batch_id"),
                "cluster_id",
                "i",
                "s",
                "n",
            ),
            f"{path}/sums",
        )

    return sink


def read_refreshed_centroids(
    spark: SparkSession, path: str
) -> DataFrame:
    """Serve the refresh artifact: merged sums floor-mean into the
    refreshed centroids; per cluster also the member count, a
    1-based position-weighted checksum, and the L1 drift against the
    frozen generation (the refit-trigger signal)."""
    sums = spark.read.parquet(f"{path}/sums")
    tot = sums.groupBy("cluster_id", "i").agg(
        F.sum("s").cast("long").alias("s"),
        F.sum("n").cast("long").alias("n"),
    )
    refreshed = tot.groupBy("cluster_id").agg(
        F.min("n").cast("long").alias("n_members"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "i",
                        F.floor(
                            F.col("s").cast("double") / F.col("n")
                        )
                        .cast("long")
                        .alias("cx"),
                    )
                )
            ),
            lambda st: st.getField("cx"),
        ).alias("rc"),
    )
    frozen = _frozen_centroids(spark, path)
    return (
        refreshed.join(frozen, "cluster_id")
        .select(
            "cluster_id",
            "n_members",
            centroid_checksum_col(F.col("rc")).alias(
                "refreshed_checksum"
            ),
            F.aggregate(
                F.zip_with(
                    F.col("rc"),
                    F.col("c"),
                    lambda a, b: F.abs(a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("drift_l1"),
        )
        .orderBy("cluster_id")
    )
