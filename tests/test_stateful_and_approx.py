"""Equivalence/accuracy tests for the operators the SQL oracle can't
check: the applyInPandasWithState running totals (batch equivalence)
and approx_count_distinct (error bound vs exact)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eventstream_fanout_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_stateful_totals_match_batch(spark, tmp_path):
    """Final applyInPandasWithState totals across multiple micro-batches
    must equal the batch groupBy over the same data."""
    from eventstream_fanout_spark.streaming.stateful import running_user_totals

    import os

    events = load_table(spark, SF_SMOKE, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)
    # two flat files -> with maxFilesPerTrigger=1, two micro-batches
    # (the file source does not recurse into df.write's directories)
    pdf = events.toPandas()
    pdf[pdf["event_id"] % 2 == 0].to_parquet(f"{src}/a.parquet", index=False)
    pdf[pdf["event_id"] % 2 == 1].to_parquet(f"{src}/b.parquet", index=False)
    stream = (
        spark.readStream.schema(
            spark.read.parquet(f"{src}/a.parquet").schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    totals = running_user_totals(stream)
    q = (
        totals.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_eq")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM stateful_eq")
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
        final = {
            r["user_id"]: (r["n_events"], round(r["total_value"], 6))
            for r in out.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .collect()
        }
    finally:
        q.stop()
    batch = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in running_user_totals(events).collect()
    }
    assert final == batch
    # and the stream genuinely ran >1 batch (cumulative emissions exist)
    assert spark.sql("SELECT count(*) FROM stateful_eq").collect()[0][0] > len(
        batch
    )


def test_approx_distinct_error_bound(spark):
    from eventstream_fanout_spark.plans.registry import QUERIES

    rows = QUERIES["approx_distinct_users"].fn(spark, SF_SMOKE).collect()
    exact = {
        r["event_type"]: r["n"]
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert {r["event_type"] for r in rows} == set(exact)
    for r in rows:
        assert r["exact_users"] == exact[r["event_type"]]
        assert r["hllpp_within_10pct"], (
            r["event_type"], r["exact_users"],
        )
    # the raw estimate (recomputed) stays within 10% relative
    approx = {
        r["event_type"]: r["a"]
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("a"))
        .collect()
    }
    for k in exact:
        rel_err = abs(approx[k] - exact[k]) / max(exact[k], 1)
        assert rel_err < 0.1, (k, approx[k], exact[k])


def test_approx_quantiles_error_bound(spark, duck):
    """approx_percentile(accuracy=10000) must land inside the exact
    rank brackets the sandwich query now emits (within_bound TRUE on
    every row), and the brackets themselves must agree with DuckDB's
    discrete quantiles at the same margins."""
    from eventstream_fanout_spark.plans.registry import QUERIES
    from tests.conftest import SF_ORACLE

    rows = QUERIES["approx_quantiles_value"].fn(spark, SF_ORACLE).collect()
    assert len(rows) == 25  # 5 event types x 5 quantiles
    assert all(r["within_bound"] for r in rows), [
        (r["event_type"], r["quantile"]) for r in rows if not r["within_bound"]
    ]
    for r in rows:
        assert r["lo_exact"] <= r["hi_exact"]
        lo, hi = max(0.0, r["quantile"] - 0.03), min(1.0, r["quantile"] + 0.03)
        bracket = duck.execute(
            """
            SELECT quantile_disc(value, ?) AS lo, quantile_disc(value, ?) AS hi
            FROM events WHERE event_type = ?
            """,
            [lo, hi, r["event_type"]],
        ).fetchone()
        # the emitted rank brackets sit inside the slightly-wider
        # DuckDB discrete-quantile envelope (rank conventions differ
        # by at most one element)
        assert bracket[0] <= r["lo_exact"] and r["hi_exact"] <= bracket[1], (
            r["event_type"], r["quantile"], r["lo_exact"], r["hi_exact"],
            bracket,
        )


def test_observation_metrics_zero_extra_pass(spark):
    """Data-quality counters via df.observe(): metrics accumulate
    DURING the action (one pass, no second scan) — the ingest-time DQ
    hook a 100 TB pipeline needs instead of a separate validation job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from eventstream_fanout_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events")
    obs = Observation("dq")
    observed = events.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_values"),
        F.sum(
            (~F.col("event_type").isin(
                "click", "view", "purchase", "signup", "error"
            )).cast("long")
        ).alias("bad_enum"),
    )
    n = observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["n_rows"] == events.count()
    assert got["bad_enum"] == 0
    assert got["null_values"] >= 0


def test_theta_sketch_estimates_bounded(spark):
    """The sandwich query's exact set-op cardinalities must equal
    independently-computed set sizes, its 5% boolean must hold, and the
    raw theta estimates (recomputed here) must stay internally
    consistent under the sketch algebra."""
    from eventstream_fanout_spark.plans.registry import QUERIES

    r = QUERIES["theta_sketch_user_sets"].fn(spark, SF_ORACLE).collect()[0]
    e = load_table(spark, SF_ORACLE, "events")
    p = {
        x[0]
        for x in e.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .collect()
    }
    x = {
        x[0]
        for x in e.where(F.col("event_type") == "error")
        .select("user_id")
        .distinct()
        .collect()
    }
    assert r["purchasers_exact"] == len(p)
    assert r["error_users_exact"] == len(x)
    assert r["either_exact"] == len(p | x)
    assert r["both_exact"] == len(p & x)
    assert r["purch_only_exact"] == len(p - x)
    assert r["theta_within_5pct"]
    # internal consistency of the raw sketch algebra
    est = e.groupBy().agg(
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("purch"),
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "error", F.col("user_id"))
        ).alias("err"),
    ).select(
        F.theta_sketch_estimate("purch").alias("pe"),
        F.theta_sketch_estimate("err").alias("ee"),
        F.theta_sketch_estimate(
            F.theta_union(F.col("purch"), F.col("err"))
        ).alias("ue"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("purch"), F.col("err"))
        ).alias("ie"),
    ).collect()[0]
    assert est["ue"] >= max(est["pe"], est["ee"])
    assert est["ie"] <= min(est["pe"], est["ee"])


def test_hll_merge_lossless_and_bounded(spark):
    """Folding per-day HLL sketches must give the same estimate as one
    direct pass (merge losslessness — the property that makes a rollup
    table of sketch bytes re-aggregatable), and land near exact."""
    from eventstream_fanout_spark.plans.registry import QUERIES

    row = (
        QUERIES["hll_daily_merge_distinct"]
        .fn(spark, SF_ORACLE)
        .collect()[0]
    )
    e = load_table(spark, SF_ORACLE, "events")
    direct = (
        e.agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", 14)
            ).cast("long")
        ).collect()[0][0]
    )
    merged = (
        e.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.hll_sketch_agg("user_id", 14).alias("sk"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long")
        )
        .collect()[0][0]
    )
    exact = e.select("user_id").distinct().count()
    assert merged == direct  # merge losslessness
    assert row["distinct_users_exact"] == exact
    assert row["hll_within_5pct"]
    assert row["n_days"] > 1  # the fold genuinely merged sketches


def test_kll_merge_count_exact_and_quantiles_bounded(spark, duck):
    """The KLL daily-merge rollup: merged total count must be EXACT,
    and each quantile estimate must land inside the exact values
    bracketing +-2% rank (k=200 guarantees ~1.3% single-sketch rank
    error; merging compounds it slightly)."""
    from eventstream_fanout_spark.plans.registry import QUERIES

    rows = (
        QUERIES["kll_daily_merge_quantiles"]
        .fn(spark, SF_ORACLE)
        .collect()
    )
    assert {r["quantile"] for r in rows} == {0.5, 0.9, 0.99}
    exact_n = load_table(spark, SF_ORACLE, "events").count()
    for r in rows:
        # within_bound also asserts the merged sketch's n == COUNT(*)
        assert r["n_total"] == exact_n
        assert r["within_bound"], (r["quantile"], r["lo_exact"], r["hi_exact"])
        lo_q, hi_q = max(0.0, r["quantile"] - 0.05), min(
            1.0, r["quantile"] + 0.05
        )
        lo, hi = duck.execute(
            "SELECT quantile_disc(value, ?), quantile_disc(value, ?) "
            "FROM events",
            [lo_q, hi_q],
        ).fetchone()
        assert lo <= r["lo_exact"] and r["hi_exact"] <= hi, (
            r["quantile"], r["lo_exact"], r["hi_exact"], lo, hi,
        )
