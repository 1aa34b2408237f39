"""Streaming-surface queries.

Two kinds of correctness evidence:

* ``cdc_parse_roundtrip`` — the CDC envelope parser verified against a
  plain relational oracle (the round-trip must be the identity).
* ``stream_enrich_availablenow`` / ``stream_window_counts_watermark`` —
  real Structured Streaming executions (file source, availableNow,
  memory sink) whose results a *batch* SQL oracle predicts exactly:
  stateless enrichment equals the batch plan; watermarked append-mode
  window counts equal the batch windows closed by the final watermark
  (window_end <= max(ts) - delay).  This upgrades the usual
  "rows-only" streaming check into a hash-checked one.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.enrichment import enrich_events
from ..sources.cdc import parse_cdc_envelope, to_cdc_json
from ..sources.tables import load_table, load_table_stream
from .reference_queries import _FLAGSHIP_ORACLE
from ..streaming import await_or_raise
from .registry import register


@register(
    "cdc_parse_roundtrip",
    """
    SELECT event_id, ts, user_id, event_type, value, props, 'c' AS op
    FROM events
    """,
    description="Debezium envelope wire-format round-trip: wrap events "
    "in CDC JSON, parse with the typed from_json envelope schema "
    "(reference P1-P5, pipeline/app.py:44-53) — must be the identity",
    tags=("streaming", "cdc", "json"),
)
def cdc_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return parse_cdc_envelope(to_cdc_json(events)).select(
        "event_id", "ts", "user_id", "event_type", "value", "props", "op"
    )


def _run_to_memory(stream_df: DataFrame, spark: SparkSession) -> DataFrame:
    """Drain a streaming DataFrame with availableNow into a memory sink
    and return the materialized result."""
    name = f"q_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    return spark.table(name)


@register(
    "stream_enrich_availablenow",
    _FLAGSHIP_ORACLE,
    description="the flagship enrichment executed as a real Structured "
    "Streaming query (file source, availableNow, memory sink) — "
    "stateless transform, so the batch oracle predicts it exactly",
    tags=("streaming", "join", "derived"),
)
def stream_enrich_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table_stream(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    return _run_to_memory(enrich_events(events, customer), spark)


@register(
    "stream_window_counts_watermark",
    """
    WITH base AS (
      SELECT make_timestamp((epoch_us(ts) - (epoch_us(ts) % 600000000)))
               AS window_start,
             event_type,
             COUNT(*) AS n_events
      FROM events
      GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events
    FROM base
    WHERE epoch_us(window_start) + 600000000
          <= (SELECT max(epoch_us(ts)) FROM events) - 600000000
    """,
    description="watermarked append-mode tumbling window counts as a real "
    "streaming query; oracle = batch windows closed by the final "
    "watermark (window_end <= max(ts) - 10min)",
    tags=("streaming", "window", "watermark"),
)
def stream_window_counts_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.aggregates import windowed_counts

    events = load_table_stream(spark, sf_dir, "events")
    counts = windowed_counts(events, "event_type", width="10 minutes")
    out = _run_to_memory(counts, spark)
    return out.select("window_start", "event_type", "n_events")


@register(
    "stream_leaderboard_complete",
    """
    SELECT * FROM (
      SELECT window_start, user_id, n_events,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY n_events DESC, user_id ASC) AS rank
      FROM (
        SELECT make_timestamp((epoch_us(ts) - (epoch_us(ts) % 86400000000)))
                 AS window_start,
               user_id, COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
      )
    ) WHERE rank <= 10
    """,
    description="streaming leaderboard, complete-mode daily window counts "
    "(the reference's Redis ZSET semantics: full rebuild per trigger) + "
    "top-10 rank — complete mode drops nothing, so the batch oracle "
    "predicts it exactly",
    tags=("streaming", "window", "topk"),
)
def stream_leaderboard_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from ..streaming.aggregates import leaderboard

    events = load_table_stream(spark, sf_dir, "events")
    counts = (
        events.groupBy(
            F.window(F.col("ts"), "1 day").alias("win"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"), "user_id", "n_events"
        )
    )
    name = f"q_{_uuid.uuid4().hex[:12]}"
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    return leaderboard(spark.table(name), 10, "user_id")


@register(
    "stream_interval_join",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id, p.ts AS purchase_ts, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts > p.ts - INTERVAL 1 HOUR
    """,
    description="stream-stream interval join (watermarked both sides, "
    "two-sided time bound for state eviction) executed as a real "
    "streaming query — inner-join completeness means the batch oracle "
    "predicts it exactly",
    tags=("streaming", "join", "interval"),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.joins import interval_join

    events = load_table_stream(spark, sf_dir, "events")
    p = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id"), F.col("user_id"), F.col("ts")
    )
    c = (
        load_table_stream(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_event_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = interval_join(
        p.withColumnRenamed("user_id", "key"),
        c.withColumnRenamed("c_user_id", "key"),
        key="key",
        left_ts="ts",
        right_ts="c_ts",
    ).select(
        F.col("event_id").alias("purchase_id"),
        F.col("c_event_id").alias("click_id"),
        F.col("key").alias("user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("c_ts").alias("click_ts"),
    )
    return _run_to_memory(joined, spark)


@register(
    "stream_session_window_watermark",
    """
    WITH ordered AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER
                    (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
                  > 1800000000
                  OR LAG(ts) OVER
                    (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                    IS NULL
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, event_id, ts,
             CAST(SUM(is_new_session) OVER
               (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      FROM ordered
    ),
    agg AS (
      SELECT user_id,
             MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 1800 SECONDS AS session_end_padded,
             COUNT(*) AS n_events
      FROM sessions
      GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end_padded, n_events
    FROM agg
    WHERE session_end_padded <= (SELECT MAX(ts) FROM events)
                                - INTERVAL 600 SECONDS
    """,
    description="native session_window (30-min gap) as a real streaming "
    "query with a 10-min watermark, append mode: only sessions the "
    "final watermark has closed are emitted, so the batch "
    "sessionization oracle filtered to session_end <= max(ts) - delay "
    "predicts the result exactly (stateful merging session store)",
    tags=("streaming", "session", "watermark", "stateful"),
)
def stream_session_window_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table_stream(spark, sf_dir, "events").withWatermark(
        "ts", "600 seconds"
    )
    win = F.session_window(F.col("ts"), "1800 seconds")
    sessions = (
        events.groupBy(win.alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end_padded"),
            "n_events",
        )
    )
    return _run_to_memory(sessions, spark)


@register(
    "stream_dedup_distinct",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    description="streaming exact dedup (W3): dropDuplicates over the "
    "event stream keyed on (user_id, event_type), append mode — each "
    "key's first arrival is emitted exactly once, so projecting the "
    "key columns makes the batch DISTINCT oracle predict the result "
    "exactly regardless of arrival order",
    tags=("streaming", "dedup"),
)
def stream_dedup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table_stream(spark, sf_dir, "events")
    deduped = events.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _run_to_memory(deduped, spark)


@register(
    "stream_stateful_user_totals",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           (CAST(SUM(CAST(FLOOR(
              (CASE WHEN value IS NULL OR isnan(value)
                    THEN 0.0 ELSE value END) * 1000000000.0 + 0.5)
              AS BIGINT)) AS DOUBLE) / 1000000000.0) AS total_value
    FROM events GROUP BY user_id
    """,
    description="custom stateful operator: applyInPandasWithState running "
    "per-user totals (state-store-backed version of the reference's Redis "
    "INCRBY counters), driven as a REAL update-mode stream inside the "
    "query; latest emission per user = final totals.  Round 7 upgraded "
    "this from rows-only to hash-checked: the state accumulates exact "
    "nano-quantized BIGINTs (order-independent across any micro-batch "
    "split), so the streamed totals equal the SQL oracle bit-for-bit",
    tags=("streaming", "stateful", "applyInPandasWithState"),
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import running_user_totals

    events = load_table_stream(spark, sf_dir, "events")
    totals = running_user_totals(events)
    name = f"q_{uuid.uuid4().hex[:12]}"
    q = (
        totals.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    # latest emission per user = the final totals
    from pyspark.sql import Window

    out = spark.table(name)
    w = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    )
    return out.withColumn("rn", w).where(F.col("rn") == 1).drop("rn")


@register(
    "bad_records_quarantine",
    """
    SELECT event_id AS orig_event_id,
           (event_id % 13 = 0) AS is_quarantined,
           (CASE WHEN event_id % 13 <> 0 THEN event_id END)
             AS parsed_event_id,
           (CASE WHEN event_id % 13 <> 0 THEN
              (CASE WHEN isnan(value) THEN -1.0 ELSE value END) END)
             AS parsed_value
    FROM events
    """,
    description="bad-records quarantine: every 13th event's JSON "
    "payload is deterministically corrupted before a typed from_json "
    "parse; unparseable rows route to quarantine (null struct -> "
    "flagged, payload retained for ops) instead of being dropped "
    "silently. The oracle predicts by construction which rows MUST "
    "fail, so the query verifies Spark's actual parse/fail behavior "
    "on both populations",
    tags=("streaming", "quality", "quarantine"),
)
def bad_records_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    e = load_table(spark, sf_dir, "events")
    # nanvl guard: to_json renders NaN as an invalid JSON token, which
    # would quarantine rows the construction-based oracle doesn't
    # predict — map non-finite values to a sentinel on BOTH sides so
    # the only parse failures are the injected corruptions
    payload = F.to_json(
        F.struct(
            F.col("event_id").alias("id"),
            F.nanvl(F.col("value"), F.lit(-1.0)).alias("v"),
        )
    )
    corrupted = F.when(
        F.col("event_id") % 13 == 0, F.concat(F.lit("garbage{"), payload)
    ).otherwise(payload)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    raw = e.select(
        F.col("event_id").alias("orig_event_id"), corrupted.alias("raw")
    )
    parsed = raw.withColumn("p", F.from_json(F.col("raw"), schema))
    # PERMISSIVE from_json yields a struct of NULLs (not a NULL struct)
    # for malformed input — quarantine on the mandatory field
    return parsed.select(
        "orig_event_id",
        F.col("p.id").isNull().alias("is_quarantined"),
        F.col("p.id").alias("parsed_event_id"),
        F.col("p.v").alias("parsed_value"),
    )


@register(
    "schema_drift_report",
    """
    WITH drifted AS (
      SELECT event_id,
             CASE WHEN event_id % 9 = 0 THEN '{"legacy": true}'
                  WHEN event_id % 5 = 0
                  THEN substr(props, 1, length(props) - 1)
                       || ', "trace_id": "t"}'
                  ELSE props END AS aug
      FROM events
    ),
    keyed AS (
      SELECT event_id, unnest(json_keys(aug)) AS key FROM drifted
    )
    SELECT key,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           (key IN ('k')) AS is_expected
    FROM keyed
    GROUP BY key
    """,
    description="schema-drift report: per-JSON-key row counts over a "
    "payload stream with injected drift (a legacy producer and an "
    "extra tracing field), flagged against the expected schema — the "
    "detect-before-break monitor an evolving 100 TB ingest needs "
    "(json_object_keys + explode + partial-agg count; no UDFs)",
    tags=("streaming", "quality", "schema-drift"),
)
def schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # string surgery (not a regex anchor: Java '$' matches before a
    # trailing newline, RE2's does not — substr is engine-identical);
    # precondition: props is compact well-formed JSON ending in '}'
    inject = F.concat(
        F.expr("substring(props, 1, length(props) - 1)"),
        F.lit(', "trace_id": "t"}'),
    )
    aug = (
        F.when(F.col("event_id") % 9 == 0, F.lit('{"legacy": true}'))
        .when(F.col("event_id") % 5 == 0, inject)
        .otherwise(F.col("props"))
    )
    keyed = e.select(
        "event_id", F.explode(F.json_object_keys(aug)).alias("key")
    )
    return (
        keyed.groupBy("key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .withColumn("is_expected", F.col("key").isin("k"))
    )


@register(
    "cdc_variant_props",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
           'OBJECT<k: BIGINT>' AS vschema,
           TRUE AS props_ok
    FROM events
    """,
    description="Spark-4 VARIANT on the CDC envelope path (VERDICT r4 "
    "item 8): wrap events in Debezium JSON, parse the typed envelope, "
    "then decode the inner props payload with try_parse_json into a "
    "VARIANT column and extract typed fields via variant_get — the "
    "batch twin of the streaming decoder "
    "(sources/cdc.py:parse_cdc_envelope_variant); pure per-row "
    "expressions, zero shuffles added to the envelope path (plan "
    "asserted in pytest)",
    tags=("streaming", "cdc", "json", "variant"),
)
def cdc_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.cdc import parse_cdc_envelope_variant

    events = load_table(spark, sf_dir, "events")
    parsed = parse_cdc_envelope_variant(to_cdc_json(events))
    return parsed.select(
        "event_id",
        F.variant_get(F.col("props_v"), "$.k", "int").alias("k_int"),
        F.schema_of_variant(F.col("props_v")).alias("vschema"),
        F.col("props_v").isNotNull().alias("props_ok"),
    )


@register(
    "stream_metrics_profile",
    """
    WITH g AS (
      SELECT event_id % 4 AS grp, COUNT(*) AS n
      FROM events WHERE event_id < 2000 GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(n) AS BIGINT) AS total_rows,
           CAST(MIN(n) AS BIGINT) AS min_batch_rows,
           CAST(MAX(n) AS BIGINT) AS max_batch_rows,
           TRUE AS trigger_max_under_60s
    FROM g
    """,
    description="the streaming METRICS TABLE itself, oracle-checked "
    "(VERDICT r5 item 6): run a 4-micro-batch availableNow stream "
    "(events keyed into 4 deterministic files, maxFilesPerTrigger=1) "
    "with the observability listener attached, then profile the "
    "parquet metrics table it wrote — batch count, total/min/max "
    "rows-per-batch (all predicted exactly by the batch oracle, since "
    "each micro-batch is one deterministic event_id%4 file) plus a "
    "sandwich-style latency bound (max triggerExecution < 60 s) in "
    "the sketch-query style.  This makes the ops surface "
    "(streaming/observability.py) hash-proven end to end, not just "
    "pytest-pinned",
    tags=("streaming", "observability", "metrics"),
)
def stream_metrics_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import time
    import uuid as _uuid

    from ..streaming.observability import attach_metrics_sink

    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") < 2000)
        .select("event_id", "user_id", "event_type")
    )
    expected = events.count()
    tmp = tempfile.mkdtemp(prefix="metrics_profile_")
    src = f"{tmp}/src"
    metrics = f"{tmp}/metrics"
    # one file per event_id%4 group (coalesce -> single writer task),
    # so each maxFilesPerTrigger=1 micro-batch is a deterministic slice
    (
        events.withColumn("grp", F.col("event_id") % 4)
        .coalesce(1)
        .write.partitionBy("grp")
        .mode("overwrite")
        .json(src)
    )
    listener = attach_metrics_sink(spark, metrics)
    try:
        name = f"mp_{_uuid.uuid4().hex[:8]}"
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        run_id = str(q.runId)
        await_or_raise(q, 300)
        # listener callbacks are async: flush + poll until this RUN's
        # rows cover the full input (other queries on the session are
        # filtered out by run_id)
        deadline = time.time() + 120
        while time.time() < deadline:
            listener.flush()
            try:
                got = (
                    spark.read.parquet(metrics)
                    .where(
                        (F.col("run_id") == run_id)
                        & (F.col("num_input_rows") > 0)
                    )
                    .agg(F.sum("num_input_rows"))
                    .collect()[0][0]
                )
            except Exception:
                got = None
            if got == expected:
                break
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    m = spark.read.parquet(metrics).where(
        (F.col("run_id") == run_id) & (F.col("num_input_rows") > 0)
    )
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batches"),
        F.sum("num_input_rows").cast("bigint").alias("total_rows"),
        F.min("num_input_rows").cast("bigint").alias("min_batch_rows"),
        F.max("num_input_rows").cast("bigint").alias("max_batch_rows"),
        (F.max("trigger_ms") < F.lit(60000)).alias("trigger_max_under_60s"),
    )


@register(
    "cdc_custom_source_roundtrip",
    """
    SELECT event_id, ts, user_id, event_type, value, props, 'c' AS op
    FROM events
    """,
    description="the Spark-4 Python DataSource API as a custom "
    "connector (sources/pydatasource.py): events wrapped in CDC JSON "
    "are written as .jsonl files, read back through the registered "
    "format('cdc_jsonl') source (one InputPartition per file — "
    "executor-parallel like a native file source), and parsed with "
    "the typed envelope schema — must be the identity, proving the "
    "custom source delivers the exact Kafka value-column contract "
    "(reference pipeline/app.py:39-44) without a broker",
    tags=("streaming", "cdc", "source", "datasource", "extension"),
)
def cdc_custom_source_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import tempfile

    from ..sources.pydatasource import CdcJsonlDataSource

    spark.dataSource.register(CdcJsonlDataSource)
    events = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="cdc_jsonl_src_")
    to_cdc_json(events).select("value").coalesce(4).write.mode(
        "overwrite"
    ).text(tmp)
    for name in os.listdir(tmp):
        if name.startswith("part-") and name.endswith(".txt"):
            os.rename(f"{tmp}/{name}", f"{tmp}/{name}.jsonl")
    raw = spark.read.format("cdc_jsonl").option("path", tmp).load()
    return parse_cdc_envelope(raw).select(
        "event_id", "ts", "user_id", "event_type", "value", "props", "op"
    )
