"""Streaming-layer tests: CDC envelope round-trip, checkpointed fan-out
with batch-id idempotency, watermark late-data semantics, cross-batch
dedup — the reference's streaming surface (SURVEY.md §2.6-2.7) pinned
with controlled micro-batches.
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from eventstream_fanout_spark.operators.enrichment import enrich_events
from eventstream_fanout_spark.sources.cdc import parse_cdc_envelope, to_cdc_json
from eventstream_fanout_spark.sources.tables import load_table
from eventstream_fanout_spark.streaming.aggregates import (
    dedup_within_watermark,
    windowed_counts,
)
from eventstream_fanout_spark.streaming.fanout import (
    leaderboard_sink,
    parquet_sink,
    start_fanout,
    webhook_sink,
)
from eventstream_fanout_spark.streaming.sources import json_file_stream
from tests.conftest import SF_SMOKE

EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


@pytest.fixture()
def events(spark):
    return load_table(spark, SF_SMOKE, "events")


def test_cdc_roundtrip_batch(spark, events):
    """to_cdc_json -> parse_cdc_envelope reproduces the rows exactly."""
    wire = to_cdc_json(events)
    back = parse_cdc_envelope(wire).select(*EVENT_COLS)
    orig = events.select(*EVENT_COLS)
    assert back.exceptAll(orig).isEmpty() and orig.exceptAll(back).isEmpty()


def test_cdc_delete_and_garbage_dropped(spark):
    """Debezium deletes (after=null) and malformed JSON -> dropped (P5)."""
    raw = spark.createDataFrame(
        [
            ('{"payload": {"op": "d", "after": null, "before": null}}',),
            ("this is not json",),
            (
                '{"payload": {"op": "c", "after": {"event_id": 7, '
                '"ts": "2024-01-01T00:00:00.000000Z", "user_id": 1, '
                '"event_type": "play", "value": 1.5, "props": "{}"}}}',
            ),
        ],
        ["value"],
    )
    out = parse_cdc_envelope(raw)
    rows = out.collect()
    assert [r["event_id"] for r in rows] == [7]
    assert rows[0]["op"] == "c"


def _write_cdc_files(spark, events, path: str, n_files: int = 2) -> int:
    rows = to_cdc_json(events).collect()
    os.makedirs(path, exist_ok=True)
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        with open(os.path.join(path, f"batch-{i}.jsonl"), "w") as fh:
            for r in rows[i * per : (i + 1) * per]:
                fh.write(r["value"] + "\n")
    return len(rows)


def test_fanout_end_to_end_and_idempotent_restart(spark, events, tmp_path):
    """File stream -> CDC parse -> enrichment -> 3-sink fan-out with
    checkpoint; a restart with the same checkpoint reprocesses nothing."""
    src = str(tmp_path / "cdc")
    n_events = _write_cdc_files(spark, events, src)
    customer = load_table(spark, SF_SMOKE, "customer")
    warehouse = str(tmp_path / "warehouse")
    hooks = str(tmp_path / "hooks")
    board = str(tmp_path / "leaderboard")
    ckpt = str(tmp_path / "ckpt")

    def per_batch_counts(df):
        # K3 analogue: per-batch windowed counts feeding the leaderboard
        from eventstream_fanout_spark.streaming.aggregates import (
            windowed_counts,
        )

        return windowed_counts(df, "user_id", width="1 day").select(
            "window_start", "user_id", "n_events"
        )

    def run() -> None:
        stream = parse_cdc_envelope(json_file_stream(spark, src)).drop("op")
        board_sink = leaderboard_sink(board, 10, "user_id")
        board_sink = type(board_sink)(
            board_sink.name,
            lambda df, bid, _w=board_sink.write: _w(per_batch_counts(df), bid),
        )
        q = start_fanout(
            stream,
            [parquet_sink(warehouse), webhook_sink(hooks), board_sink],
            checkpoint_dir=ckpt,
            transform=lambda df: enrich_events(df, customer),
            query_name="fanout-test",
        )
        q.awaitTermination(120)

    run()
    out = spark.read.parquet(warehouse)
    assert out.count() == n_events
    # enrichment happened inside the stream
    assert "engagement_pct" in out.columns
    deliveries = []
    for f in glob.glob(os.path.join(hooks, "*.jsonl")):
        with open(f) as fh:
            deliveries += [json.loads(line) for line in fh]
    assert len(deliveries) == n_events
    assert {d["idempotency_key"] for d in deliveries} == {
        str(r["event_id"]) for r in events.collect()
    }
    # leaderboard sink: ZREVRANGE-style read contract — per-window
    # ranked rows, at most k=10 per window, ranks contiguous from 1
    lb = spark.read.parquet(board)
    assert lb.columns == ["window_start", "user_id", "n_events", "rank"]
    per_window = {}
    for r in lb.collect():
        per_window.setdefault(r["window_start"], []).append(r["rank"])
    assert per_window
    for ranks in per_window.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 10
    # restart: checkpoint says everything is processed -> no growth
    run()
    assert spark.read.parquet(warehouse).count() == n_events


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row older than watermark - delay when it arrives in a later
    micro-batch must not appear in any emitted window (T5)."""
    src = str(tmp_path / "wm")
    os.makedirs(src)

    def env(eid: int, ts: str) -> str:
        return json.dumps(
            {
                "payload": {
                    "op": "c",
                    "after": {
                        "event_id": eid,
                        "ts": ts,
                        "user_id": 1,
                        "event_type": "view",
                        "value": 1.0,
                        "props": "{}",
                    },
                }
            }
        )

    with open(os.path.join(src, "f1.jsonl"), "w") as fh:
        fh.write(env(1, "2024-01-01T00:01:00.000000Z") + "\n")
        fh.write(env(2, "2024-01-01T01:00:00.000000Z") + "\n")  # advances wm

    stream = parse_cdc_envelope(json_file_stream(spark, src, max_files_per_trigger=1))
    counts = windowed_counts(stream, "event_type", width="10 minutes")
    q = (
        counts.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_test")
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # late row: 00:02 while watermark is 01:00 - 10min = 00:50
        with open(os.path.join(src, "f2.jsonl"), "w") as fh:
            fh.write(env(3, "2024-01-01T00:02:00.000000Z") + "\n")
        q.processAllAvailable()
        rows = {
            (r["window_start"].isoformat(), r["n_events"])
            for r in spark.sql("SELECT * FROM wm_test").collect()
        }
    finally:
        q.stop()
    # the 00:00 window was emitted with 1 event when the watermark
    # passed; the late event 3 must not re-open it or add a new row
    assert ("2024-01-01T00:00:00", 1) in rows
    assert ("2024-01-01T00:00:00", 2) not in rows


def test_streaming_sliding_window_counts(spark, events, tmp_path):
    """Sliding windows (10 min / 5 min) in streaming append mode: every
    emitted (window, key) count matches the batch computation."""
    src = str(tmp_path / "sw")
    _write_cdc_files(spark, events, src, n_files=1)
    stream = parse_cdc_envelope(json_file_stream(spark, src))
    counts = windowed_counts(
        stream, "event_type", width="10 minutes", slide="5 minutes"
    )
    q = (
        counts.writeStream.outputMode("append")
        .format("memory")
        .queryName("sw_test")
        .option("checkpointLocation", str(tmp_path / "sw_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = {
            (r["window_start"], r["event_type"]): r["n_events"]
            for r in spark.sql("SELECT * FROM sw_test").collect()
        }
    finally:
        q.stop()
    batch = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in windowed_counts(
            events, "event_type", width="10 minutes", slide="5 minutes"
        ).collect()
    }
    assert streamed, "no sliding windows emitted"
    for k, v in streamed.items():
        assert batch[k] == v
    # each event lands in exactly width/slide = 2 windows
    assert sum(batch.values()) == 2 * events.count()


def test_dedup_within_watermark(spark, tmp_path):
    """Duplicate event ids across micro-batches are dropped while the
    watermark keeps their state alive (W3)."""
    src = str(tmp_path / "dd")
    os.makedirs(src)

    def env(eid: int, ts: str) -> str:
        return json.dumps(
            {
                "payload": {
                    "op": "c",
                    "after": {
                        "event_id": eid,
                        "ts": ts,
                        "user_id": 1,
                        "event_type": "view",
                        "value": 1.0,
                        "props": "{}",
                    },
                }
            }
        )

    with open(os.path.join(src, "f1.jsonl"), "w") as fh:
        fh.write(env(1, "2024-01-01T00:01:00.000000Z") + "\n")
        fh.write(env(1, "2024-01-01T00:01:30.000000Z") + "\n")  # same-batch dup
        fh.write(env(2, "2024-01-01T00:02:00.000000Z") + "\n")

    stream = dedup_within_watermark(
        parse_cdc_envelope(json_file_stream(spark, src, max_files_per_trigger=1)),
        ["event_id"],
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("dd_test")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        with open(os.path.join(src, "f2.jsonl"), "w") as fh:
            fh.write(env(2, "2024-01-01T00:03:00.000000Z") + "\n")  # cross-batch dup
            fh.write(env(3, "2024-01-01T00:04:00.000000Z") + "\n")
        q.processAllAvailable()
        ids = sorted(
            r["event_id"] for r in spark.sql("SELECT * FROM dd_test").collect()
        )
    finally:
        q.stop()
    assert ids == [1, 2, 3]


def test_stream_stream_left_outer_join_emits_unmatched(spark, tmp_path):
    """Stream-stream LEFT OUTER interval join: unmatched left rows must
    emit with NULL right columns once the watermark passes (the
    no-data flush batch at availableNow end advances it)."""
    src_l = str(tmp_path / "l")
    src_r = str(tmp_path / "r")
    os.makedirs(src_l)
    os.makedirs(src_r)

    def env(eid: int, ts: str, etype: str) -> str:
        return json.dumps(
            {
                "payload": {
                    "op": "c",
                    "after": {
                        "event_id": eid,
                        "ts": ts,
                        "user_id": 1,
                        "event_type": etype,
                        "value": 1.0,
                        "props": "{}",
                    },
                }
            }
        )

    # outer-row emission needs the GLOBAL min watermark (both streams)
    # to pass the unmatched row's time: purchase 3 / click 11 are
    # late sentinels that advance both watermarks past purchase 2
    with open(f"{src_l}/l.jsonl", "w") as fh:
        fh.write(env(1, "2024-01-01T00:10:00.000000Z", "purchase") + "\n")
        fh.write(env(2, "2024-01-01T02:00:00.000000Z", "purchase") + "\n")
        fh.write(env(3, "2024-01-01T04:30:00.000000Z", "purchase") + "\n")
    with open(f"{src_r}/r.jsonl", "w") as fh:
        # click 10 matches purchase 1 (5 min prior); click 11 is outside
        # every purchase's 1 h lookback but advances the right watermark
        fh.write(env(10, "2024-01-01T00:05:00.000000Z", "click") + "\n")
        fh.write(env(11, "2024-01-01T03:30:00.000000Z", "click") + "\n")

    left = parse_cdc_envelope(json_file_stream(spark, src_l)).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("key"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", "1 minute")
    right = parse_cdc_envelope(json_file_stream(spark, src_r)).where(
        F.col("event_type") == "click"
    ).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("r_key"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "1 minute")
    joined = left.join(
        right,
        (F.col("key") == F.col("r_key"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("soj_test")
        .option("checkpointLocation", str(tmp_path / "soj_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["purchase_id"]: r["click_id"]
        for r in spark.sql("SELECT * FROM soj_test").collect()
    }
    # purchase 1 matched; purchase 2 emitted unmatched once the global
    # watermark passed it; purchase 3 (the sentinel) is still withheld
    assert rows.get(1) == 10
    assert 2 in rows and rows[2] is None
    assert 3 not in rows


def test_batch_streaming_equivalence(spark, events, tmp_path):
    """The same windowed_counts transform over the same data agrees
    between batch execution and a full streaming pass (restricted to
    windows the watermark closed)."""
    src = str(tmp_path / "eq")
    _write_cdc_files(spark, events, src, n_files=1)
    stream = parse_cdc_envelope(json_file_stream(spark, src))
    counts = windowed_counts(stream, "event_type", width="1 hour")
    q = (
        counts.writeStream.outputMode("append")
        .format("memory")
        .queryName("eq_test")
        .option("checkpointLocation", str(tmp_path / "eq_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = {
            (r["window_start"], r["event_type"]): r["n_events"]
            for r in spark.sql("SELECT * FROM eq_test").collect()
        }
    finally:
        q.stop()
    batch = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in windowed_counts(events, "event_type", width="1 hour").collect()
    }
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    closed = {
        k: v
        for k, v in batch.items()
        if (k[0].timestamp() + 3600) <= (max_ts.timestamp() - 600)
    }
    assert streamed.items() >= closed.items()
    assert set(streamed) <= set(batch)
    for k, v in streamed.items():
        assert batch[k] == v


def test_incremental_rollup_matches_batch_and_replays(spark, tmp_path):
    """The continuous-aggregate pattern: per-batch partials folded at
    read time must equal the one-shot batch rollup, and replaying a
    batch id must not double-count."""
    import glob
    import json as _json

    from pyspark.sql import functions as F

    from eventstream_fanout_spark.sources.tables import load_table
    from eventstream_fanout_spark.streaming.aggregates import (
        read_rollup,
        rollup_sink,
    )
    from eventstream_fanout_spark.streaming.fanout import (
        FanoutSink,
        start_fanout,
    )
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    src = tmp_path / "src"
    # two source files -> two micro-batches with maxFilesPerTrigger=1
    events.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "a")
    )
    events.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b")
    )
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    rollup_path = str(tmp_path / "rollup")
    sink = rollup_sink(rollup_path, "event_type")
    q = start_fanout(
        stream,
        [FanoutSink("rollup", sink)],
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="rollup_stream",
    )
    q.awaitTermination(180)

    batch_dirs = glob.glob(rollup_path + "/batch_id=*")
    assert len(batch_dirs) >= 2, batch_dirs

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in read_rollup(spark, rollup_path, "event_type").collect()
    }
    expect = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in (
            events.groupBy(
                F.window("ts", "1 hour").alias("win"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("double")).alias("sum_value"),
            )
            .select(
                F.col("win.start").alias("window_start"),
                "event_type", "n_events", "sum_value",
            )
            .collect()
        )
    }
    assert set(got) == set(expect)
    for k in expect:
        assert got[k][0] == expect[k][0], k
        assert abs((got[k][1] or 0.0) - (expect[k][1] or 0.0)) < 1e-6, k

    # replay batch 0 with the same data -> rollup unchanged
    sink(events.where(F.col("event_id") % 2 == 0), 0)
    again = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in read_rollup(spark, rollup_path, "event_type").collect()
    }
    assert again == {k: v[0] for k, v in got.items()}, "replay double-counted"


def test_fanout_partial_sink_failure_recovers_without_duplicates(
    spark, tmp_path
):
    """Effectively-once under PARTIAL fan-out failure: sink 1 (warehouse)
    writes its batch, then sink 2 raises -> the batch is uncommitted and
    the stream fails.  A restart from the same checkpoint replays the
    batch; the warehouse sink's batch-id overwrite replaces its earlier
    half-written output instead of appending -> no duplicate rows."""
    import glob
    import json as _json

    from pyspark.sql import functions as F

    from eventstream_fanout_spark.streaming.fanout import (
        FanoutSink,
        parquet_sink,
        start_fanout,
    )

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "b.json").write_text(
        "\n".join(
            _json.dumps({"event_id": i, "v": i * 10}) for i in range(6)
        )
    )

    warehouse = str(tmp_path / "wh")
    poison_marker = tmp_path / "poison_armed"
    poison_marker.write_text("1")

    def poison_write(df, batch_id):
        # fail only while armed (first attempt); succeed after restart
        import os as _os

        if _os.path.exists(str(poison_marker)):
            raise RuntimeError("downstream webhook outage")

    def make_stream():
        return (
            spark.readStream.schema("event_id long, v long")
            .json(str(src_dir))
        )

    q = start_fanout(
        make_stream(),
        [parquet_sink(warehouse), FanoutSink("poison", poison_write)],
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="fanout_poisoned",
    )
    try:
        q.awaitTermination(120)
    except Exception:
        pass  # expected: poisoned sink fails the batch
    assert q.exception() is not None, "poisoned sink should fail the query"

    # sink 1 already wrote its half of the failed batch
    assert glob.glob(warehouse + "/batch_id=*"), "warehouse wrote first"

    # outage over: disarm and restart from the SAME checkpoint
    poison_marker.unlink()
    q2 = start_fanout(
        make_stream(),
        [parquet_sink(warehouse), FanoutSink("poison", poison_write)],
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="fanout_recovered",
    )
    q2.awaitTermination(120)
    assert q2.exception() is None

    out = spark.read.parquet(warehouse)
    assert out.count() == 6, "replayed batch duplicated or lost rows"
    assert out.select("event_id").distinct().count() == 6


def test_fanout_input_rows_match_lines_read(spark, tmp_path):
    """A non-empty trigger reports ``numInputRows`` equal to the lines
    it read: the callback's emptiness check runs on the persisted
    frame the sinks consume, so it does not re-read the source and
    count its rows a second time."""
    src = tmp_path / "lines"
    src.mkdir()
    (src / "part-0.json").write_text(
        "".join(json.dumps({"value": f"line {i}"}) + "\n" for i in range(100))
    )
    q = start_fanout(
        json_file_stream(spark, str(src)),
        [parquet_sink(str(tmp_path / "warehouse"))],
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="fanout_input_rows",
    )
    q.awaitTermination(120)
    assert q.exception() is None
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert [p["numInputRows"] for p in progress] == [100]
    assert spark.read.parquet(str(tmp_path / "warehouse")).count() == 100


def test_micro_batch_latency_within_reference_budget(spark, tmp_path):
    """The reference's only quantitative target: enrichment visible
    within 5 s of insert (reference README.md:99).  Drive the full
    CDC-parse -> broadcast-enrich pipeline as 4 separate micro-batches
    (maxFilesPerTrigger=1 over 4 chunk files of the sf0.01 events) and
    assert EVERY batch's trigger-to-commit duration from
    StreamingQueryProgress sits inside the 5 s budget — per-batch SLA
    evidence, not just a full-drain wall time."""
    import uuid

    from pyspark.sql import functions as F

    from eventstream_fanout_spark.operators.enrichment import enrich_events
    from eventstream_fanout_spark.sources.cdc import (
        parse_cdc_envelope,
        to_cdc_json,
    )
    from eventstream_fanout_spark.sources.tables import load_table
    from eventstream_fanout_spark.streaming.sources import json_file_stream
    from tests.conftest import SF_ORACLE

    src = str(tmp_path / "cdc_chunks")
    events = load_table(spark, SF_ORACLE, "events")
    to_cdc_json(events).repartition(4).write.text(src)
    customer = load_table(spark, SF_ORACLE, "customer")

    stream = parse_cdc_envelope(
        json_file_stream(spark, src, max_files_per_trigger=1)
    ).drop("op")
    enriched = enrich_events(stream, customer)
    name = f"sla_{uuid.uuid4().hex[:8]}"
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    assert spark.table(name).count() == events.count()
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(progress) >= 4  # genuinely ran as multiple micro-batches
    durations = [p["durationMs"]["triggerExecution"] for p in progress]
    # reference budget (5 s) for every WARM batch; the first batch
    # additionally pays stream init + codegen, so it gets 3x headroom.
    # Wall-clock SLA assertions are inherently noise-sensitive on a
    # loaded shared box, so they are skippable (NOT skipped by default
    # — the SLA is part of the reference contract) for functional-only
    # CI runs via SPARK_GRAFT_SKIP_SLA=1.
    if os.environ.get("SPARK_GRAFT_SKIP_SLA") == "1":
        pytest.skip("SLA wall-clock assertions disabled by env")
    assert max(durations[1:]) < 5_000, durations
    assert durations[0] < 15_000, durations


def test_variant_cdc_decoder_no_shuffle_and_stream_equivalence(
    spark, tmp_path
):
    """parse_cdc_envelope_variant (VERDICT r4 item 8): the VARIANT
    props decode must add zero shuffles to the envelope path, yield a
    NULL variant (not a batch failure) on malformed props, and produce
    identical typed extractions on a REAL stream as in batch mode."""
    import uuid as _uuid

    from eventstream_fanout_spark.sources.cdc import (
        parse_cdc_envelope_variant,
    )
    from eventstream_fanout_spark.streaming.sources import json_file_stream
    from tests.conftest import SF_ORACLE

    full = load_table(spark, SF_ORACLE, "events")
    events = full.where(F.col("event_id") < 200)  # no global-limit shuffle

    # batch plan: per-row only — no Exchange anywhere
    batch = parse_cdc_envelope_variant(to_cdc_json(events))
    extracted = batch.select(
        "event_id",
        F.variant_get(F.col("props_v"), "$.k", "int").alias("k_int"),
        F.col("props_v").isNotNull().alias("props_ok"),
    )
    plan = extracted._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    # malformed props -> NULL variant, row survives
    bad = spark.createDataFrame(
        [("x",)], "props string"
    ).select(F.try_parse_json("props").alias("v"))
    assert bad.collect()[0]["v"] is None

    # real stream: same rows as batch
    src = str(tmp_path / "cdc_variant_src")
    to_cdc_json(events).coalesce(1).write.text(src)
    stream = parse_cdc_envelope_variant(json_file_stream(spark, src))
    name = f"vr_{_uuid.uuid4().hex[:8]}"
    q = (
        stream.select(
            "event_id",
            F.variant_get(F.col("props_v"), "$.k", "int").alias("k_int"),
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt_v"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["event_id"], r["k_int"]) for r in spark.table(name).collect()
    }
    want = {
        (r["event_id"], r["k_int"])
        for r in batch.select(
            "event_id",
            F.variant_get(F.col("props_v"), "$.k", "int").alias("k_int"),
        ).collect()
    }
    assert got == want and len(got) == events.count()


def test_metrics_listener_records_per_batch_progress(spark, tmp_path):
    """The observability listener must record one row per micro-batch
    with the input-row count and trigger duration — queryable with the
    same engine (the monitoring twin of the per-batch SLA asserts)."""
    import time
    import uuid as _uuid

    from eventstream_fanout_spark.sources.tables import load_table
    from eventstream_fanout_spark.streaming.observability import (
        attach_metrics_sink,
    )
    from eventstream_fanout_spark.streaming.sources import json_file_stream
    from tests.conftest import SF_ORACLE

    events = load_table(spark, SF_ORACLE, "events").where(
        F.col("event_id") < 500
    )
    src = str(tmp_path / "metrics_src")
    to_cdc_json(events).repartition(2).write.text(src)

    metrics_path = str(tmp_path / "metrics")
    listener = attach_metrics_sink(spark, metrics_path)
    try:
        name = f"obs_{_uuid.uuid4().hex[:8]}"
        q = (
            parse_cdc_envelope(
                json_file_stream(spark, src, max_files_per_trigger=1)
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "obs_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        n_rows = spark.table(name).count()
        # listener callbacks are async — wait for the writes to land
        deadline = time.time() + 60
        recorded = 0
        while time.time() < deadline:
            try:
                recorded = (
                    spark.read.parquet(metrics_path)
                    .where(F.col("num_input_rows") > 0)
                    .count()
                )
            except Exception:
                recorded = 0
            if recorded >= 2:
                m = spark.read.parquet(metrics_path).where(
                    F.col("num_input_rows") > 0
                )
                total = m.agg(F.sum("num_input_rows")).collect()[0][0]
                if total == n_rows:
                    break
            time.sleep(1)
        m = spark.read.parquet(metrics_path).where(
            F.col("num_input_rows") > 0
        )
        rows = m.collect()
        assert len(rows) >= 2  # one per micro-batch (2+ files)
        assert sum(r["num_input_rows"] for r in rows) == n_rows
        assert all(r["trigger_ms"] > 0 for r in rows)
        assert all(r["batch_id"] >= 0 for r in rows)
    finally:
        spark.streams.removeListener(listener)
