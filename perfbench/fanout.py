"""The ``fanout`` workload: CDC files -> parse -> enrich -> three sinks.

Set-up has the generator write two warm-up files and drains them (the
first micro-batch of a session pays code generation), then has it
write the drain backlog.  The timed region has two phases on one checkpoint:

* drain: ``availableNow`` over the backlog with a fixed
  ``maxFilesPerTrigger`` -- few large batches, processing-bound;
* steady: a ``processingTime`` 5 s trigger while the generator process
  writes events at a fixed rate well under the drain capacity -- many
  small batches, trigger-bound.

An event's latency runs from its scheduled creation time to the return
of the last sink of the micro-batch that carried it; a zero-job sink
appended last records that return time.
"""

from __future__ import annotations

import glob
import json
import math
import os
import subprocess
import sys
import time
from datetime import datetime, timezone

import pyarrow.dataset as ds

from . import checks, gen
from . import reference as ref
from .workloads import Context, Result, data_files, generations, median, percentile

BOARD_K = 10
TRIGGER_S = 5
WARM_FILES = 2              # warm-up: drain-sized files, half a drain batch
BACKLOG_FILES, DRAIN_FILES_PER_TRIGGER = 12, 4  # 1500-event files; one task wave a batch
DRAIN_FIRST_ID, STEADY_FIRST_ID = 1_000_000, 2_000_000
GEN_TIMEOUT_S = 120


class Stamps:
    """Wall-clock begin/end of every micro-batch, from zero-job sinks."""

    def __init__(self) -> None:
        self.begin: dict[int, float] = {}
        self.end: dict[int, float] = {}


def _generator(ctx: Context, mode: str, ledger: str, **kw) -> subprocess.Popen:
    cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"), mode,
           "--src", ctx.path("src"), "--ledger", ledger, "--seed", str(ctx.seed)]
    for k, v in kw.items():
        cmd += [f"--{k.replace('_', '-')}", str(v)]
    return subprocess.Popen(cmd, stdin=subprocess.DEVNULL)


def _wait(proc: subprocess.Popen, timeout: float) -> None:
    try:
        rc = proc.wait(timeout=timeout)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise RuntimeError(f"generator exited with {rc}")


def _ms(dt) -> int:
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(round(dt.timestamp() * 1000))


def _progress_ts(p) -> float:
    return datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def _batch_progress(query, batches: set[int]) -> dict:
    """The progress record of each batch that ran; idle triggers post
    records too, with no input rows."""
    return {p.batchId: p for p in query.recentProgress
            if p.batchId in batches and p.numInputRows > 0}


def _sinks(ctx: Context, stamps: Stamps, batch_layer: dict):
    from eventstream_fanout_spark.operators.enrichment import warehouse_typed
    from eventstream_fanout_spark.streaming.aggregates import read_rollup, rollup_sink
    from eventstream_fanout_spark.streaming.fanout import (
        FanoutSink, leaderboard_sink, parquet_sink, webhook_sink)

    spark, tracer = ctx.spark, ctx.tracer
    roll = rollup_sink(ctx.path("rollup"), "user_id")
    board = leaderboard_sink(ctx.path("board"), BOARD_K, "user_id")

    def leaderboard_write(df, batch_id: int) -> None:
        roll(df, batch_id)
        batch_layer.setdefault(batch_id, {})["generations_read"] = generations(ctx.path("rollup"))
        board.write(read_rollup(spark, ctx.path("rollup"), "user_id"), batch_id)

    def traced(sink):
        def write(df, batch_id: int) -> None:
            with tracer.span(f"fanout.sink.{sink.name}", batch=batch_id):
                sink.write(df, batch_id)
        return FanoutSink(sink.name, write)

    def begin(df, batch_id: int) -> None:
        stamps.begin[batch_id] = time.time()

    def end(df, batch_id: int) -> None:
        stamps.end[batch_id] = time.time()
        if tracer.enabled:
            batch_layer.setdefault(batch_id, {})["unspanned"] = tracer.group_jobs_since_last()

    work = [
        parquet_sink(ctx.path("warehouse"), project=warehouse_typed),
        webhook_sink(ctx.path("webhook")),
        FanoutSink("leaderboard", leaderboard_write),
    ]
    return [FanoutSink("stamp_begin", begin), *map(traced, work), FanoutSink("stamp_end", end)]


def run(ctx: Context) -> Result:
    from eventstream_fanout_spark.operators.enrichment import enrich_events
    from eventstream_fanout_spark.sources.cdc import parse_cdc_envelope
    from eventstream_fanout_spark.streaming.fanout import start_fanout
    from eventstream_fanout_spark.streaming.sources import json_file_stream

    spark, tracer = ctx.spark, ctx.tracer
    res = ctx.result
    os.makedirs(ctx.path("src"))
    dim_rows = gen.fanout_dimension(ctx.seed)
    customer = spark.createDataFrame(
        dim_rows, "c_custkey long, c_name string, c_mktsegment string, c_acctbal double")
    stamps, batch_layer = Stamps(), {}
    sinks = _sinks(ctx, stamps, batch_layer)

    def transform(df):
        out = enrich_events(df, customer)
        if tracer.enabled:  # materialize parse + enrich inside their own span
            with tracer.span("fanout.enrich"):
                out = out.persist()
                out.count()
        return out

    def start(max_files, trigger=None):
        stream = parse_cdc_envelope(json_file_stream(spark, ctx.path("src"), max_files))
        return start_fanout(stream, sinks, ctx.path("checkpoint"), transform=transform,
                            trigger=trigger)

    queries = []
    try:
        # ---- set-up: warm-up batch, then the drain backlog
        _wait(_generator(ctx, "backlog", ctx.path("warm.jsonl"), first_id=1, files=WARM_FILES),
              GEN_TIMEOUT_S)
        queries.append(start(None))
        queries[-1].awaitTermination()
        warm_batches = set(stamps.end)
        _wait(_generator(ctx, "backlog", ctx.path("drain.jsonl"), first_id=DRAIN_FIRST_ID,
                         files=BACKLOG_FILES), GEN_TIMEOUT_S)
        setup_s = time.time() - ctx.process_start

        # ---- drain phase
        t0 = time.perf_counter()
        queries.append(start(DRAIN_FILES_PER_TRIGGER))
        queries[-1].awaitTermination()
        drain_query_s = time.perf_counter() - t0
        drain_batches = set(stamps.end) - warm_batches
        drain_progress = _batch_progress(queries[-1], drain_batches)
        drain_s = (max(stamps.end[b] for b in drain_batches)
                   - min(_progress_ts(p) for p in drain_progress.values()))

        # ---- steady phase
        q = start(None, {"processingTime": f"{TRIGGER_S} seconds"})
        queries.append(q)
        grid = math.ceil((time.time() + 0.6) / TRIGGER_S) * TRIGGER_S
        t_start = grid - gen.TICK / 2  # files land mid-way between trigger instants
        proc = _generator(ctx, "live", ctx.path("steady.jsonl"), first_id=STEADY_FIRST_ID,
                          t0=t_start, duration=ctx.seconds)
        _wait(proc, ctx.seconds + GEN_TIMEOUT_S)
        steady_rows = ref.load_jsonl(ctx.path("steady.jsonl"))
        files = [r for r in steady_rows if "file" in r]
        last_wrote = max(f["wrote"] for f in files)
        deadline = time.time() + 60
        while not any(_progress_ts(p) > last_wrote and p.batchId in stamps.end
                      for p in q.recentProgress):
            if time.time() > deadline or q.exception() is not None:
                raise RuntimeError(f"steady phase did not drain: {q.exception()}")
            time.sleep(0.02)
        q.stop()
        steady_batches = set(stamps.end) - warm_batches - drain_batches
        progress = _batch_progress(q, steady_batches)
    finally:
        for q in queries:
            if q.isActive:
                q.stop()

    # ---- gather outputs
    wh = ds.dataset(ctx.path("warehouse"), format="parquet", partitioning="hive").to_table()
    wh_ids = wh.column("event_id").to_pylist()
    wh_batch = dict(zip(wh_ids, (int(b) for b in wh.column("batch_id").to_pylist())))
    pct_field = wh.schema.field("engagement_pct").type
    pct_type = f"decimal({pct_field.precision},{pct_field.scale})" if hasattr(pct_field, "precision") else str(pct_field)
    ledger = [r for name in ("warm", "drain", "steady")
              for r in ref.load_jsonl(ctx.path(f"{name}.jsonl")) if "id" in r]
    steady_events = [r for r in steady_rows if "id" in r and r["kind"] == "insert"]
    drain_events = sum(1 for i in wh_ids if wh_batch[i] in drain_batches)
    per_drain = {b: sum(1 for i in wh_ids if wh_batch[i] == b) for b in drain_batches}
    drain_rates = [per_drain[b] / (stamps.end[b] - _progress_ts(drain_progress[b]))
                   for b in sorted(drain_batches)]
    lat = [(stamps.end[wh_batch[e["id"]]] * 1000.0 - e["created_ms"]) for e in steady_events
           if e["id"] in wh_batch]

    # an operation is a line written in the timed region (drain and
    # steady): delivered enriched, or dropped (deletes, malformed lines)
    timed_ids = {e["id"] for e in ledger if e["id"] >= DRAIN_FIRST_ID}
    res.attempted = len(timed_ids)
    e2e = {
        "event_to_sink_p50_ms": median(lat),
        "event_to_sink_p99_ms": percentile(lat, 99),
        "drain_events_per_s": drain_events / drain_s,
    }
    res.end_to_end = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (e2e["event_to_sink_p50_ms"], "ms"),
        "work_per_s": (e2e["drain_events_per_s"], "1/s"),
    }
    n_lines = len([r for r in steady_rows if "id" in r])
    in_rows = sum(p.numInputRows for p in progress.values())
    trig_t = sorted((_progress_ts(p), b) for b, p in progress.items())
    per_batch_files, prev = [], 0.0
    for t, _ in trig_t:
        per_batch_files.append(sum(1 for f in files if prev < f["wrote"] <= t))
        prev = t
    res.detail = {
        "workload": "fanout", "seed": ctx.seed, "cores": ctx.cores,
        **e2e, "setup_s": setup_s, "drain_s": drain_s, "drain_query_s": drain_query_s,
        "drain_batches": len(drain_batches), "steady_batches": len(steady_batches),
        "drain_batch_rates": drain_rates,
        "steady_events": len(steady_events), "latency_samples": len(lat),
        "num_input_rows_reported": in_rows, "lines_written": n_lines,
        "backlog_files_max": max(per_batch_files),
        "generator_late_ms_max": max(f["wrote"] - f["due"] for f in files) * 1000.0,
        "warehouse_data_files": data_files(ctx.path("warehouse")),
        "steady_per_batch": [
            {"batch": b, "trigger": t, "begin": stamps.begin[b], "end": stamps.end[b],
             "events": sum(1 for e in steady_events if wh_batch.get(e["id"]) == b)}
            for t, b in trig_t],
    }
    res.layers = dict(progress=progress, steady=steady_batches, drain=drain_batches,
                            warm=warm_batches, batch_layer=batch_layer, stamps=stamps)

    # ---- checks
    checks.warehouse_ids(wh_ids, ledger)
    dim = {r[0]: (r[1], r[2], r[3]) for r in dim_rows}
    cols = ("user_id", "prop_k", "c_name", "engagement_seconds", "engagement_pct")
    got = dict(zip(wh_ids, (dict(zip(cols, vals)) for vals in
                            zip(*(wh.column(c).to_pylist() for c in cols)))))
    wrong_pct = checks.enrichment(got, ref.expected_warehouse(ledger, dim), pct_type,
                                  {e["id"] for e in ledger if gen.is_tie(e)})
    res.failed = sum(1 for i in wrong_pct if i in timed_ids)
    res.detail["engagement_pct_half_cent_wrong"] = len(wrong_pct)
    keys = []
    for f in glob.glob(ctx.path("webhook", "delivery-*.jsonl")):
        keys += [json.loads(line)["idempotency_key"] for line in open(f) if line.strip()]
    checks.webhook(keys, wh_ids)
    board = ds.dataset(ctx.path("board"), format="parquet").to_table()
    rows = list(zip([_ms(w) for w in board.column("window_start").to_pylist()],
                    board.column("user_id").to_pylist(), board.column("n_events").to_pylist(),
                    board.column("rank").to_pylist()))
    checks.leaderboard(rows, ref.leaderboard(ledger, BOARD_K), BOARD_K)
    from eventstream_fanout_spark.streaming.aggregates import read_rollup
    total = read_rollup(spark, ctx.path("rollup"), "user_id").agg({"n_events": "sum"}).collect()[0][0]
    checks.rollup_total(int(total), len(wh_ids))
    return res


TRIGGER_PHASES = {"latest_offset": "latestOffset", "get_batch": "getBatch",
                  "query_planning": "queryPlanning", "add_batch": "addBatch",
                  "wal_commit": "walCommit", "commit_offsets": "commitOffsets"}


def per_layer(res: Result, tracer) -> dict:
    src = res.layers
    steady, drain, stamps = src["steady"], src["drain"], src["stamps"]
    out = {}
    for name, key in TRIGGER_PHASES.items():
        out[f"fanout.trigger.{name}_ms"] = median(
            [p.durationMs.get(key, 0) for p in src["progress"].values()])
    # transform runs once per non-empty batch, in batch order
    enrich = dict(zip(sorted(stamps.end), tracer.named("fanout.enrich")))
    drain_enrich = [enrich[b] for b in drain]
    out["fanout.enrich.ms"] = median([s.ms for s in drain_enrich])
    out["fanout.enrich.jobs"] = median([s.jobs for s in drain_enrich])
    sinks = {}
    for s in tracer.spans:
        if s.name.startswith("fanout.sink."):
            sinks.setdefault(s.attrs["batch"], {})[s.name] = s
    for name in ("warehouse", "webhook", "leaderboard"):
        out[f"fanout.sink.{name}.ms"] = median([sinks[b][f"fanout.sink.{name}"].ms for b in steady])
    per_batch = []
    for b in steady:
        spans = [enrich[b], *sinks[b].values()]
        jobs, _, tasks = src["batch_layer"][b]["unspanned"]
        per_batch.append((jobs + sum(s.jobs for s in spans), tasks + sum(s.tasks for s in spans)))
    out["fanout.batch.jobs"] = median([j for j, _ in per_batch])
    out["fanout.batch.tasks"] = median([t for _, t in per_batch])
    out["fanout.rollup.generations_read"] = median(
        [src["batch_layer"][b]["generations_read"] for b in steady])
    # steady batches only: drain batches are six times larger and all
    # come first, so a fit across both would measure the phase change
    xs = [src["batch_layer"][b]["generations_read"] for b in sorted(steady)]
    ys = [sinks[b]["fanout.sink.leaderboard"].ms for b in sorted(steady)]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    var = sum((x - mx) ** 2 for x in xs)
    out["fanout.sink.leaderboard.ms_per_generation"] = (
        sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / var if var else 0.0)
    out["fanout.backlog_files_max"] = res.detail["backlog_files_max"]
    out["fanout.generator_late_ms_max"] = res.detail["generator_late_ms_max"]
    res.detail["per_batch"] = [
        {"batch": b, "phase": "drain" if b in drain else "steady",
         "leaderboard_ms": sinks[b]["fanout.sink.leaderboard"].ms,
         "generations_read": src["batch_layer"][b]["generations_read"],
         "enrich_ms": enrich[b].ms}
        for b in sorted(drain | steady)]
    return out
