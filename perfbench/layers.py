"""The per-layer metric catalogue.

Every traced run reports every metric below.  A workload reports the
layers it drives; a layer it does not drive reads 0 (no call, no job).
Times and counts are medians per call (or per micro-batch) unless the
name says otherwise.  ``BENCHMARK.json`` lists the same names."""

from __future__ import annotations

_MS, _N = "ms", "count"

CATALOGUE: list[tuple[str, str, str]] = [
    # Spark micro-batch trigger phases (StreamingQueryProgress.durationMs), steady phase
    *[(f"fanout.trigger.{k}_ms", _MS, "lower") for k in
      ("latest_offset", "get_batch", "query_planning", "add_batch", "wal_commit", "commit_offsets")],
    # sources.cdc + operators.enrichment, materialized in their own span, drain phase
    ("fanout.enrich.ms", _MS, "lower"),
    ("fanout.enrich.jobs", _N, "lower"),
    # streaming.fanout sinks, steady phase
    ("fanout.sink.warehouse.ms", _MS, "lower"),
    ("fanout.sink.webhook.ms", _MS, "lower"),
    ("fanout.sink.leaderboard.ms", _MS, "lower"),
    ("fanout.batch.jobs", _N, "lower"),
    ("fanout.batch.tasks", _N, "lower"),
    # streaming.aggregates: rollup partials read per board refresh, and cost growth per partial
    ("fanout.rollup.generations_read", _N, "lower"),
    ("fanout.sink.leaderboard.ms_per_generation", "ms/gen", "lower"),
    # load generator health (not a program metric)
    ("fanout.backlog_files_max", _N, "lower"),
    ("fanout.generator_late_ms_max", _MS, "lower"),
    # serving probes: operators.text_index, operators.ann_index, operators.hybrid
    *[(f"serve.{p}.{m}", _MS if m == "ms" else _N, "lower")
      for p in ("bm25", "ann", "hybrid", "batch") for m in ("ms", "jobs", "tasks")],
    ("serve.store.data_files", _N, "lower"),
    # curated ingest stages: streaming.corpus_dedup, streaming.text_ingest, streaming.vector_dedup
    *[(f"maintain.ingest.{s}.{m}", _MS if m == "ms" else _N, "lower")
      for s in ("text_dedup", "text_index", "vector_dedup") for m in ("ms", "jobs")],
    ("maintain.ingest.admit_ratio", "ratio", "higher"),
    # erase path stages, upserts, compactions
    *[(f"maintain.erase.{s}.{m}", _MS if m == "ms" else _N, "lower")
      for s in ("signatures", "text_index", "ann", "vec_out") for m in ("ms", "jobs")],
    *[(f"maintain.upsert.{s}.{m}", _MS if m == "ms" else _N, "lower")
      for s in ("text", "ann") for m in ("ms", "jobs")],
    *[(f"maintain.compact.{s}.{m}", _MS if m == "ms" else _N, "lower")
      for s in ("text", "ann") for m in ("ms", "jobs")],
    # store layout (directory census)
    ("maintain.store.generations", _N, "lower"),
    ("maintain.store.data_files_before_compact", _N, "lower"),
    ("maintain.store.data_files_after_compact", _N, "lower"),
]
UNITS = {name: unit for name, unit, _ in CATALOGUE}


def complete(got: dict) -> dict:
    """Every catalogue metric as ``(value, unit)``; 0 for a layer the
    workload did not drive."""
    unknown = set(got) - set(UNITS)
    if unknown:
        raise KeyError(f"per-layer metrics missing from the catalogue: {sorted(unknown)}")
    return {name: (float(got.get(name, 0.0)), unit) for name, unit, _ in CATALOGUE}
