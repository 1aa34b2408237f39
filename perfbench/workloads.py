"""What every workload shares: the run context, the result record and
small statistics and file helpers."""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Result:
    """``end_to_end`` and ``per_layer`` map a metric name to
    ``(value, unit)``; ``detail`` is everything else worth keeping
    (named figures, per-batch rows) and goes to the results file."""

    attempted: int = 0
    failed: int = 0
    end_to_end: dict = field(default_factory=dict)
    per_layer: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    seconds: float
    run_dir: str
    cores: int
    process_start: float
    result: Result = field(default_factory=Result)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)


def run_workload(name: str, ctx: Context) -> Result:
    from . import fanout, stores

    from .layers import complete

    mod = {"fanout": fanout, "stores": stores}[name]
    res = mod.run(ctx)
    if ctx.tracer.enabled:
        res.per_layer = complete(mod.per_layer(res, ctx.tracer))
    return res


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, p: int) -> float:
    """The ``p``-th percentile (inclusive linear interpolation)."""
    xs = sorted(xs)
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=100, method="inclusive")[p - 1])


def data_files(path: str) -> int:
    """Parquet data files under a store directory (a directory census)."""
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet") and not f.startswith((".", "_")))
    return n


def generations(path: str) -> int:
    """Distinct ``batch_id=`` partitions directly under a table path."""
    if not os.path.isdir(path):
        return 0
    return sum(1 for d in os.listdir(path) if d.startswith("batch_id="))
