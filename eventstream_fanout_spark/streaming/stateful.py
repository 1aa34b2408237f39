"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.7 T6 — the reference keeps all state in Redis/receiver
memory; here state lives in Spark's fault-tolerant state store).

``running_user_totals`` maintains a per-user (n_events, total_value)
accumulator across micro-batches and emits the updated totals each time
the user appears — the engine-native version of the reference's
``INCRBY eng10m:{id}`` counter (reference pipeline/app.py:92-95),
checkpointable and replayable instead of fire-and-forget.

The running sum is kept in exact nano-unit int64 (round 7): float
accumulation order varies with micro-batching, so a double state can
drift a ulp between a 2-batch stream and the batch groupBy — the
quantized BIGINT state is order-independent, which is what upgraded
``stream_stateful_user_totals`` from a rows-only check to a
hash-matched DuckDB oracle.  ``total_value`` is derived from the
integer state by one exact division at emission.

The state function is self-contained (imports inside) so cloudpickle
ships it by value to executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"
STATE_SCHEMA = "n long, total_q long"
QV = 1_000_000_000.0  # nano-unit quantization, shared with vectors.py


def _update_totals(key, pdf_iter, state):
    import numpy as np
    import pandas as pd

    n, total_q = state.get if state.exists else (0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        v = np.nan_to_num(
            pdf["value"].to_numpy(dtype="float64"), nan=0.0
        )
        total_q += int(np.floor(v * QV + 0.5).astype("int64").sum())
    state.update((n, total_q))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total_q / QV],
        }
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Streaming: cumulative per-user totals with state-store backing.
    On a batch DataFrame, falls back to the equivalent groupBy (same
    output contract, same quantized-exact sum) — keeping the
    batch/streaming duality of the other operators."""
    if not events.isStreaming:
        from pyspark.sql import functions as F

        vq = F.floor(
            F.nanvl(F.coalesce(F.col("value"), F.lit(0.0)), F.lit(0.0))
            * F.lit(QV)
            + F.lit(0.5)
        ).cast("long")
        return events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(vq).cast("double") / F.lit(QV)).alias("total_value"),
        )
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
