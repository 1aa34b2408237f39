"""The two lazy fail-closed guard shapes every probe and sink uses.

Both raise AT EXECUTION from an expression the plan already evaluates,
so a healthy run pays no extra Spark job:

* :func:`guard_branch` — a 0-row union branch over a 1-row aggregate
  (a count, a max, a coverage anti-join count).  The ``where`` forces
  ``assert_true`` on the aggregate row and keeps no row.  Outputs are
  cast FROM the assert column, never from ``lit(None)``: a downstream
  join's pushed ``isnotnull`` filter constant-folds a literal-null
  branch, assert and all, out of the plan, and cannot fold an
  ``assert_true`` it has to evaluate.  This relies on Catalyst not
  folding ``IsNotNull(assert_true(..))`` over an always-null column
  (true on Spark 4.1); the broken-index tests of every probe are the
  tripwire for an optimizer that starts to.
* :func:`guard_rider` — an in-row ``value + coalesce(assert, 0)``: the
  assert rides a column the row computes anyway (+0 when healthy).
  Only safe on a provably non-null ``value`` — a null ``value``
  short-circuits the sum and the assert never fires.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField


def guard_branch(
    agg: DataFrame,
    ok: Column,
    message: Column,
    fields: Iterable[tuple[str, str] | StructField],
) -> DataFrame:
    """0-row relation shaped to ``fields`` (``(name, type)`` pairs or a
    schema) that raises ``message`` when ``ok`` is false on any row of
    ``agg``.  Union it into the plan whose result the guard protects."""
    cols = [
        (f.name, f.dataType) if isinstance(f, StructField) else f
        for f in fields
    ]
    return (
        agg.select(F.assert_true(ok, message).alias("_a"))
        .where(F.col("_a").isNotNull())
        .select(*[F.col("_a").cast(t).alias(n) for n, t in cols])
    )


def guard_rider(
    value: Column, ok: Column, message: Column, dtype: str
) -> Column:
    """``value`` of type ``dtype``, raising ``message`` when ``ok`` is
    false on the row."""
    return (
        value
        + F.coalesce(
            F.assert_true(ok, message).cast(dtype), F.lit(0).cast(dtype)
        )
    ).cast(dtype)
