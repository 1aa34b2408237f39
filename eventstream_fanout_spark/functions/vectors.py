"""Deterministic vector (embedding) math over ``array<float>`` columns.

Strategy: all dot products / norms quantize each elementwise product to
integer nano-units (``floor(x*y*1e9 + 0.5)``) and sum those integers —
exact, order-independent, and reproducible bit-for-bit by a SQL oracle
that flattens the arrays with UNNEST and sums BIGINTs.  The final
combine (divide, sqrt) is a fixed chain of IEEE ops written identically
on both sides.

Everything is built-in Column ops (zip_with / aggregate / transform) —
JVM-side, no Python UDFs in the hot path.  At 100 TB the brute-force
pairwise ops below are replaced by the LSH-bucketed path in
operators/similarity.py; the *scoring* math is shared.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

QV = 1_000_000_000.0  # nano-unit quantization for elementwise products


def quantized_product_sum(a: Column, b: Column) -> Column:
    """Integer sum of quantized elementwise products (BIGINT-exact)."""
    prods = F.zip_with(
        a,
        b,
        lambda x, y: F.floor(
            x.cast("double") * y.cast("double") * F.lit(QV) + F.lit(0.5)
        ).cast("long"),
    )
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, v: acc + v)


def dot(a: Column, b: Column) -> Column:
    return quantized_product_sum(a, b).cast("double") / F.lit(QV)


def norm2(a: Column) -> Column:
    return dot(a, a)


def _q(x: Column) -> Column:
    return F.floor(x * F.lit(QV) + F.lit(0.5)).cast("long")


def cosine(a: Column, b: Column) -> Column:
    """dot/(|a|*|b|) — denominators via the same quantized sums.

    Fused single pass: one zip_with emits the quantized (x*y, x*x, y*y)
    triple per element and one aggregate folds a 3-long struct
    accumulator — the same BIGINT sums as three separate
    ``quantized_product_sum`` chains (addition is associative), so the
    result is bit-identical and the SQL oracle unchanged, but the array
    is traversed once instead of six times (measured ~1.9x on the
    brute-force ANN scan; this is the shared scoring path of the whole
    similarity family)."""
    trip = F.zip_with(
        a,
        b,
        lambda x, y: F.struct(
            _q(x.cast("double") * y.cast("double")).alias("d"),
            _q(x.cast("double") * x.cast("double")).alias("na"),
            _q(y.cast("double") * y.cast("double")).alias("nb"),
        ),
    )
    zero = F.lit(0).cast("long")
    s = F.aggregate(
        trip,
        F.struct(zero.alias("d"), zero.alias("na"), zero.alias("nb")),
        lambda acc, v: F.struct(
            (acc.getField("d") + v.getField("d")).alias("d"),
            (acc.getField("na") + v.getField("na")).alias("na"),
            (acc.getField("nb") + v.getField("nb")).alias("nb"),
        ),
    )
    dot_d = s.getField("d").cast("double") / F.lit(QV)
    na_d = s.getField("na").cast("double") / F.lit(QV)
    nb_d = s.getField("nb").cast("double") / F.lit(QV)
    return dot_d / (F.sqrt(na_d) * F.sqrt(nb_d))


def cosine_given_norms(a: Column, b: Column, an2: Column, bn2: Column) -> Column:
    """:func:`cosine` with BOTH squared norms precomputed per row
    (``norm2`` materialized on each side before a pair join).  The
    quantized dot sum and the final IEEE combine are the same
    expressions as :func:`cosine`, so the value is bit-identical; the
    per-PAIR work drops from a 3-field struct fold to one BIGINT fold
    — the right shape for pair-quadratic scorers (brute-force
    near-pair verification, kNN eval batches), where each vector's
    norm is otherwise recomputed once per partner instead of once per
    row."""
    return dot(a, b) / (F.sqrt(an2) * F.sqrt(bn2))


def cosine_given_bnorm(a: Column, b: Column, bn2: Column) -> Column:
    """:func:`cosine` with the b-side squared norm precomputed (pass
    ``norm2(b)`` materialized on the broadcast side — query vectors,
    centroid sets).  The quantized sums and the final IEEE combine are
    the same expressions, so the value is bit-identical to
    :func:`cosine`; the per-corpus-row work drops from a 3-field to a
    2-field fold and the plan tree shrinks by a third (HOF expression
    size is the compile-time driver on small scans)."""
    pair = F.zip_with(
        a,
        b,
        lambda x, y: F.struct(
            _q(x.cast("double") * y.cast("double")).alias("d"),
            _q(x.cast("double") * x.cast("double")).alias("na"),
        ),
    )
    zero = F.lit(0).cast("long")
    s = F.aggregate(
        pair,
        F.struct(zero.alias("d"), zero.alias("na")),
        lambda acc, v: F.struct(
            (acc.getField("d") + v.getField("d")).alias("d"),
            (acc.getField("na") + v.getField("na")).alias("na"),
        ),
    )
    dot_d = s.getField("d").cast("double") / F.lit(QV)
    na_d = s.getField("na").cast("double") / F.lit(QV)
    return dot_d / (F.sqrt(na_d) * F.sqrt(bn2))
