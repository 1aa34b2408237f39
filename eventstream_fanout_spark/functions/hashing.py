"""MD5-based tokenization / shingling / MinHash / SimHash building
blocks, chosen so a DuckDB oracle can reproduce every value exactly
(md5, substr, ascii, %, min are identical in both engines — unlike the
engines' native ``hash()`` functions, which differ).

These back the dedup operator family (SURVEY.md north-star: exact,
MinHash+LSH, SimHash, n-gram Jaccard).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NUM_MINHASHES = 16
LSH_BANDS = 4  # 4 bands x 4 rows
SHINGLE_N = 3
SIMHASH_BITS = 32

TOKEN_SPLIT_RE = r"\s+"


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens."""
    return F.split(F.trim(F.lower(text)), TOKEN_SPLIT_RE)


def sql_tokens(expr: str) -> str:
    return f"string_split_regex(trim(lower({expr})), '\\s+')"


def shingles(toks: Column, n: int = SHINGLE_N) -> Column:
    """Word n-gram shingles (space-joined).  Empty array when the doc
    has fewer than n tokens (mirrors the SQL guard)."""
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + k + 1) for k in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def sql_shingles(toks_col: str, n: int = SHINGLE_N) -> str:
    """DuckDB twin of :func:`shingles`.  ``toks_col`` must be a plain
    column name (the lambda references it; 1-based subscripts)."""
    parts = " || ' ' || ".join(f"{toks_col}[i + {k}]" for k in range(n))
    return (
        f"CASE WHEN len({toks_col}) >= {n} THEN "
        f"list_transform(generate_series(1, len({toks_col}) - {n - 1}), "
        f"i -> {parts}) "
        f"ELSE [] END"
    )


def salted_md5(salt: str, col: Column) -> Column:
    return F.md5(F.concat(F.lit(f"{salt}|"), col))


def sql_salted_md5(salt: str, expr: str) -> str:
    return f"md5('{salt}|' || ({expr}))"


# Each salted md5 (32 hex chars) yields 4 independent 8-hex (32-bit)
# hash slots — 16 minhashes from 4 md5 calls instead of 16.  The md5s
# are materialized as columns *before* the aggregation (aggregate
# expressions don't share subexpressions), so each shingle is hashed
# exactly NUM_MINHASHES/SLICES_PER_MD5 times.
SLICES_PER_MD5 = 4
SLICE_LEN = 8
NUM_SALTS = NUM_MINHASHES // SLICES_PER_MD5


def minhash_hash_cols(shingle_col: Column) -> list[tuple[str, Column]]:
    """(name, column) pairs for the salted md5s to materialize pre-agg."""
    return [
        (f"__mh_h{s}", salted_md5(str(s), shingle_col))
        for s in range(NUM_SALTS)
    ]


def minhash_min_aggs() -> list[Column]:
    """MIN-of-slice aggregates over the materialized hash columns."""
    out = []
    for h in range(NUM_MINHASHES):
        salt, slice_i = divmod(h, SLICES_PER_MD5)
        piece = F.substring(
            F.col(f"__mh_h{salt}"), slice_i * SLICE_LEN + 1, SLICE_LEN
        )
        out.append(F.min(piece).alias(f"mh_{h}"))
    return out


def sql_minhash_hash_cols(shingle_expr: str) -> str:
    return ", ".join(
        f"{sql_salted_md5(str(s), shingle_expr)} AS __mh_h{s}"
        for s in range(NUM_SALTS)
    )


def sql_minhash_min_aggs() -> str:
    parts = []
    for h in range(NUM_MINHASHES):
        salt, slice_i = divmod(h, SLICES_PER_MD5)
        parts.append(
            f"MIN(substr(__mh_h{salt}, {slice_i * SLICE_LEN + 1}, "
            f"{SLICE_LEN})) AS mh_{h}"
        )
    return ", ".join(parts)


def band_hash(b: int, rows_per_band: int) -> Column:
    """LSH band hash: md5 of the concatenated signature slice."""
    cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
    return F.md5(F.concat_ws("|", *cols))


def sql_band_hash(b: int, rows_per_band: int) -> str:
    cols = " || '|' || ".join(
        f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
    )
    return f"md5({cols})"


def sql_simhash_bit(expr: str, k: int) -> str:
    """k-th hash bit of a token: parity of the ascii code of the k-th
    hex char of its md5, as a DuckDB SQL expression."""
    return f"(ascii(substr(md5({expr}), {k + 1}, 1)) % 2)"
