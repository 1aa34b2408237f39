"""The local correctness gate: every registered query (or a named
subset) run on Spark and compared with its DuckDB oracle.

    python tools/gatecheck.py run                 # the full gate
    python tools/gatecheck.py run --front         # the FRONT slots
    python tools/gatecheck.py run q1 q2 ...       # named queries
    python tools/gatecheck.py run --fast ...      # small-shuffle session
    python tools/gatecheck.py gate-line "<pytest>" "<front>" [rows]

``run`` exits 1 on any mismatch or error.  Its default session is
deliberately vanilla (no UTC tz, no tuned confs) so
``__spark_entry__``'s ``apply_engine_conf`` is exercised exactly as the
entry contract's caller does; ``--fast`` adds 8 shuffle partitions +
AQE for iteration (results are hashed order-insensitively, so
partitioning cannot change a verdict).  A full-registry run also
smoke-tests ``entry()`` at the same SF.

ONE implementation of the contract's comparison rules: order-insensitive
value hashing over collect()/fetchall() rows (floats via exact repr,
timestamps ISO, Decimal normalized), plus the pandas-dtype-path checks
the real harness implies (HUGEINT->float64 kind mismatches, unhashable
array cells).  Both paths run on purpose — the fetchall hash catches
value-level divergence, the pandas pass catches dtype/rendering
divergence the hash alone missed in round 1.
"""
from __future__ import annotations

import datetime
import hashlib
import math
from decimal import Decimal

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def connect_oracle(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def pandas_path_issues(con, sdf, oracle_sql):
    """Replicate the REAL driver's pandas canonicalization hazards.

    Round-1 lesson: the harness converts both result sets to pandas and
    sorts the frame; fetchall()-based hashing misses two failure
    classes the pandas path hits:
      * DuckDB HUGEINT (bare SUM of ints) -> float64 while Spark emits
        int64  => value-hash mismatch (8973 vs 8973.0).
      * array-typed output columns -> numpy.ndarray cells, unhashable
        in pandas sort_values => hard driver ERROR.
    Returns a list of human-readable issue strings (empty == safe).
    """
    issues = []
    spd = sdf.toPandas()
    dpd = con.execute(oracle_sql).fetch_df()
    for frame, side in ((spd, "spark"), (dpd, "duck")):
        for c in frame.columns:
            if frame[c].dtype == object:
                cell = next((v for v in frame[c] if v is not None), None)
                if isinstance(cell, (list, tuple)) or (
                    type(cell).__name__ == "ndarray"
                ):
                    issues.append(
                        f"{side}.{c}: unhashable {type(cell).__name__} cells"
                    )
    for c in set(spd.columns) & set(dpd.columns):
        sk, dk = spd[c].dtype.kind, dpd[c].dtype.kind
        if sk != dk and {sk, dk} != {"O"}:
            issues.append(
                f"{c}: dtype kind spark={spd[c].dtype} duck={dpd[c].dtype}"
            )
    return issues


def check_query(con, name, fn, oracle, spark, sf_dir):
    """Run one query both ways; returns (ok, message_lines)."""
    sdf = fn(spark, sf_dir)
    srows = sdf.collect()
    if oracle is None:
        return True, [f"{name}: rows-only, {len(srows)} rows OK"]
    cur = con.execute(oracle)
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    sh, dh = value_hash(sdf.columns, srows), value_hash(dcols, drows)
    issues = pandas_path_issues(con, sdf, oracle)
    ok = (
        sorted(sdf.columns) == sorted(dcols)
        and len(srows) == len(drows)
        and sh == dh
        and not issues
    )
    lines = [
        f"{name}: spark={len(srows)} duck={len(drows)} "
        + ("MATCH" if ok else f"MISMATCH {sh} vs {dh}")
    ]
    lines += [f"    PANDAS-PATH: {i}" for i in issues]
    if sorted(sdf.columns) != sorted(dcols):
        lines.append(
            f"    cols: spark={sorted(sdf.columns)} duck={sorted(dcols)}"
        )
    return ok, lines


def gate_line(
    pytest_result: str, front_result: str, entry_rows: int | None = None
) -> str:
    """The COVERAGE.md closing-gates paragraph, derived from the
    SHIPPED registry by construction (VERDICT r8 item 8: the
    hand-written line drifted from the registry twice) — query/oracle/
    FRONT counts are read from the code; the run outcomes (pytest,
    ``gatecheck.py run --front``, entry smoke) are passed in from the
    actual runs.

        python tools/gatecheck.py gate-line "<pytest summary>" \\
            "<front result>" [entry_rows]
    """
    import datetime

    from eventstream_fanout_spark.plans.registry import (
        FRONT,
        ordered_queries,
    )

    qs = ordered_queries()
    n_oracle = sum(1 for s in qs.values() if s.oracle is not None)
    entry = (
        f"`__spark_entry__` smoke green (entry {entry_rows} rows; "
        if entry_rows is not None
        else "`__spark_entry__` smoke green ("
    )
    today = datetime.date.today().isoformat()
    return (
        f"Closing gates (generated by tools/gatecheck.gate_line from "
        f"the shipped registry, {today}): full pytest "
        f"**{pytest_result}**, `tools/gatecheck.py run --front` (the "
        f"{len(FRONT)}-slot FRONT) **{front_result}** at sf0.01, "
        f"{entry}{len(qs)} queries / {n_oracle} oracles), COVERAGE "
        f"rotation bullet generated by tools/rotation_bullet.py (not "
        f"hand-written)."
    )


def session(fast: bool, cpus: int):
    """The gate's SparkSession: vanilla, or tuned for small SFs."""
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master(f"local[{cpus}]").appName("gatecheck")
    if fast:
        b = (
            b.config("spark.sql.shuffle.partitions", "8")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.ui.enabled", "false")
        )
    return b.getOrCreate()


def run(names: list[str] | None, sf_dir: str, fast: bool, cpus: int) -> int:
    """Check ``names`` (None = the whole registry, plus the entry()
    smoke); returns the number of failures."""
    import time

    import __spark_entry__ as E

    spark = session(fast, cpus)
    qs, oracles = E.queries(), E.oracle_sql()
    if names is None:
        n = E.entry(spark).count()
        print(f"entry(): {n} rows")
        names = list(qs)
    con = connect_oracle(sf_dir)
    fails = 0
    for name in names:
        t0 = time.perf_counter()
        if name not in qs:
            ok, lines = False, [f"{name}: NOT IN queries() — FAIL"]
        else:
            try:
                ok, lines = check_query(
                    con, name, qs[name], oracles.get(name), spark, sf_dir
                )
            except Exception as exc:  # noqa: BLE001 — report, keep checking
                ok = False
                lines = [f"{name}: ERROR {type(exc).__name__}: {str(exc)[:300]}"]
        lines[0] += f" [{time.perf_counter() - t0:.1f}s]"
        print("\n".join(lines), flush=True)
        fails += not ok
    print(
        "RESULT:",
        "ALL MATCH" if fails == 0 else f"{fails} FAILURES",
        f"({len(names)} checked)",
    )
    return fails


def main(argv: list[str]) -> int:
    import argparse

    from tests.conftest import SF_ORACLE

    ap = argparse.ArgumentParser(prog="gatecheck")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="queries vs DuckDB oracles")
    r.add_argument("names", nargs="*", help="query names (default: all)")
    r.add_argument("--front", action="store_true", help="the FRONT slots")
    r.add_argument("--fast", action="store_true", help="small-shuffle session")
    r.add_argument("--sf", default=SF_ORACLE, help="the test suite's SF")
    r.add_argument("--cpus", type=int, default=8)
    g = sub.add_parser("gate-line", help="print the COVERAGE gates line")
    g.add_argument("pytest_result")
    g.add_argument("front_result")
    g.add_argument("entry_rows", nargs="?", type=int)
    a = ap.parse_args(argv)
    if a.cmd == "gate-line":
        print(gate_line(a.pytest_result, a.front_result, a.entry_rows))
        return 0
    if a.front:
        from eventstream_fanout_spark.plans.registry import FRONT

        names = list(FRONT)
    else:
        names = a.names or None
    return 1 if run(names, a.sf, a.fast, a.cpus) else 0


if __name__ == "__main__":
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main(sys.argv[1:]))
