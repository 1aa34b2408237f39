"""Generate the COVERAGE.md evidence-rotation bullet from the actual
ledger (VERDICT r7 item 5: the hand-written bullet misstated the
shipped FRONT two rounds running — so stop hand-writing it).

Reads every ``CORRECTNESS_r*.json`` plus the registry FRONT and emits
a COVERAGE.md-ready block stating (a) the FRONT's composition by each
query's newest green round — facts derived from the ledger, not from
intent — and (b) the post-window stale census under the assumption
the upcoming window lands green.  Paste the output verbatim.

    python tools/rotation_bullet.py [round_number]
"""

import glob
import json
import os
import re
import sys
import textwrap

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def last_green(repo: str) -> dict[str, int]:
    """{query_name: newest round with a green driver row} — green =
    hash_match (oracle-backed) or rows_match with no error (the
    rows-only check for oracle-less queries)."""
    out: dict[str, int] = {}
    for path in sorted(glob.glob(f"{repo}/CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            data = json.load(fh)
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if row.get("err") == "no_oracle":
                # the driver's rows-only record for oracle-less queries
                ok = (row.get("spark_rows") or 0) > 0
            elif row.get("err"):
                continue
            else:
                ok = row.get("hash_match")
                if ok is None:
                    ok = row.get("rows_match")
            if ok:
                out[name] = max(out.get(name, 0), rnd)
    return out


def main() -> None:
    from eventstream_fanout_spark.plans.registry import (
        FRONT,
        ROTATION_EXEMPT,
        ordered_queries,
    )

    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else None
    greens = last_green(REPO)
    all_queries = list(ordered_queries())

    def by_round(names):
        buckets: dict[int, list[str]] = {}
        for n in names:
            buckets.setdefault(greens.get(n, 0), []).append(n)
        return {r: sorted(v) for r, v in sorted(buckets.items())}

    front_buckets = by_round(FRONT)
    rest = [
        n
        for n in all_queries
        if n not in set(FRONT) and n not in ROTATION_EXEMPT
    ]
    rest_buckets = by_round(rest)

    def fmt(r):
        return "no prior green (new/changed-proof slot)" if r == 0 else (
            f"newest green r{r}"
        )

    tag = f"round {rnd}" if rnd else "this round"
    lines = [
        f"- {tag} evidence rotation (generated by "
        "tools/rotation_bullet.py from the CORRECTNESS ledger + the "
        "registry FRONT — not hand-written):",
        f"  FRONT = {len(FRONT)} slots:",
    ]
    for r, names in front_buckets.items():
        body = textwrap.fill(
            ", ".join(names),
            width=68,
            initial_indent="      ",
            subsequent_indent="      ",
        )
        lines.append(f"    - {len(names)} x {fmt(r)}:")
        lines.append(body)
    lines.append(
        "  Post-window stale census (assuming this window lands green, "
        "oldest first):"
    )
    for r, names in rest_buckets.items():
        lines.append(
            f"    - {len(names)} queries whose newest green stays "
            f"r{r if r else '?'}: "
            + (
                ", ".join(names)
                if len(names) <= 8
                else ", ".join(names[:6])
                + f", ... (+{len(names) - 6} more, alphabetical)"
            )
        )
    if ROTATION_EXEMPT:
        lines.append(
            f"  Rotation-exempt ({len(ROTATION_EXEMPT)} superseded demo "
            "shapes, registry.ROTATION_EXEMPT — still hash-checked by "
            "gatecheck/test_oracle_parity every round, never re-enter "
            "FRONT): "
            + ", ".join(
                f"{n} -> {t}" for n, t in sorted(ROTATION_EXEMPT.items())
            )
        )
    print("\n".join(lines))


if __name__ == "__main__":
    main()
