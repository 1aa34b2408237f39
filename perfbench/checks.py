"""Output checks: each compares what the program returned or wrote with
a computation from ``reference.py`` (or a property the method must
have) and raises ``CheckError`` on the first difference."""

from __future__ import annotations

from collections import Counter
from decimal import Decimal

from . import reference as ref

BM25_REL_TOL = 1e-9


class CheckError(AssertionError):
    pass


def _require(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckError(msg)


# ---------------------------------------------------------------- fan-out

def warehouse_ids(wh_ids: list[int], ledger: list[dict]) -> None:
    """Every created event lands exactly once; deletes and malformed
    lines never do."""
    dup = [i for i, n in Counter(wh_ids).items() if n > 1]
    _require(not dup, f"warehouse holds {len(dup)} ids more than once, e.g. {dup[:3]}")
    want = {e["id"] for e in ledger if e["kind"] == "insert"}
    got = set(wh_ids)
    _require(got == want, f"warehouse ids differ from the ledger: {len(want - got)} missing, "
             f"{len(got - want)} unexpected, e.g. {sorted(got ^ want)[:3]}")


def enrichment(rows: dict[int, dict], expected: dict[int, dict], pct_type: str,
               half_cent: set[int] = frozenset()) -> list[int]:
    """Every enriched column equals the reference.  A wrong
    ``engagement_pct`` on one of the ``half_cent`` events (the fixed
    rounding probe) is a failed operation, not a failed check: those
    ids are returned."""
    _require(pct_type == "decimal(5,2)", f"engagement_pct lands as {pct_type}, not decimal(5,2)")
    wrong = []
    for eid, want in expected.items():
        got = rows[eid]
        for col in ("user_id", "prop_k", "c_name", "engagement_seconds"):
            _require(got[col] == want[col], f"event {eid}: {col} is {got[col]!r}, expected {want[col]!r}")
        gp = got["engagement_pct"]
        gp = None if gp is None else Decimal(gp)
        if gp != want["engagement_pct"] and eid in half_cent:
            wrong.append(eid)
            continue
        _require(gp == want["engagement_pct"],
                 f"event {eid}: engagement_pct is {gp}, expected {want['engagement_pct']}")
    return sorted(wrong)


def webhook(keys: list[str], wh_ids: list[int]) -> None:
    _require(Counter(keys) == Counter(str(i) for i in wh_ids),
             f"webhook idempotency keys ({len(keys)}) differ from the warehouse ids ({len(wh_ids)})")


def leaderboard(board: list[tuple[int, int, int, int]], expected: dict, k: int) -> None:
    """``board`` rows are ``(window_start_ms, user_id, n_events, rank)``."""
    got: dict[int, list] = {}
    for w, u, n, r in sorted(board, key=lambda t: (t[0], t[3])):
        got.setdefault(w, []).append((u, n))
    _require(set(got) == set(expected), f"board windows {sorted(got)} != {sorted(expected)}")
    for w, want in expected.items():
        _require(got[w] == want[:k], f"window {w}: board top-{k} {got[w][:5]}... != {want[:5]}...")


def rollup_total(total: int, wh_rows: int) -> None:
    _require(total == wh_rows, f"rollup n_events total {total} != warehouse rows {wh_rows}")


# ----------------------------------------------------------------- stores

def bm25(got: list[tuple[int, float]], model: ref.BM25, terms: list[str], k: int) -> None:
    """Scores agree within ``BM25_REL_TOL``; ids are equal up to ties
    at the k-th score."""
    want = model.topk(terms, k)
    _require(len(got) == len(want), f"bm25 {terms}: {len(got)} hits, expected {len(want)}")
    if not want:
        return
    for (gd, gs), (_, ws) in zip(got, want):
        _require(abs(gs - ws) <= BM25_REL_TOL * max(abs(ws), 1e-12),
                 f"bm25 {terms}: doc {gd} score {gs} vs reference {ws} at the same rank")
    kth = want[-1][1]
    scores = model.scores(terms)
    above = lambda rows: {d for d, s in rows if s > kth * (1 + BM25_REL_TOL)}  # noqa: E731
    _require(above(got) == above(want), f"bm25 {terms}: top ids {[d for d, _ in got]} != {[d for d, _ in want]}")
    for d, _ in got:
        _require(scores.get(d, 0.0) >= kth * (1 - BM25_REL_TOL),
                 f"bm25 {terms}: doc {d} is not among the reference top {k}")


def adc(got: list[tuple[int, int]], pq: ref.PQIndex, q, vectors: dict) -> None:
    """Each returned distance is the numpy ADC of the query against the
    raw vector's codes; results come in ascending distance."""
    for vid, dist in got:
        _require(vid in vectors, f"ann: returned vec {vid} is not a live vector")
        want = pq.adc(q, pq.encode(vectors[vid]))
        _require(dist == want, f"ann: vec {vid} adc_dist {dist} != numpy ADC {want}")
    dists = [d for _, d in got]
    _require(dists == sorted(dists), "ann: results are not in ascending distance")


def recall_floor(recalls: list[float], floor: float) -> float:
    """Mean exact-L2 recall of the ANN answers is at least ``floor``."""
    mean = sum(recalls) / len(recalls)
    _require(mean >= floor, f"ann: mean exact-L2 recall {mean:.2f} below the floor {floor}")
    return mean


def rrf(got: list[tuple[int, float]], text_rank: list[int], vec_rank: list[int], k: int) -> None:
    want = ref.rrf(text_rank, vec_rank, k)
    _require([d for d, _ in got] == [d for d, _ in want],
             f"hybrid: fused ids {[d for d, _ in got]} != {[d for d, _ in want]}")
    for (d, gs), (_, ws) in zip(got, want):
        _require(abs(gs - ws) <= 1e-15, f"hybrid: doc {d} rrf_score {gs} != {ws}")


def batch_matches_single(batch: dict[int, list], single: dict[int, list]) -> None:
    for qid, ans in single.items():
        _require(batch.get(qid) == ans, f"batch answer for query {qid} differs from its single probe")


def dedup(docs: list, text_admitted: set[int], vec_admitted: set[int]) -> None:
    """Planted duplicates rejected, planted-distinct docs admitted, at
    the stage each kind is built to reach."""
    for d in docs:
        if d.kind == "text_dup":
            _require(d.doc_id not in text_admitted, f"text duplicate {d.doc_id} of {d.of} was admitted")
        else:
            _require(d.doc_id in text_admitted, f"{d.kind} doc {d.doc_id} was rejected by text dedup")
        if d.kind == "distinct":
            _require(d.doc_id in vec_admitted, f"distinct doc {d.doc_id} was rejected by vector dedup")
        else:
            _require(d.doc_id not in vec_admitted, f"{d.kind} doc {d.doc_id} reached the ANN index")


def erased_absent(erased: set[int], where: str, ids) -> None:
    hit = erased & set(ids)
    _require(not hit, f"erased ids {sorted(hit)[:5]} still appear in {where}")


def equal(got, want, what: str) -> None:
    _require(got == want, f"{what}: {got!r} != {want!r}")


def upsert(new_hits: list[int], old_hits: list[int], doc_ids: list[int]) -> None:
    """``new_hits`` answer a probe of the terms only the new texts
    carry, ``old_hits`` a separate probe of the terms only the old
    texts carried."""
    for d in doc_ids:
        _require(d in new_hits, f"upsert: the new unique term does not find doc {d}")
        _require(d not in old_hits, f"upsert: the old unique term still finds doc {d}")


def upserted_codes(got: dict[int, tuple[int, list[int]]], pq: ref.PQIndex, vectors: dict) -> None:
    """Each upserted vector's stored ``(list_id, codes)`` is the numpy
    encoding of its new embedding."""
    for vid, (list_id, codes) in got.items():
        want = (pq.lists[vid], pq.encode(vectors[vid]))
        _require((list_id, codes) == want, f"upsert: vec {vid} is stored as {(list_id, codes)}, "
                 f"the new embedding encodes to {want}")


def compaction(before: list, after: list, gens_before: int, gens_after: int) -> None:
    _require(before == after, "probe answers changed across compaction")
    _require(gens_after < gens_before, f"generations did not fall: {gens_before} -> {gens_after}")
