"""Tests of the reference computations and of the output checks.

The references are pinned by hand-computed values; every check is shown
to fail on a corrupted copy of a passing output.  No Spark here.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import random
from decimal import Decimal

import numpy as np
import pytest

from perfbench import checks, gen, layers, stores
from perfbench import reference as ref
from perfbench.checks import CheckError

HERE = os.path.dirname(os.path.abspath(__file__))


# ---------------------------------------------------------------- goldens

def test_engagement_pct_hand_goldens():
    # 60 000 ms and 180 000 ms on a 1800 s item: 0.03 and 0.10
    scale = Decimal("0.001")
    assert ref.engagement(60000.0, 1800.0, scale) == (60.0, Decimal("0.03"))
    assert ref.engagement(180000.0, 1800.0, scale) == (180.0, Decimal("0.10"))
    assert ref.engagement(None, 1800.0) == (None, None)
    assert ref.engagement(5.0, None) == (0.005, None)
    assert ref.engagement(5.0, 0.0) == (0.005, None)
    assert ref.engagement(1.0, 800.0)[1] == Decimal("0.13")  # 0.125 rounds half-up


def test_leaderboard_hand_golden():
    evs = [{"kind": "insert", "ts_ms": 1_704_067_200_000 + i, "user_id": 1} for i in range(2)]
    evs.append({"kind": "delete", "ts_ms": 1_704_067_200_000, "user_id": 2})
    assert ref.leaderboard(evs, 10) == {1_704_067_200_000: [(1, 2)]}


def test_leaderboard_ties_by_key_and_windows():
    h = ref.HOUR_MS
    evs = [{"kind": "insert", "ts_ms": t, "user_id": u}
           for t, u in [(0, 5), (1, 3), (2, 5), (3, 3), (4, 9), (h, 9), (h - 1, 9)]]
    assert ref.leaderboard(evs, 2) == {0: [(3, 2), (5, 2)], h: [(9, 1)]}


def test_bm25_by_hand():
    texts = {1: "a b", 2: "a a c", 3: "c d e f"}
    m = ref.BM25(texts)
    n, avgdl = 3.0, 9.0 / 3.0
    idf_a = ((n - 2.0) + 0.5) / (2.0 + 0.5)
    sat = lambda tf, dl: (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))  # noqa: E731
    want1 = math.floor(idf_a * sat(1.0, 2.0) * 1e6 + 0.5) / 1e6
    want2 = math.floor(idf_a * sat(2.0, 3.0) * 1e6 + 0.5) / 1e6
    assert m.scores(["a"]) == {1: want1, 2: want2}
    assert [d for d, _ in m.topk(["a", "A".lower()], 5)] == [2, 1]
    assert m.topk(["zzz"], 5) == []


def test_pq_reference_by_hand():
    cb = {(10, 0): [0.0, 0.0], (11, 0): [1.0, 1.0], (10, 1): [0.0, 0.0], (11, 1): [2.0, 0.0]}
    cents = {10: [1.0, 0.0, 0.0, 0.0], 11: [0.0, 0.0, 1.0, 0.0]}
    vecs = {1: np.array([0.9, 1.0, 2.0, 0.1]), 2: np.array([0.1, 0.0, 0.0, 0.0])}
    pq = ref.PQIndex(cb, cents, vecs)
    assert pq.codes == {1: [11, 11], 2: [10, 10]}
    assert pq.lists == {1: 11, 2: 10}
    q = np.array([1.0, 1.0, 2.0, 0.0])
    assert pq.adc(q, pq.codes[1]) == 0
    assert pq.adc(q, pq.codes[2]) == ref.l2q(q, np.zeros(4))
    assert ref.l2q(np.array([0.5]), np.array([0.0])) == 250_000_000
    assert [v for v, _ in pq.topk(q, 2, nprobe=2)] == [1, 2]
    assert ref.exact_l2_topk(vecs, q, 1) == [1]
    assert ref.qcos(np.array([1.0, 0.0]), np.array([1.0, 1.0])) == pytest.approx(1 / math.sqrt(2))


def test_rrf_by_hand():
    got = ref.rrf([7, 8], [8, 9], 3)
    assert got == [(8, 1 / 62 + 1 / 61), (7, 1 / 61), (9, 1 / 62)]


def test_generators_are_seeded():
    q1, q2 = gen.quantizer(3), gen.quantizer(3)
    assert np.array_equal(q1.codewords, q2.codewords)
    c1 = gen.base_corpus(3, 50, q1, gen.VectorSource(3, q1))
    c2 = gen.base_corpus(3, 50, q2, gen.VectorSource(3, q2))
    assert c1.texts == c2.texts
    assert all(np.array_equal(c1.vectors[d], c2.vectors[d]) for d in c1.vectors)
    dim = {r[0]: r[3] for r in gen.fanout_dimension(3)}
    assert gen.fanout_events(3, 1, 200, 0, 100.0, dim) == gen.fanout_events(3, 1, 200, 0, 100.0, dim)
    assert gen.fanout_events(3, 1, 200, 0, 100.0, dim) != gen.fanout_events(4, 1, 200, 0, 100.0, dim)


def test_planted_duplicates_are_unambiguous():
    q = gen.quantizer(5)
    vs = gen.VectorSource(5, q)
    base = gen.base_corpus(5, 300, q, vs)
    docs = gen.ingest_docs(5, 301, 120, q, vs, base)
    kinds = {d.kind for d in docs}
    assert kinds == {"distinct", "text_dup", "vec_dup"}
    by_id = {d.doc_id: d for d in docs}
    for d in docs:
        if d.kind == "text_dup":
            assert ref.tokens(d.text) == ref.tokens(by_id[d.of].text) and d.of < d.doc_id
    shingles = {}
    for d in docs:
        if d.kind != "text_dup":
            toks = ref.tokens(d.text)
            for sh in zip(toks, toks[1:], toks[2:]):
                assert shingles.setdefault(sh, d.doc_id) == d.doc_id


def test_session_queries_overlap_and_fresh_do_not_repeat():
    q = gen.quantizer(2)
    vs = gen.VectorSource(2, q)
    sess = gen.session_queries(2, 10, vs)
    for a, b in zip(sess, sess[1:]):
        assert len(set(a.terms) & set(b.terms)) >= 1
    fresh = gen.fresh_queries(2, 30, vs)
    assert all(1 <= len(f.terms) <= 4 for f in fresh)


def test_cdc_lines_cover_deletes_and_malformed():
    dim = {r[0]: r[3] for r in gen.fanout_dimension(1)}
    evs = gen.fanout_events(1, 1, 2000, 0, 1000.0, dim)
    kinds = {e.kind for e in evs}
    assert kinds == {"insert", "delete", "malformed"}
    for e in evs[:200]:
        line = gen.cdc_line(e)
        if e.kind == "malformed":
            with pytest.raises(json.JSONDecodeError):
                json.loads(line)
        elif e.kind == "delete":
            assert json.loads(line)["payload"]["after"] is None
        else:
            assert json.loads(line)["payload"]["after"]["event_id"] == e.event_id


# ------------------------------------------------- checks fail on corruption

LEDGER = [{"id": 1, "kind": "insert", "ts_ms": 0, "user_id": 4, "value": 100.0, "k": 3},
          {"id": 2, "kind": "insert", "ts_ms": 5, "user_id": 4, "value": None, "k": 1},
          {"id": 3, "kind": "delete", "ts_ms": 6, "user_id": 5, "value": 1.0, "k": 1},
          {"id": 4, "kind": "malformed", "ts_ms": 7, "user_id": 5, "value": 1.0, "k": 1}]
DIM = {4: ("Customer#4", "BUILDING", 3000.0)}


def _rows():
    return {i: {k: v for k, v in row.items()} for i, row in ref.expected_warehouse(LEDGER, DIM).items()}


def test_warehouse_ids_check():
    checks.warehouse_ids([1, 2], LEDGER)
    for bad in ([1], [1, 2, 2], [1, 2, 3], [1, 2, 4]):
        with pytest.raises(CheckError):
            checks.warehouse_ids(bad, LEDGER)


def test_enrichment_check():
    want = ref.expected_warehouse(LEDGER, DIM)
    assert checks.enrichment(_rows(), want, "decimal(5,2)") == []
    rows = _rows()
    rows[1]["engagement_pct"] = Decimal("3.34")
    with pytest.raises(CheckError):
        checks.enrichment(rows, want, "decimal(5,2)")
    rows = _rows()
    rows[2]["engagement_seconds"] = 0.0
    with pytest.raises(CheckError):
        checks.enrichment(rows, want, "decimal(5,2)")
    with pytest.raises(CheckError):
        checks.enrichment(_rows(), want, "double")


def test_enrichment_counts_the_half_cent_probe_as_failed():
    want = ref.expected_warehouse(LEDGER, DIM)
    rows = _rows()
    rows[1]["engagement_pct"] = Decimal("3.34")
    assert checks.enrichment(rows, want, "decimal(5,2)", {1}) == [1]
    with pytest.raises(CheckError):  # any other column of a probe event still must match
        rows[1]["c_name"] = "x"
        checks.enrichment(rows, want, "decimal(5,2)", {1})


def test_half_cent_probe_events():
    dim = {r[0]: r[3] for r in gen.fanout_dimension(9)}
    assert dim[gen.TIE_USER] == gen.TIE_BALANCE
    secs, pct = ref.engagement(gen.TIE_VALUE, gen.TIE_BALANCE)
    assert pct == Decimal("234.38")  # exactly 234.375 before rounding
    # the double formula of functions.core.round_half_up lands below the half
    assert math.floor((100.0 * gen.TIE_VALUE / gen.TIE_BALANCE) * 100.0 + 0.5) / 100.0 == 234.37
    for seed in (1, 2):
        evs = gen.fanout_events(seed, 1_000_000, gen.BACKLOG_PER_FILE, 0, 100.0, dim)
        ties = [e for e in evs if gen.is_tie(gen.ledger_row(e))]
        assert len(ties) == gen.BACKLOG_PER_FILE // gen.TIE_EVERY
        assert all(e.kind == "insert" and e.value == gen.TIE_VALUE for e in ties)
    assert gen.STEADY_RATE * gen.TICK % gen.TIE_EVERY == 0


def test_generator_process_writes_backlog_and_ledger(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    gen.main(["backlog", "--files", "2", "--src", str(src), "--ledger", str(tmp_path / "l.jsonl"),
              "--seed", "3", "--first-id", "100"])
    assert sorted(os.listdir(src)) == ["backlog-100-0000.jsonl", "backlog-100-0001.jsonl"]
    assert len(ref.load_jsonl(str(tmp_path / "l.jsonl"))) == 2 * gen.BACKLOG_PER_FILE
    with pytest.raises(SystemExit):  # live mode needs its own schedule
        gen.main(["live", "--src", str(src), "--ledger", "x", "--seed", "3", "--first-id", "1"])


def test_webhook_check():
    checks.webhook(["1", "2"], [1, 2])
    with pytest.raises(CheckError):
        checks.webhook(["1"], [1, 2])
    with pytest.raises(CheckError):
        checks.webhook(["1", "1", "2"], [1, 2])


def test_leaderboard_check():
    want = ref.leaderboard(LEDGER, 10)
    checks.leaderboard([(0, 4, 2, 1)], want, 10)
    for bad in ([(0, 4, 1, 1)], [(0, 5, 2, 1)], [(3_600_000, 4, 2, 1)], [(0, 4, 2, 1), (0, 5, 1, 2)]):
        with pytest.raises(CheckError):
            checks.leaderboard(bad, want, 10)


def test_rollup_total_check():
    checks.rollup_total(2, 2)
    with pytest.raises(CheckError):
        checks.rollup_total(3, 2)


@pytest.fixture
def corpus():
    return ref.BM25({1: "a b c", 2: "a a d", 3: "b d e f", 4: "e e e a"})


def test_bm25_check(corpus):
    good = corpus.topk(["a", "e"], 2)
    checks.bm25(good, corpus, ["a", "e"], 2)
    with pytest.raises(CheckError):
        checks.bm25([(good[0][0], good[0][1] * 1.001), good[1]], corpus, ["a", "e"], 2)
    with pytest.raises(CheckError):
        checks.bm25([good[0], (1, good[1][1])], corpus, ["a", "e"], 2)
    with pytest.raises(CheckError):
        checks.bm25(good[:1], corpus, ["a", "e"], 2)


def test_bm25_check_accepts_ties_at_k():
    m = ref.BM25({1: "a x", 2: "a y", 3: "a z"})
    top = m.topk(["a"], 2)
    tied_other = [(1, top[0][1]), (3, top[1][1])]
    checks.bm25(tied_other, m, ["a"], 2)


def _pq():
    cb = {(10, 0): [0.0, 0.0], (11, 0): [1.0, 1.0], (10, 1): [0.0, 0.0], (11, 1): [2.0, 0.0]}
    cents = {10: [1.0, 0.0, 0.0, 0.0], 11: [0.0, 0.0, 1.0, 0.0]}
    vecs = {1: np.array([0.9, 1.0, 2.0, 0.1]), 2: np.array([0.1, 0.0, 0.0, 0.0])}
    return ref.PQIndex(cb, cents, vecs), vecs


def test_adc_check():
    pq, vecs = _pq()
    q = np.array([1.0, 1.0, 2.0, 0.0])
    good = [(v, pq.adc(q, pq.codes[v])) for v in (1, 2)]
    checks.adc(good, pq, q, vecs)
    with pytest.raises(CheckError):
        checks.adc([(1, good[0][1] + 1), good[1]], pq, q, vecs)
    with pytest.raises(CheckError):
        checks.adc(good[::-1], pq, q, vecs)
    with pytest.raises(CheckError):
        checks.adc(good + [(9, 0)], pq, q, vecs)


def test_recall_floor_check():
    assert checks.recall_floor([1.0, 0.5], 0.5) == 0.75
    with pytest.raises(CheckError):
        checks.recall_floor([0.4, 0.5], 0.5)


def test_rrf_check():
    good = ref.rrf([7, 8], [8, 9], 3)
    checks.rrf(good, [7, 8], [8, 9], 3)
    with pytest.raises(CheckError):
        checks.rrf([good[1], good[0], good[2]], [7, 8], [8, 9], 3)
    with pytest.raises(CheckError):
        checks.rrf([(8, good[0][1] + 1e-9), *good[1:]], [7, 8], [8, 9], 3)


def test_batch_matches_single_check():
    checks.batch_matches_single({0: [(1, 0.1)], 1: [(2, 0.2)]}, {0: [(1, 0.1)]})
    with pytest.raises(CheckError):
        checks.batch_matches_single({0: [(2, 0.1)]}, {0: [(1, 0.1)]})


def test_dedup_check():
    D = gen.IngestDoc
    v = np.zeros(2)
    docs = [D(1, "x", v, "distinct", None), D(2, "x", v, "text_dup", 1), D(3, "y", v, "vec_dup", 9)]
    checks.dedup(docs, {1, 3}, {1})
    for text, vecs in (({1, 2, 3}, {1}), ({3}, {1}), ({1, 3}, {1, 3}), ({1, 3}, set())):
        with pytest.raises(CheckError):
            checks.dedup(docs, text, vecs)


def test_erasure_and_stats_checks():
    checks.erased_absent({5}, "codes", [1, 2])
    with pytest.raises(CheckError):
        checks.erased_absent({5}, "codes", [1, 5])
    checks.equal(10, 10, "n_docs")
    with pytest.raises(CheckError):
        checks.equal(11, 10, "n_docs")


def test_upsert_check():
    checks.upsert([7], [], [7])
    with pytest.raises(CheckError):
        checks.upsert([], [7], [7])
    with pytest.raises(CheckError):
        checks.upsert([7], [7], [7])


def test_upsert_probes_fail_when_the_upsert_did_nothing():
    rng = random.Random(1)
    old = {d: gen.unique_text(d, rng) for d in (5, 6, 7)}
    new = {d: gen.retag(t, d, "u", "n") for d, t in old.items()}
    upserted = [6, 7]
    done = ref.BM25({**old, **{d: new[d] for d in upserted}})
    checks.upsert(*stores.upsert_probes(lambda t: done.topk(t, 10), upserted), upserted)
    noop = ref.BM25(old)  # the old terms still find the docs, the new ones nothing
    with pytest.raises(CheckError):
        checks.upsert(*stores.upsert_probes(lambda t: noop.topk(t, 10), upserted), upserted)
    half = ref.BM25({**old, 6: new[6], 7: old[7] + " " + new[7]})  # doc 7 kept its old text too
    with pytest.raises(CheckError):
        checks.upsert(*stores.upsert_probes(lambda t: half.topk(t, 10), upserted), upserted)


def test_upserted_codes_check():
    pq, vecs = _pq()
    checks.upserted_codes({1: (pq.lists[1], pq.codes[1])}, pq, vecs)
    with pytest.raises(CheckError):  # still the codes of another embedding
        checks.upserted_codes({1: (pq.lists[2], pq.codes[2])}, pq, vecs)
    with pytest.raises(CheckError):
        checks.upserted_codes({1: (pq.lists[2], pq.codes[1])}, pq, vecs)


def test_compaction_check():
    checks.compaction([[(1, 0.5)]], [[(1, 0.5)]], 6, 2)
    with pytest.raises(CheckError):
        checks.compaction([[(1, 0.5)]], [[(1, 0.4)]], 6, 2)
    with pytest.raises(CheckError):
        checks.compaction([[(1, 0.5)]], [[(1, 0.5)]], 2, 2)


# ------------------------------------------------------------ the manifest

def test_benchmark_json_lists_the_catalogue():
    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == layers.CATALOGUE
    assert [m["name"] for m in bench["end_to_end"]] == ["setup_s", "op_p50_ms", "work_per_s"]
    assert [w["name"] for w in bench["workloads"]] == ["fanout", "stores"]
