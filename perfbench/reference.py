"""Computations made apart from the program, in plain Python and numpy.

Each function restates a documented contract of the program from
scratch: the enrichment arithmetic, the cross-batch leaderboard, the
log-free BM25 of ``operators/text_index.py``, PQ asymmetric distances
with IVF list selection (``operators/ann_index.py``), and reciprocal
rank fusion (``operators/hybrid.py``).  None of them imports the
program.
"""

from __future__ import annotations

import json
import math
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

QV = 1e9            # nano-unit quantization of vector products
SCORE_Q = 1e6       # micro-unit quantization of the BM25 score sum
BM25_K1, BM25_B = 1.2, 0.75
RRF_K = 60
HOUR_MS = 3_600_000


# ------------------------------------------------------------ enrichment

PCT_SCALE = Decimal(100)   # the flagship mapping: pct = 100 * value / c_acctbal


def engagement(value: float | None, denom: float | None, scale: Decimal = PCT_SCALE):
    """``(engagement_seconds, engagement_pct)``: seconds is value/1000;
    pct is scale*value/denom rounded half-up to 2 places (a
    decimal(5,2)), NULL when either side is NULL or the denominator 0."""
    secs = None if value is None else value / 1000.0
    if value is None or denom is None or denom == 0:
        return secs, None
    exact = scale * Decimal(repr(value)) / Decimal(repr(denom))
    return secs, exact.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)


def expected_warehouse(ledger: list[dict], dim: dict[int, tuple]) -> dict[int, dict]:
    """event_id -> expected enriched row, for every delivered event."""
    out = {}
    for ev in ledger:
        if ev["kind"] != "insert":
            continue
        d = dim.get(ev["user_id"])
        secs, pct = engagement(ev["value"], d[2] if d else None)
        out[ev["id"]] = {
            "user_id": ev["user_id"],
            "prop_k": ev["k"],
            "c_name": d[0] if d else None,
            "engagement_seconds": secs,
            "engagement_pct": pct,
        }
    return out


def leaderboard(ledger: list[dict], k: int) -> dict[int, list[tuple[int, int]]]:
    """Per 1-hour event-time window: the top ``k`` users by event count,
    ties broken by user id — counted over every delivered event."""
    counts: dict[int, Counter] = defaultdict(Counter)
    for ev in ledger:
        if ev["kind"] == "insert":
            counts[ev["ts_ms"] // HOUR_MS * HOUR_MS][ev["user_id"]] += 1
    return {
        w: sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        for w, c in counts.items()
    }


# ------------------------------------------------------------------ BM25

def tokens(text: str) -> list[str]:
    return text.lower().split()


class BM25:
    """Plain BM25 over a ``doc_id -> text`` corpus, with the program's
    documented log-free scorer: idf ratio ``(N - df + 0.5)/(df + 0.5)``,
    saturation ``tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl))``, per-term scores
    summed in micro-units."""

    def __init__(self, texts: dict[int, str]) -> None:
        self.tf: dict[str, dict[int, int]] = defaultdict(dict)
        self.dl: dict[int, int] = {}
        for d, text in texts.items():
            toks = tokens(text)
            self.dl[d] = len(toks)
            for t, n in Counter(toks).items():
                self.tf[t][d] = n
        self.n = len(self.dl)
        self.total = sum(self.dl.values())

    def scores(self, terms: list[str]) -> dict[int, float]:
        n, avgdl = float(self.n), float(self.total) / float(self.n)
        acc: dict[int, int] = defaultdict(int)
        for t in set(terms):
            post = self.tf.get(t, {})
            df = float(len(post))
            idf = ((n - df) + 0.5) / (df + 0.5)
            for d, tf in post.items():
                tf, dl = float(tf), float(self.dl[d])
                sat = (tf * (BM25_K1 + 1.0)) / (tf + (BM25_K1 * ((1.0 - BM25_B) + (BM25_B * (dl / avgdl)))))
                acc[d] += math.floor(idf * sat * SCORE_Q + 0.5)
        return {d: float(q) / SCORE_Q for d, q in acc.items()}

    def topk(self, terms: list[str], k: int) -> list[tuple[int, float]]:
        sc = self.scores(terms)
        return sorted(sc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


# --------------------------------------------------------- PQ / IVF / L2

def _l2q(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Nano-quantized squared differences summed over the last axis."""
    d = a - b
    return np.floor(d * d * QV + 0.5).astype(np.int64).sum(axis=-1)


def l2q(a: np.ndarray, b: np.ndarray) -> int:
    """Sum of nano-quantized squared differences (exact integer)."""
    return int(_l2q(np.asarray(a, dtype=float), np.asarray(b, dtype=float)))


def _qsum(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return np.floor(a * b * QV + 0.5).astype(np.int64).sum(axis=-1)


def qcos(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Cosine from nano-quantized dot and norm sums (broadcasts)."""
    dq, na, nb = _qsum(a, b), _qsum(a, a), _qsum(b, b)
    return (dq / QV) / (np.sqrt(na / QV) * np.sqrt(nb / QV))


class PQIndex:
    """IVF-PQ over raw vectors, from the stored codebook and centroids.

    ``codebook``: ``{(cid, s): ce}``; ``centroids``: ``{cid: ce}``.
    Codes are argmins of the quantized distance (ties to the lower
    cid); a vector's list is its highest-cosine centroid (ties to the
    lower cid)."""

    def __init__(self, codebook: dict, centroids: dict, vectors: dict[int, np.ndarray]) -> None:
        self.subs = sorted({s for _, s in codebook})
        self.cids = sorted({c for c, _ in codebook})
        self.cb = np.array([[codebook[(c, s)] for c in self.cids] for s in self.subs], dtype=float)
        self.cent_ids = sorted(centroids)
        self.cents = np.array([centroids[c] for c in self.cent_ids], dtype=float)
        self.vectors = vectors
        ids = sorted(vectors)
        mat = np.array([vectors[i] for i in ids], dtype=float).reshape(len(ids), -1)
        codes, lists = self._encode(mat), self._assign(mat)
        self.codes = {v: [int(c) for c in row] for v, row in zip(ids, codes)}
        self.lists = {v: int(x) for v, x in zip(ids, lists)}

    def _split(self, mat: np.ndarray) -> np.ndarray:
        return mat.reshape(mat.shape[0], len(self.subs), -1)

    def _encode(self, mat: np.ndarray) -> np.ndarray:
        d = _l2q(self._split(mat)[:, :, None, :], self.cb[None, :, :, :])
        return np.array(self.cids)[d.argmin(axis=2)]

    def _assign(self, mat: np.ndarray) -> np.ndarray:
        cos = qcos(mat[:, None, :], self.cents[None, :, :])
        return np.array(self.cent_ids)[cos.argmax(axis=1)]

    def encode(self, x: np.ndarray) -> list[int]:
        return [int(c) for c in self._encode(np.asarray(x, dtype=float)[None, :])[0]]

    def probe_lists(self, q: np.ndarray, nprobe: int) -> list[int]:
        cos = qcos(np.asarray(q, dtype=float)[None, :], self.cents)
        return [c for _, c in sorted(zip(-cos, self.cent_ids))[:nprobe]]

    def _table(self, q: np.ndarray) -> np.ndarray:
        """(subspace, code) -> quantized distance of the query slice."""
        return _l2q(self._split(np.asarray(q, dtype=float)[None, :])[0][:, None, :], self.cb)

    def adc(self, q: np.ndarray, codes: list[int]) -> int:
        table = self._table(q)
        return int(sum(table[s, self.cids.index(c)] for s, c in enumerate(codes)))

    def topk(self, q: np.ndarray, k: int, nprobe: int) -> list[tuple[int, int]]:
        lists = set(self.probe_lists(q, nprobe))
        table = self._table(q)
        pos = {c: i for i, c in enumerate(self.cids)}
        cand = [(int(sum(table[s, pos[c]] for s, c in enumerate(self.codes[v]))), v)
                for v in self.vectors if self.lists[v] in lists]
        return [(v, d) for d, v in sorted(cand)[:k]]


def exact_l2_topk(vectors: dict[int, np.ndarray], q: np.ndarray, k: int) -> list[int]:
    ids = np.array(sorted(vectors))
    mat = np.stack([vectors[i] for i in ids])
    dist = ((mat - q) ** 2).sum(axis=1)
    order = np.lexsort((ids, dist))
    return [int(ids[i]) for i in order[:k]]


def recall(found: list[int], truth: list[int]) -> float:
    return len(set(found) & set(truth)) / float(len(truth))


# ------------------------------------------------------------------- RRF

def rrf(text_rank: list[int], vec_rank: list[int], k: int) -> list[tuple[int, float]]:
    """Fuse two rankings (doc ids, best first) by ``sum 1/(60 + rank)``;
    ties broken by doc id."""
    score: dict[int, float] = {}
    rt = {d: r for r, d in enumerate(text_rank, 1)}
    rv = {d: r for r, d in enumerate(vec_rank, 1)}
    for d in set(rt) | set(rv):
        a = 1.0 / float(RRF_K + rt[d]) if d in rt else 0.0
        b = 1.0 / float(RRF_K + rv[d]) if d in rv else 0.0
        score[d] = a + b
    return sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def load_jsonl(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]
