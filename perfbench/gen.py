"""Seeded input generators.  Every input the benchmark hands the program
comes from here, as a pure function of the ``--seed``; the program sees
only the generated rows and files.

Fan-out:  a dimension table and Debezium-shaped JSONL event lines.
Stores:   a Zipfian corpus with clustered embeddings, ingest batches
          with planted duplicates, and the fresh and session query mixes.

Run as a script, this module is the fan-out load generator process
(see ``main``): it writes event files into the source directory on a
schedule, each under a hidden name first and then renamed into place.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np

# ---------------------------------------------------------------- fan-out

N_USERS = 2_000          # user key space; keys are Zipf-skewed
N_DIM_USERS = 1_800      # users 1..1800 have a dimension row
EVENT_TYPES = ("view", "click", "play", "share", "like")
DELETE_SHARE = 0.02      # Debezium deletes (after = null)
MALFORMED_SHARE = 0.01   # lines that are not valid JSON
LATE_SHARE = 0.03        # out-of-order events: ts earlier than creation
LATE_MAX_MS = 30_000     # ... by at most 30 s (well inside a 1 h window)
NULL_VALUE_SHARE = 0.02
BACKLOG_PER_FILE = 1_500  # events per backlog file
STEADY_RATE = 200        # events/s of the live phase
TICK = 0.25              # the live generator writes one file per tick

# A fixed probe of the enrichment rounding, the same in every run: one
# event in every ``TIE_EVERY`` is ``TIE_VALUE`` from user ``TIE_USER``,
# whose balance puts ``100*value/bal`` exactly on a half-cent (234.375).
# Decimal half-up gives 234.38.  ``TIE_EVERY`` divides both a backlog
# file and a live tick, so these events are an exact share of any run.
TIE_USER, TIE_BALANCE, TIE_VALUE = N_USERS + 1, 2901.76, 6801.0
TIE_EVERY = 50


def fanout_dimension(seed: int) -> list[tuple]:
    """``(c_custkey, c_name, c_mktsegment, c_acctbal)`` rows.  A few
    balances are 0 (the pct guard) and a few users have no row at all
    (the left join's null side)."""
    rng = random.Random(seed * 7919 + 1)
    segs = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    rows = []
    for uid in range(1, N_DIM_USERS + 1):
        bal = 0.0 if uid % 97 == 0 else rng.randint(100_000, 1_000_000) / 100.0
        rows.append((uid, f"Customer#{uid:09d}", rng.choice(segs), bal))
    rows.append((TIE_USER, f"Customer#{TIE_USER:09d}", "BUILDING", TIE_BALANCE))
    return rows


def _zipf_users(rng: random.Random, n: int) -> list[int]:
    weights = [1.0 / (i ** 1.1) for i in range(1, N_USERS + 1)]
    order = list(range(1, N_USERS + 1))
    random.Random(17).shuffle(order)  # hot keys spread over the id range
    return [order[i] for i in rng.choices(range(N_USERS), weights, k=n)]


@dataclass
class Event:
    event_id: int
    created_ms: int          # scheduled creation time
    ts_ms: int               # event time carried on the wire
    user_id: int
    event_type: str
    value: float | None
    k: int
    kind: str                # "insert" | "delete" | "malformed"


def _avoid_pct_tie(value: int, bal: float) -> int:
    """Nudge a seeded ``value`` off an exact half-cent of
    ``100*value/bal``.  On some such ties the program's double half-up
    rounds down where decimal half-up rounds up; which (user, value)
    pairs are ties depends on the seed, so a seeded tie would fail on
    some seeds only.  The fault is shown instead by the fixed
    ``TIE_*`` events, in every run."""
    if bal <= 0:
        return value
    cents = round(bal * 100)
    while True:
        frac = (value * 1_000_000 / cents) % 1.0
        if abs(frac - 0.5) > 1e-6:
            return value
        value += 1


def fanout_events(seed: int, first_id: int, n: int, t0_ms: int,
                  rate: float, dim: dict[int, float]) -> list[Event]:
    """``n`` events with ids from ``first_id``, scheduled at ``rate``
    per second from ``t0_ms``.  Shape depends on the seed only; the
    times shift with ``t0_ms``."""
    rng = random.Random(seed * 104_729 + first_id)
    users = _zipf_users(rng, n)
    out = []
    for i in range(n):
        eid = first_id + i
        created = t0_ms + int(i * 1000.0 / rate)
        ts = created
        if rng.random() < LATE_SHARE:
            ts = created - rng.randint(1_000, LATE_MAX_MS)
        u = rng.random()
        kind = "insert"
        if u < DELETE_SHARE:
            kind = "delete"
        elif u < DELETE_SHARE + MALFORMED_SHARE:
            kind = "malformed"
        value = None
        if rng.random() >= NULL_VALUE_SHARE:
            value = float(_avoid_pct_tie(rng.randint(0, 9_000),
                                         dim.get(users[i], 0.0)))
        ev = Event(eid, created, ts, users[i], rng.choice(EVENT_TYPES),
                   value, rng.randint(0, 9), kind)
        if eid % TIE_EVERY == 0:
            ev = Event(eid, created, created, TIE_USER, "view", TIE_VALUE, 0, "insert")
        out.append(ev)
    return out


def is_tie(ev: dict) -> bool:
    """A ledger row of the fixed rounding probe."""
    return ev["user_id"] == TIE_USER


def _iso(ms: int) -> str:
    return datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%fZ")


def cdc_line(ev: Event) -> str:
    image = {
        "event_id": ev.event_id,
        "ts": _iso(ev.ts_ms),
        "user_id": ev.user_id,
        "event_type": ev.event_type,
        "value": ev.value,
        "props": json.dumps({"k": ev.k}),
    }
    if ev.kind == "delete":
        payload = {"op": "d", "before": image, "after": None, "ts_ms": ev.created_ms}
    else:
        payload = {"op": "c", "before": None, "after": image, "ts_ms": ev.created_ms}
    line = json.dumps({"payload": payload})
    if ev.kind == "malformed":
        return line[: len(line) // 2]  # truncated mid-object
    return line


def write_file(src_dir: str, name: str, events: list[Event]) -> None:
    """Write under a hidden name, then rename into place, so the file
    source never lists a half-written file."""
    tmp = os.path.join(src_dir, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(cdc_line(e) for e in events) + "\n")
    os.rename(tmp, os.path.join(src_dir, name))


def ledger_row(ev: Event) -> dict:
    return {"id": ev.event_id, "created_ms": ev.created_ms, "ts_ms": ev.ts_ms,
            "user_id": ev.user_id, "value": ev.value, "k": ev.k,
            "event_type": ev.event_type, "kind": ev.kind}


def main(argv: list[str] | None = None) -> int:
    """The load generator process.

    ``backlog``: write ``--files`` files of ``BACKLOG_PER_FILE`` events
    at once (scheduled over the second before now).  ``live``: from
    ``--t0`` on, every ``TICK`` seconds write the events scheduled in
    the tick just ended, at ``STEADY_RATE`` events/s for ``--duration``
    s.  Either way the ledger (one JSON row per event, plus one per
    file with its scheduled and actual write time) goes to
    ``--ledger``."""
    p = argparse.ArgumentParser()
    modes = p.add_subparsers(dest="mode", required=True)
    backlog, live = modes.add_parser("backlog"), modes.add_parser("live")
    backlog.add_argument("--files", type=int, required=True)
    live.add_argument("--t0", type=float, required=True)
    live.add_argument("--duration", type=float, required=True)
    for sp in (backlog, live):
        sp.add_argument("--src", required=True)
        sp.add_argument("--ledger", required=True)
        sp.add_argument("--seed", type=int, required=True)
        sp.add_argument("--first-id", type=int, required=True)
    a = p.parse_args(argv)
    dim = {r[0]: r[3] for r in fanout_dimension(a.seed)}
    with open(a.ledger, "w") as led:
        if a.mode == "backlog":
            n = a.files * BACKLOG_PER_FILE
            t0 = int(time.time() * 1000) - 1000
            evs = fanout_events(a.seed, a.first_id, n, t0, n / 1.0, dim)
            for f in range(a.files):
                chunk = evs[f * BACKLOG_PER_FILE:(f + 1) * BACKLOG_PER_FILE]
                write_file(a.src, f"backlog-{a.first_id}-{f:04d}.jsonl", chunk)
                led.write("\n".join(json.dumps(ledger_row(e)) for e in chunk) + "\n")
            return 0
        n = int(STEADY_RATE * a.duration)
        t0_ms = int(a.t0 * 1000)
        evs = fanout_events(a.seed, a.first_id, n, t0_ms, STEADY_RATE, dim)
        n_ticks = int(round(a.duration / TICK))
        i = 0
        for k in range(n_ticks):
            due = a.t0 + (k + 1) * TICK
            time.sleep(max(0.0, due - time.time()))
            end_ms = t0_ms + int((k + 1) * TICK * 1000)
            chunk = []
            while i < n and evs[i].created_ms < end_ms:
                chunk.append(evs[i])
                i += 1
            if k == n_ticks - 1:
                chunk.extend(evs[i:])
                i = n
            if not chunk:
                continue
            write_file(a.src, f"live-{k:05d}.jsonl", chunk)
            wrote = time.time()
            led.write("\n".join(json.dumps(ledger_row(e)) for e in chunk) + "\n")
            led.write(json.dumps({"file": k, "due": due, "wrote": wrote}) + "\n")
            led.flush()
    return 0


# ---------------------------------------------------------------- stores

VOCAB = 5_000
HEAD = 30                # the head band: the 30 most frequent terms
MID = (200, 1_500)       # the mid-frequency band queries draw from
DIM = 64
N_CLUSTERS = 8
SUBS, SUBDIM = 8, 8
CENTER_IDS = range(10, 18)   # the program seeds its quantizers from ids 10..17
NOISE = 0.05             # per-dimension noise around a code tuple
DUP_NOISE = 0.005        # a planted vector near-duplicate's offset


def _term(rank: int) -> str:
    return f"t{rank:04d}"


def _zipf_weights() -> list[float]:
    return [1.0 / (r ** 1.05) for r in range(1, VOCAB + 1)]


@dataclass
class Quantizer:
    codewords: np.ndarray    # (SUBS, 8, SUBDIM)
    prefs: np.ndarray        # (N_CLUSTERS, SUBS): cluster c's code per subspace

    def center(self, c: int) -> np.ndarray:
        return np.concatenate([self.codewords[s, self.prefs[c, s]] for s in range(SUBS)])


def quantizer(seed: int) -> Quantizer:
    """Eight well-separated codewords per subspace.  Cluster ``c``'s
    center uses code ``perm_s[c]`` in subspace ``s``, so the eight
    centers' slices are exactly the codewords: the program's seed
    codebook (ids 10..17) is then the full codebook."""
    rng = np.random.default_rng((seed * 31 + 5) % 2**63)
    while True:
        cw = rng.normal(scale=0.7, size=(SUBS, 8, SUBDIM))
        d2 = ((cw[:, :, None, :] - cw[:, None, :, :]) ** 2).sum(-1)
        off = d2[:, ~np.eye(8, dtype=bool)]
        if off.min() > 2.0:
            break
    prefs = np.stack([rng.permutation(8) for _ in range(SUBS)], axis=1)
    return Quantizer(cw, prefs)


class VectorSource:
    """Clustered embeddings: each vector is a code tuple (biased toward
    its cluster's codes) plus small noise.  Tuples never repeat, so two
    distinct vectors are far apart in ADC distance and a planted
    near-duplicate is close: dedup decisions do not depend on luck."""

    def __init__(self, seed: int, q: Quantizer) -> None:
        self.q = q
        self.rng = np.random.default_rng((seed * 977 + 3) % 2**63)
        self.used: set[tuple] = {tuple(q.prefs[c]) for c in range(N_CLUSTERS)}

    def draw(self) -> np.ndarray:
        q, rng = self.q, self.rng
        while True:
            c = int(rng.integers(N_CLUSTERS))
            codes = tuple(int(q.prefs[c, s]) if rng.random() < 0.6 else int(rng.integers(8))
                          for s in range(SUBS))
            if codes not in self.used:
                break
        self.used.add(codes)
        base = np.concatenate([q.codewords[s, codes[s]] for s in range(SUBS)])
        return base + rng.normal(scale=NOISE, size=DIM)


def ivf_margins(q: Quantizer, vs: dict[int, np.ndarray]) -> dict[int, float]:
    """Per vector, the gap between its best and second-best centroid
    cosine."""
    cents = np.stack([q.center(c) for c in range(N_CLUSTERS)])
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    out = {}
    for d, v in vs.items():
        top = np.sort(cents @ v / np.linalg.norm(v))
        out[d] = float(top[-1] - top[-2])
    return out


@dataclass
class Corpus:
    texts: dict[int, str]
    vectors: dict[int, np.ndarray]


def base_corpus(seed: int, n_docs: int, q: Quantizer, vs: VectorSource) -> Corpus:
    """Docs ``1..n_docs``: 20-60 Zipfian tokens each.  Docs 10..17 carry
    the cluster centers, which seed the program's quantizers."""
    rng = random.Random(seed * 613 + 11)
    w = _zipf_weights()
    texts, vecs = {}, {}
    for d in range(1, n_docs + 1):
        toks = rng.choices(range(1, VOCAB + 1), w, k=rng.randint(20, 60))
        texts[d] = " ".join(_term(t) for t in toks)
        vecs[d] = q.center(d - 10) if d in CENTER_IDS else vs.draw()
    return Corpus(texts, vecs)


def unique_term(doc_id: int, j: int, tag: str = "u") -> str:
    return f"{tag}{doc_id}x{j}"


def unique_text(doc_id: int, rng: random.Random, tag: str = "u") -> str:
    """Every third token is unique to the doc, so any two such docs
    share no 3-token shingle and the MinHash dedup cannot confuse them."""
    w = _zipf_weights()
    n = rng.randint(24, 45)
    toks = []
    for j in range(n):
        toks.append(unique_term(doc_id, j // 3, tag) if j % 3 == 0
                    else _term(rng.choices(range(1, VOCAB + 1), w)[0]))
    return " ".join(toks)


def retag(text: str, doc_id: int, old: str, new: str) -> str:
    return text.replace(f"{old}{doc_id}x", f"{new}{doc_id}x")


@dataclass
class IngestDoc:
    doc_id: int
    text: str
    vector: np.ndarray
    kind: str        # "distinct" | "text_dup" | "vec_dup"
    of: int | None   # the doc it duplicates


def ingest_docs(seed: int, first_id: int, n: int, q: Quantizer, vs: VectorSource,
                base: Corpus) -> list[IngestDoc]:
    """New docs for the curated ingest.  10% are text duplicates of an
    earlier admitted doc (half verbatim, half differing only in case
    and spacing, which the tokenizer folds); 5% are vector
    near-duplicates (new text, embedding within ``DUP_NOISE`` of an
    indexed base vector whose IVF cell is unambiguous)."""
    rng = random.Random(seed * 389 + 7)
    margins = ivf_margins(q, base.vectors)
    base_ids = sorted(d for d, m in margins.items() if d not in CENTER_IDS and m > 0.02)
    docs: list[IngestDoc] = []
    admitted: list[IngestDoc] = []
    for nid in range(first_id, first_id + n):
        u = rng.random()
        if admitted and u < 0.10:
            orig = rng.choice(admitted)
            text = orig.text
            if u < 0.05:
                text = "  " + text.upper().replace(" ", "   ") + " "
            docs.append(IngestDoc(nid, text, vs.draw(), "text_dup", orig.doc_id))
            continue
        if u > 0.95:
            orig = rng.choice(base_ids)
            v = base.vectors[orig] + np.random.default_rng(nid).normal(scale=DUP_NOISE, size=DIM)
            docs.append(IngestDoc(nid, unique_text(nid, rng), v, "vec_dup", orig))
        else:
            docs.append(IngestDoc(nid, unique_text(nid, rng), vs.draw(), "distinct", None))
        admitted.append(docs[-1])
    return docs


@dataclass
class Query:
    terms: list[str]
    vector: np.ndarray


def fresh_queries(seed: int, n: int, vs: VectorSource) -> list[Query]:
    """Independent queries: 1-4 terms from the mid-frequency band; one
    in four also carries one head term.  Vectors are fresh draws."""
    rng = random.Random(seed * 53 + 2)
    out = []
    for _ in range(n):
        terms = [_term(rng.randint(*MID)) for _ in range(rng.randint(1, 4))]
        if rng.random() < 0.25:
            terms[0] = _term(rng.randint(1, HEAD))
        out.append(Query(sorted(set(terms)), vs.draw()))
    return out


def session_queries(seed: int, n: int, vs: VectorSource) -> list[Query]:
    """A session: each query keeps all but one term of the previous
    one (and swaps in one new mid-band term), and nudges its vector."""
    rng = random.Random(seed * 59 + 3)
    nrng = np.random.default_rng((seed * 61 + 4) % 2**63)
    terms = [_term(rng.randint(*MID)) for _ in range(3)]
    vec = vs.draw()
    out = []
    for _ in range(n):
        out.append(Query(sorted(set(terms)), vec.copy()))
        terms = terms[1:] + [_term(rng.randint(*MID))]
        vec = vec + nrng.normal(scale=0.02, size=DIM)
    return out


if __name__ == "__main__":
    sys.exit(main())
