"""The ``stores`` workload: the generational text and ANN stores, write
side and read side, in one session.

Set-up builds a text index (``build_text_index``) and an IVF-PQ index
(``build_pq_index``) over a generated corpus.  The timed region then
runs, in order:

1. maintain, ingest: ``curated_multimodal_ingest_sink`` over batches
   with planted exact, normalization and vector near-duplicates; each
   batch adds a store generation, so later probes merge generations;
2. maintain, erase and upsert: one ``curated_erase`` call, then
   ``upsert_docs`` and ``upsert_vectors`` on the same docs;
3. serve: a warm-up round, then whole rounds of single fresh-mix
   probes -- ``bm25_topk_merged`` and ``pq_probe_topk`` -- then one
   one-query and one many-query ``hybrid_batch_rrf`` call;
4. maintain, compact: ``compact_text_index`` and ``compact_index``.

Verification probes and the reference computations run after the
timed region.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import pyarrow.dataset as ds

from . import checks, gen
from . import reference as ref
from .workloads import Context, Result, data_files, generations, median

HYBRID_DEPTH = 20            # candidates each ranker hands the fusion (operators/hybrid.py)

N_BASE = 2_000
INGEST_DOCS = 120
UPSERTS = 3
K, NPROBE = 10, 2
ROUND_S = 3.3                # a round of single probes (one fresh BM25, one fresh ANN) per 3.3 s of --seconds
QID_BASE = 1_000_000_000     # hybrid query ids; the batch ANN probe drops a vec_id equal to its qid
BATCH_QUERIES = 16
MAX_ADC_DIST = 800_000_000   # nano-units: between a near-duplicate's and a distinct vector's distance
RECALL_FLOOR = 0.5           # mean exact-L2 recall@10 of the ANN probes
INGEST_BATCH, UPSERT_BATCH, COMPACT_UPTO = 0, 1, 2


@contextmanager
def _patched(pairs):
    saved = [(m, a, getattr(m, a)) for m, a, _ in pairs]
    for m, a, r in pairs:
        setattr(m, a, r)
    try:
        yield
    finally:
        for m, a, v in saved:
            setattr(m, a, v)


def _traced_factory(tracer, factory, name):
    def make(*a, **kw):
        inner = factory(*a, **kw)

        def process(df, batch_id):
            with tracer.span(name, batch=batch_id):
                inner(df, batch_id)
        return process
    return make


def _traced_call(tracer, fn, name, outermost=False):
    """Span around ``fn``; with ``outermost``, only when no other erase
    stage is open (``delete_doc_signatures`` calls ``erase_rows`` too)."""
    def call(*a, **kw):
        cur = tracer.current() or ""
        if outermost and cur.startswith("maintain.erase."):
            return fn(*a, **kw)
        with tracer.span(name):
            return fn(*a, **kw)
    return call


def _ids(path: str, col: str) -> list[int]:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=[col]).column(col).to_pylist()


def _stats_docs(ti: str) -> int:
    return sum(ds.dataset(f"{ti}/stats", format="parquet", partitioning="hive")
               .to_table(columns=["n_docs"]).column("n_docs").to_pylist())


def _store_generations(ti: str, ai: str) -> int:
    return generations(f"{ti}/postings") + generations(f"{ai}/codes")


def run(ctx: Context) -> Result:
    from eventstream_fanout_spark.operators.ann_index import build_pq_index, pq_probe_topk
    from eventstream_fanout_spark.operators.hybrid import hybrid_batch_rrf
    from eventstream_fanout_spark.operators.text_index import bm25_topk_merged, build_text_index
    from eventstream_fanout_spark.streaming import (
        ann_ingest, compaction, corpus_dedup, curated_ingest, text_ingest)

    spark, tracer, res = ctx.spark, ctx.tracer, ctx.result
    ti, ai = ctx.path("text_index"), ctx.path("ann_index")
    sig, out, vec_out = ctx.path("signatures"), ctx.path("accepted"), ctx.path("accepted_vectors")
    vec = lambda v: [float(x) for x in v]  # noqa: E731

    # ---- set-up: inputs, then both stores (built side by side)
    quant = gen.quantizer(ctx.seed)
    vs = gen.VectorSource(ctx.seed, quant)
    base = gen.base_corpus(ctx.seed, N_BASE, quant, vs)
    docs = gen.ingest_docs(ctx.seed, N_BASE + 1, INGEST_DOCS, quant, vs, base)
    fresh = gen.fresh_queries(ctx.seed, 64, vs)
    texts_df = spark.createDataFrame(sorted(base.texts.items()), "doc_id long, text string")
    vecs_df = spark.createDataFrame([(d, vec(v)) for d, v in sorted(base.vectors.items())],
                                    "vec_id long, embedding array<double>")
    with ThreadPoolExecutor(2) as pool:
        for f in [pool.submit(build_text_index, spark, texts_df, ti),
                  pool.submit(build_pq_index, spark, vecs_df, ai)]:
            f.result()
    ingest_df = spark.createDataFrame([(d.doc_id, d.text, vec(d.vector)) for d in docs],
                                      "doc_id long, text string, embedding array<double>")

    # what the stores should hold, by the ledger
    texts, vectors = dict(base.texts), dict(base.vectors)
    for d in docs:
        if d.kind != "text_dup":
            texts[d.doc_id] = d.text
        if d.kind == "distinct":
            vectors[d.doc_id] = d.vector
    distinct = [d.doc_id for d in docs if d.kind == "distinct"]
    erase_ids = distinct[:4] + [d.doc_id for d in docs if d.kind == "vec_dup"][:1] + [N_BASE - 1]
    upserted = distinct[-UPSERTS:]
    new_texts = {d: gen.retag(texts[d], d, "u", "n") for d in upserted}
    new_vectors = {d: vs.draw() for d in upserted}
    up_docs_df = spark.createDataFrame(sorted(new_texts.items()), "doc_id long, text string")
    up_vecs_df = spark.createDataFrame([(d, vec(v)) for d, v in sorted(new_vectors.items())],
                                       "vec_id long, embedding array<double>")
    setup_s = time.time() - ctx.process_start

    # ---- timed region: ingest, erase, upsert
    traced = tracer.enabled
    ingest_stages = [
        (curated_ingest, "streaming_dedup_sink", "maintain.ingest.text_dedup"),
        (curated_ingest, "streaming_text_index_sink", "maintain.ingest.text_index"),
        (curated_ingest, "streaming_vector_dedup_sink", "maintain.ingest.vector_dedup"),
    ]
    with _patched([(m, a, _traced_factory(tracer, getattr(m, a), n)) for m, a, n in ingest_stages]
                  if traced else []):
        sink = curated_ingest.curated_multimodal_ingest_sink(
            sig, out, ti, ai, vec_out, MAX_ADC_DIST)
    with tracer.span("maintain.ingest", docs=len(docs)):
        sink(ingest_df, INGEST_BATCH)

    erase_stages = [
        (corpus_dedup, "delete_doc_signatures", "maintain.erase.signatures", False),
        (text_ingest, "delete_docs", "maintain.erase.text_index", False),
        (ann_ingest, "delete_vectors", "maintain.erase.ann", False),
        (compaction, "erase_rows", "maintain.erase.vec_out", True),
    ]
    with _patched([(m, a, _traced_call(tracer, getattr(m, a), n, o)) for m, a, n, o in erase_stages]
                  if traced else []):
        with tracer.span("maintain.erase", ids=len(erase_ids)):
            curated_ingest.curated_erase(spark, sig, out, ti, erase_ids,
                                         ann_index_path=ai, vec_out_path=vec_out)
    for d in erase_ids:
        texts.pop(d, None)
        vectors.pop(d, None)
    with tracer.span("maintain.upsert.text"):
        text_ingest.upsert_docs(spark, ti, up_docs_df, UPSERT_BATCH)
    texts.update(new_texts)
    with tracer.span("maintain.upsert.ann"):
        ann_ingest.upsert_vectors(spark, ai, up_vecs_df, UPSERT_BATCH)
    vectors.update(new_vectors)

    # ---- timed region: serve
    def q_frame(qids):
        return spark.createDataFrame(
            [(QID_BASE + i, fresh[i].terms, vec(fresh[i].vector)) for i in qids],
            "qid long, terms array<string>, embedding array<double>")

    def bm25_probe(terms):
        return [(r.doc_id, r.bm25_score, r.n_terms_matched)
                for r in bm25_topk_merged(spark, ti, terms, K).collect()]

    def ann_frame(v):
        return spark.createDataFrame([(vec(v),)], "embedding array<double>")

    def ann_probe(frame):
        return [(r.vec_id, r.adc_dist) for r in pq_probe_topk(spark, ai, frame, K, nprobe=NPROBE).collect()]

    # one warm-up round (the first probe of each plan shape pays code
    # generation), then a fixed number of measured rounds
    rounds = max(2, round(ctx.seconds / ROUND_S))
    frames = [ann_frame(fresh[i].vector) for i in range(rounds + 1)]
    bm25_probe(fresh[rounds].terms)
    ann_probe(frames[rounds])
    bm25_ans, ann_ans = {}, {}
    for r in range(rounds):
        with tracer.span("serve.bm25", qid=r):
            bm25_ans[r] = bm25_probe(fresh[r].terms)
        with tracer.span("serve.ann", qid=r):
            ann_ans[r] = ann_probe(frames[r])
    frame = q_frame([0])
    with tracer.span("serve.hybrid", qid=0):
        hybrid_single = _fused(hybrid_batch_rrf(spark, ti, ai, frame, k=K, nprobe=NPROBE,
                                                terms_literal=fresh[0].terms).collect())
    qids = list(range(BATCH_QUERIES))
    frame = q_frame(qids)
    terms = sorted({t for i in qids for t in fresh[i].terms})
    with tracer.span("serve.batch", queries=len(qids)):
        batch_ans = _fused(hybrid_batch_rrf(spark, ti, ai, frame, k=K, nprobe=NPROBE,
                                            terms_literal=terms).collect())

    # ---- timed region: compact
    pre_gens = _store_generations(ti, ai)
    pre_files = sum(data_files(p) for p in (ti, ai, sig, out, vec_out))
    with tracer.span("maintain.compact.text"):
        text_ingest.compact_text_index(spark, ti, COMPACT_UPTO)
    with tracer.span("maintain.compact.ann"):
        ann_ingest.compact_index(spark, ai, COMPACT_UPTO)

    # ---- figures
    spans = tracer.named
    probe_ms = [s.ms for k in ("bm25", "ann") for s in spans(f"serve.{k}")]
    named = {
        "ingest_docs_per_s": len(docs) / (spans("maintain.ingest")[0].ms / 1000.0),
        "bm25_probe_p50_ms": median([s.ms for s in spans("serve.bm25")]),
        "ann_probe_p50_ms": median([s.ms for s in spans("serve.ann")]),
        "hybrid_probe_ms": spans("serve.hybrid")[0].ms,
        "single_probe_p50_ms": median(probe_ms),
        "batch_queries_per_s": BATCH_QUERIES / (spans("serve.batch")[0].ms / 1000.0),
        "erase_ms": spans("maintain.erase")[0].ms,
        "upsert_text_ms": spans("maintain.upsert.text")[0].ms,
        "upsert_ann_ms": spans("maintain.upsert.ann")[0].ms,
        "upsert_p50_ms": median([s.ms for s in spans("maintain.upsert.text") + spans("maintain.upsert.ann")]),
        "compact_s": sum(s.ms for s in spans("maintain.compact.text") + spans("maintain.compact.ann")) / 1000.0,
    }
    # one ingest, one erase, two upserts, two compactions, the probes
    res.attempted = 6 + 2 * (rounds + 1) + 2
    res.failed = 0
    res.end_to_end = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (named["single_probe_p50_ms"], "ms"),
        "work_per_s": (named["ingest_docs_per_s"], "1/s"),
    }
    post_gens = _store_generations(ti, ai)
    res.detail = {
        "workload": "stores", "seed": ctx.seed, "cores": ctx.cores, "setup_s": setup_s,
        **named, "rounds": rounds, "single_probes": 2 * rounds + 1, "docs_offered": len(docs),
        "store_generations_before_compact": pre_gens, "store_generations_after_compact": post_gens,
        "data_files_before_compact": pre_files,
        "data_files_after_compact": sum(data_files(p) for p in (ti, ai, sig, out, vec_out)),
    }
    res.layers = {"offered": len(docs), "admitted": sum(1 for d in docs if d.kind != "text_dup")}

    # ---- verification: probes after compaction run while the references are built
    with ThreadPoolExecutor(3) as pool:
        f_bm25 = pool.submit(bm25_probe, fresh[0].terms)
        f_ann = pool.submit(ann_probe, frames[0])
        f_up = pool.submit(upsert_probes, bm25_probe, upserted)
        bm25 = ref.BM25(texts)
        tab = ds.dataset(f"{ai}/codebook", format="parquet").to_table().to_pylist()
        pq = ref.PQIndex({(x["cid"], x["s"]): x["ce"] for x in tab},
                         {x["cid"]: x["ce"] for x in
                          ds.dataset(f"{ai}/centroids", format="parquet").to_table().to_pylist()},
                         vectors)
        post_bm25, post_ann, up_hits = f_bm25.result(), f_ann.result(), f_up.result()

    # ---- checks
    accepted, accepted_vecs = set(_ids(out, "doc_id")), set(_ids(vec_out, "vec_id"))
    code_rows = ds.dataset(f"{ai}/codes", format="parquet", partitioning="hive").to_table(
        columns=["vec_id", "list_id", "codes"]).to_pylist()
    codes = [r["vec_id"] for r in code_rows]
    erased = set(erase_ids)
    checks.dedup([d for d in docs if d.doc_id not in erased], accepted, accepted_vecs)
    checks.erased_absent(erased, "the accepted store", accepted)
    checks.erased_absent(erased, "the accepted-vector store", accepted_vecs)
    checks.erased_absent(erased, "the ANN codes", codes)
    checks.equal(sorted(codes), sorted(vectors), "ANN codes vs the live vectors")
    checks.equal(_stats_docs(ti), len(texts), "summed stats n_docs vs the live docs")
    recalls = []
    for i, ans in bm25_ans.items():
        checks.erased_absent(erased, "a BM25 answer", [d for d, *_ in ans])
        checks.bm25([(d, s) for d, s, _ in ans], bm25, fresh[i].terms, K)
    for i, ans in ann_ans.items():
        checks.erased_absent(erased, "an ANN answer", [d for d, _ in ans])
        checks.adc(ans, pq, fresh[i].vector, vectors)
        recalls.append(ref.recall([d for d, _ in ans], ref.exact_l2_topk(vectors, fresh[i].vector, K)))
    res.detail["ann_recall_at_10"] = checks.recall_floor(recalls, RECALL_FLOOR)
    for qid, ans in batch_ans.items():
        q = fresh[qid - QID_BASE]
        checks.erased_absent(erased, "a hybrid answer", [d for d, _ in ans])
        checks.rrf(ans, [d for d, _ in bm25.topk(q.terms, HYBRID_DEPTH)],
                   [d for d, _ in pq.topk(q.vector, HYBRID_DEPTH, NPROBE)], K)
    checks.batch_matches_single(batch_ans, hybrid_single)
    checks.compaction([bm25_ans[0], ann_ans[0]], [post_bm25, post_ann], pre_gens, post_gens)
    checks.upsert(*up_hits, upserted)
    checks.upserted_codes({r["vec_id"]: (r["list_id"], r["codes"]) for r in code_rows
                           if r["vec_id"] in new_vectors}, pq, vectors)
    checks.erased_absent(erased, "the compacted ANN codes", codes)
    return res


def upsert_probes(probe, doc_ids: list[int]) -> tuple[list[int], list[int]]:
    """Two separate BM25 probes: the first unique term of each new text,
    then that of each old text.  ``probe(terms)`` returns rows whose
    first field is the doc id."""
    return tuple([row[0] for row in probe([gen.unique_term(d, 0, tag) for d in doc_ids])]
                 for tag in ("n", "u"))


def _fused(rows) -> dict[int, list]:
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.qid, r.rank)):
        out.setdefault(r.qid, []).append((r.doc_id, r.rrf_score))
    return out


def per_layer(res: Result, tracer) -> dict:
    spans = tracer.named
    out = {}
    for name in ("serve.bm25", "serve.ann", "serve.hybrid", "serve.batch"):
        ss = spans(name)
        out.update({f"{name}.ms": median([s.ms for s in ss]),
                    f"{name}.jobs": median([s.jobs for s in ss]),
                    f"{name}.tasks": median([s.tasks for s in ss])})
    for name in ("maintain.ingest.text_dedup", "maintain.ingest.text_index",
                 "maintain.ingest.vector_dedup", "maintain.erase.signatures",
                 "maintain.erase.text_index", "maintain.erase.ann", "maintain.erase.vec_out",
                 "maintain.upsert.text", "maintain.upsert.ann",
                 "maintain.compact.text", "maintain.compact.ann"):
        ss = spans(name)
        out[f"{name}.ms"] = median([s.ms for s in ss])
        out[f"{name}.jobs"] = median([s.jobs for s in ss])
    out["maintain.ingest.admit_ratio"] = res.layers["admitted"] / res.layers["offered"]
    out["maintain.store.generations"] = res.detail["store_generations_before_compact"]
    out["maintain.store.data_files_before_compact"] = res.detail["data_files_before_compact"]
    out["maintain.store.data_files_after_compact"] = res.detail["data_files_after_compact"]
    out["serve.store.data_files"] = res.detail["data_files_before_compact"]
    return out
