"""Persisted inverted text index + BM25 probe (operators/text_index.py):
the probe must read only term-filtered stored rows (pushed term
filter, no documents scan, no per-document doclens scan) and score
sanely; the generational-store guards must fail closed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eventstream_fanout_spark.operators.text_index import (
    build_text_index,
    bm25_topk,
)
from eventstream_fanout_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE

TERMS = ["spark", "window", "join"]


def _docs(spark):
    return load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")


def _doc_with_term(spark, term: str):
    """A doc_id whose whitespace-split text contains ``term`` — used to
    build candidate-scoped-guard fixtures that are guaranteed to
    surface in a probe for that term."""
    return (
        _docs(spark)
        .where(F.array_contains(F.split(F.lower(F.col("text")), r"\s+"), term))
        .orderBy("doc_id")
        .limit(1)
        .collect()[0]["doc_id"]
    )


def test_bm25_probe_reads_only_term_filtered_index_rows(spark, tmp_path):
    """Plan shape: the postings scan carries a pushed tok IN filter,
    the documents table is nowhere in the probe plan, and neither
    probe reads the per-document doclens relation (round-7
    denormalization: dl rides the posting rows, stats is the
    per-generation rollup)."""
    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_merged,
    )

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs, path)
    for probe in (
        bm25_topk(spark, path, TERMS, 10),
        bm25_topk_merged(spark, path, TERMS, 10),
    ):
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "documents.parquet" not in plan, "probe re-reads the corpus"
        assert "PushedFilters: [In(tok" in plan, plan
        assert "doclens" not in plan, "probe scans per-doc lengths"


def test_bm25_scores_rank_term_rich_docs_first(spark, tmp_path):
    """Semantics: every hit contains >=1 query term; n_terms_matched is
    within [1, 3]; scores strictly ordered (desc, doc_id tiebreak)."""
    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs, path)
    rows = bm25_topk(spark, path, TERMS, 10).collect()
    assert len(rows) == 10
    scores = [r["bm25_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(1 <= r["n_terms_matched"] <= 3 for r in rows)
    assert all(r["bm25_score"] > 0 for r in rows)

    hit_ids = [r["doc_id"] for r in rows]
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.where(F.col("doc_id").isin(hit_ids)).collect()
    }
    for r in rows:
        toks = set(texts[r["doc_id"]].lower().split())
        matched = set(TERMS) & toks
        assert len(matched) == r["n_terms_matched"]


def test_text_ingest_merged_probe_equals_full_build(spark, tmp_path):
    """Ingest path: static build on one half, streaming sink on the
    other — the merge-on-read probe must equal an all-at-once build's
    probe; replay of the same batch id changes nothing; compaction
    folds the stores and preserves the ranking."""
    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_merged,
    )
    from eventstream_fanout_spark.streaming.text_ingest import (
        compact_text_index,
        streaming_text_index_sink,
    )

    docs = _docs(spark)

    path = str(tmp_path / "tidx_inc")
    build_text_index(spark, docs.where(F.col("doc_id") % 2 == 0), path)
    sink = streaming_text_index_sink(path)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    sink(odd, 1)

    full_path = str(tmp_path / "tidx_full")
    build_text_index(spark, docs, full_path)
    want = [
        (r["doc_id"], r["bm25_score"])
        for r in bm25_topk_merged(spark, full_path, TERMS, 10).collect()
    ]
    got = [
        (r["doc_id"], r["bm25_score"])
        for r in bm25_topk_merged(spark, path, TERMS, 10).collect()
    ]
    assert got == want

    # replay batch 1: overwrites itself, ranking unchanged
    sink(odd, 1)
    n_postings = spark.read.parquet(f"{path}/postings").count()
    assert [
        (r["doc_id"], r["bm25_score"])
        for r in bm25_topk_merged(spark, path, TERMS, 10).collect()
    ] == want

    # compaction folds both stores (frozen + batch 1 each), keeps rows,
    # rebuilds the stats rollup from the folded doclens
    assert compact_text_index(spark, path, upto_batch_id=2) == 4
    assert spark.read.parquet(f"{path}/postings").count() == n_postings
    bids = {
        r["batch_id"]
        for r in spark.read.parquet(f"{path}/postings")
        .select("batch_id")
        .distinct()
        .collect()
    }
    assert bids == {-2}
    stats = spark.read.parquet(f"{path}/stats").collect()
    assert [r["batch_id"] for r in stats] == [-2]
    assert [
        (r["doc_id"], r["bm25_score"])
        for r in bm25_topk_merged(spark, path, TERMS, 10).collect()
    ] == want


def test_curated_ingest_indexes_only_admitted_docs(spark, tmp_path):
    """The staged fan-out (dedup -> index) as a real checkpointed
    stream: rejected near-dups must never reach the index, replay
    reprocesses nothing, and the index covers exactly the admitted
    set."""
    import os

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from eventstream_fanout_spark.streaming.curated_ingest import (
        curated_ingest_sink,
    )
    from eventstream_fanout_spark.streaming.fanout import (
        FanoutSink,
        start_fanout,
    )

    texts = [
        r["text"]
        for r in _docs(spark).orderBy("doc_id").limit(4).collect()
    ]
    src = str(tmp_path / "docs_src")
    os.makedirs(src)

    def _write(tag, rows):
        spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in rows]
        ).toPandas().to_json(
            f"{src}/{tag}.jsonl", orient="records", lines=True
        )

    # batch a: two docs + an exact dup; batch b: one new + one dup of
    # an accepted batch-a doc
    _write("a-b0", [(0, texts[0]), (1, texts[1]), (100, texts[0])])
    _write("b-b1", [(10, texts[2]), (11, texts[1])])

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = start_fanout(
            stream,
            [FanoutSink("curate", curated_ingest_sink(store, out, idx))],
            checkpoint_dir=ckpt,
            query_name="curated-ingest",
        )
        q.awaitTermination(300)

    run()
    admitted = {
        r["doc_id"] for r in spark.read.parquet(out).collect()
    }
    assert admitted == {0, 1, 10}
    indexed = {
        r["doc_id"]
        for r in spark.read.parquet(f"{idx}/doclens")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert indexed == admitted  # rejected dups never reach the index

    n_postings = spark.read.parquet(f"{idx}/postings").count()
    run()  # checkpointed restart: nothing reprocessed
    assert spark.read.parquet(f"{idx}/postings").count() == n_postings


def test_ingest_sink_refuses_reused_doc_id(spark, tmp_path):
    """doc_id uniqueness across generations is enforced at WRITE time
    (one anti-join per ingest batch): re-sending an already-indexed id
    under a new batch raises before anything is written; replaying the
    SAME batch id is fine (own partition masked)."""
    from eventstream_fanout_spark.streaming.text_ingest import (
        streaming_text_index_sink,
    )

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs.where(F.col("doc_id") % 2 == 0), path)
    sink = streaming_text_index_sink(path)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    sink(odd, 1)
    n_postings = spark.read.parquet(f"{path}/postings").count()

    with pytest.raises(RuntimeError, match="re-sends doc_id"):
        sink(docs.where(F.col("doc_id") == 3), 9)
    # nothing was written by the refused batch
    assert spark.read.parquet(f"{path}/postings").count() == n_postings

    sink(odd, 1)  # replay of batch 1 does not clash with itself


def test_ingest_sink_accepts_int_doc_ids_against_long_store(
    spark, tmp_path
):
    """The uniqueness gate reads doclens as the store's LongType: over
    a build_text_index store, a ``doc_id int`` batch of fresh ids
    ingests as the store's type (and the store stays probe-able), and
    an ``int`` batch that repeats a stored id raises the contract's
    error."""
    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_merged,
    )
    from eventstream_fanout_spark.streaming.text_ingest import (
        streaming_text_index_sink,
    )

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs.where(F.col("doc_id") % 2 == 0), path)
    sink = streaming_text_index_sink(path)
    as_int = lambda df: df.select(  # noqa: E731
        F.col("doc_id").cast("int").alias("doc_id"), "text"
    )
    sink(as_int(docs.where(F.col("doc_id") % 2 == 1)), 1)
    assert spark.read.parquet(f"{path}/doclens").count() == docs.count()
    for table in ("postings", "doclens"):
        gen = spark.read.parquet(f"{path}/{table}/batch_id=1")
        assert gen.schema["doc_id"].dataType.typeName() == "long"
    assert bm25_topk_merged(spark, path, TERMS, 10).count() == 10

    with pytest.raises(RuntimeError, match="re-sends doc_id"):
        sink(as_int(docs.where(F.col("doc_id") == 2)), 2)


def _build_attrs(spark, path):
    """The filtered probes' postings-layout attrs store, from the
    documents' ``lang``."""
    from eventstream_fanout_spark.operators.text_index import (
        build_text_attr_store,
    )

    build_text_attr_store(
        spark, _docs_with_lang(spark).select("doc_id", "lang"), path
    )


def _guarded_probes(upto_batch_id):
    """Every merge-on-read BM25 entry point as ``probe(spark, path,
    terms, k)``: merged, as-of (at ``upto_batch_id``), batch and
    filtered.  A store guard must refuse through each of them."""
    from eventstream_fanout_spark.operators.text_index import (
        bm25_batch_topk,
        bm25_topk_asof,
        bm25_topk_filtered,
        bm25_topk_merged,
    )

    def batch(spark, path, terms, k):
        q = spark.createDataFrame([(1, terms)], "qid bigint, terms array<string>")
        return bm25_batch_topk(spark, path, q, k)

    def asof(spark, path, terms, k):
        return bm25_topk_asof(spark, path, terms, k, upto_batch_id)

    def filtered(spark, path, terms, k):
        return bm25_topk_filtered(
            spark, path, terms, k, F.col("lang").isNotNull()
        )

    return (bm25_topk_merged, asof, batch, filtered)


def test_merged_probe_refuses_duplicated_generation_doc(spark, tmp_path):
    """A doc_id present in two index generations (a crashed compaction
    mid-fold, or an ingest that bypassed the uniqueness gate) silently
    doubles that doc's score rows — the per-(tok, doc_id) uniqueness
    guard on the term-filtered scan must raise through every
    merge-on-read probe (merged, as-of, batch, filtered), and
    compact_text_index (which dedupes on the natural keys) must heal.
    The guard is candidate-scoped, so the fixture duplicates a doc
    that contains a query term."""
    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_merged,
    )
    from eventstream_fanout_spark.streaming.text_ingest import (
        compact_text_index,
        streaming_text_index_sink,
    )

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs, path)
    dup_id = _doc_with_term(spark, "spark")
    # bypass the write-time gate: the crashed-compaction simulation
    sink = streaming_text_index_sink(path, enforce_unique_doc_ids=False)
    sink(docs.where(F.col("doc_id") == dup_id), 9)
    # attrs for every stored posting row (both generations), so the
    # filtered probes reach the duplicate-row guard
    _build_attrs(spark, path)

    for probe in _guarded_probes(upto_batch_id=9):
        with pytest.raises(Exception, match="duplicated \\(tok, doc_id\\)"):
            probe(spark, path, ["spark"], 10).collect()

    # 4 folded index partitions + the attrs store's 2 generations
    assert compact_text_index(spark, path, upto_batch_id=10) == 6
    rows = bm25_topk_merged(spark, path, ["spark"], 10).collect()
    assert len(rows) == 10


def test_merged_probe_refuses_postings_without_stats(spark, tmp_path):
    """Crash window between the sink's postings write and its (LAST)
    stats write: the batch's docs would otherwise score against a
    rollup that does not count them — the generation-coverage guard
    must RAISE; replaying the crashed batch heals all three stores."""
    import shutil

    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_merged,
    )
    from eventstream_fanout_spark.streaming.text_ingest import (
        streaming_text_index_sink,
    )

    docs = _docs_with_lang(spark)
    path = str(tmp_path / "tidx")
    build_text_index(
        spark, docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "text"),
        path,
    )
    _build_attrs(spark, path)
    sink = streaming_text_index_sink(path)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    sink(odd, 1)  # carries lang: the attrs store stays covered
    # simulate the crash: batch 1's stats (and doclens) never landed
    shutil.rmtree(f"{path}/stats/batch_id=1")
    shutil.rmtree(f"{path}/doclens/batch_id=1")
    for probe in _guarded_probes(upto_batch_id=1):
        with pytest.raises(Exception, match="no stats row"):
            probe(spark, path, ["spark", "window"], 10).collect()

    # replay of the same batch id heals the stores
    sink(odd, 1)
    rows = bm25_topk_merged(spark, path, ["spark", "window"], 10).collect()
    assert len(rows) == 10


def test_static_probe_refuses_ingested_index(spark, tmp_path):
    """ADVICE r6 item 1: the static probe's snapshot vocab/stats are
    stale after ANY ingest — it must fail closed, via the stats
    generation guard (completed ingest) or the candidate-scoped
    postings generation guard (crashed ingest whose stats row never
    landed)."""
    import shutil

    from eventstream_fanout_spark.streaming.text_ingest import (
        streaming_text_index_sink,
    )

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs.where(F.col("doc_id") % 2 == 0), path)
    sink = streaming_text_index_sink(path)
    sink(docs.where(F.col("doc_id") % 2 == 1), 1)

    with pytest.raises(Exception, match="stale"):
        bm25_topk(spark, path, TERMS, 10).collect()

    # crashed-ingest variant: stats row gone, postings remain — the
    # candidate-scoped guards catch what the stats guard now cannot
    # (whichever fires first: the vocab-generation coverage guard or
    # the postings-generation guard — both are fail-closed)
    shutil.rmtree(f"{path}/stats/batch_id=1")
    with pytest.raises(Exception, match="stale|no stats row"):
        bm25_topk(spark, path, TERMS, 10).collect()


def test_bm25_unknown_terms_return_empty(spark, tmp_path):
    """Query terms absent from the corpus match nothing (and do not
    error) — the IN filter simply selects zero postings."""
    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs, path)
    assert bm25_topk(spark, path, ["zzzznope"], 10).count() == 0


def test_streaming_bm25_probe_serves_from_stored_index(spark, tmp_path):
    """Streaming BM25 serving (the text twin of the ANN serving sink):
    keyword queries drained as a real checkpointed stream are answered
    from the stored index per micro-batch; answers match the batch
    probe, restart reprocesses nothing, and a replayed batch
    overwrites only itself."""
    import os

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from eventstream_fanout_spark.operators.text_index import (
        bm25_batch_topk,
    )
    from eventstream_fanout_spark.streaming.fanout import (
        FanoutSink,
        start_fanout,
    )
    from eventstream_fanout_spark.streaming.text_serve import (
        streaming_bm25_probe_sink,
    )

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs, path)

    batches = [
        [Row(qid=0, terms=["spark", "window"]), Row(qid=1, terms=["join"])],
        [Row(qid=2, terms=["window", "join"])],
    ]
    src = str(tmp_path / "q_src")
    os.makedirs(src)
    for tag, rows in zip("ab", batches):
        spark.createDataFrame(rows).toPandas().to_json(
            f"{src}/{tag}.jsonl", orient="records", lines=True
        )
    out = str(tmp_path / "answers")
    schema = T.StructType(
        [
            T.StructField("qid", T.LongType()),
            T.StructField("terms", T.ArrayType(T.StringType())),
        ]
    )

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = start_fanout(
            stream,
            [FanoutSink("bm25_probe", streaming_bm25_probe_sink(path, out))],
            checkpoint_dir=str(tmp_path / "ckpt"),
            query_name="bm25-probe-stream",
        )
        q.awaitTermination(300)

    run()
    answers = spark.read.parquet(out)
    got = {}
    for r in answers.collect():
        got.setdefault(r["qid"], []).append((r["rank"], r["doc_id"]))
    assert set(got) == {0, 1, 2}

    queries = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    want = {}
    for r in bm25_batch_topk(spark, path, queries, 5).collect():
        want.setdefault(r["qid"], []).append((r["rank"], r["doc_id"]))
    assert {q: sorted(v) for q, v in got.items()} == {
        q: sorted(v) for q, v in want.items()
    }

    n = answers.count()
    run()  # checkpointed restart: no new files, nothing reprocessed
    assert spark.read.parquet(out).count() == n


def test_multimodal_curated_ingest_crash_replay_converges(spark, tmp_path):
    """The four-stage multimodal ingest (text dedup -> text index ->
    vector dedup -> ANN ingest) must converge when a crash strikes
    between ANY of its per-batch writes and the batch is replayed:
    every artifact is keyed by the batch's own partition, and each
    stage rebuilds from its upstream stage's persisted output."""
    import shutil

    from pyspark.sql import functions as F

    from eventstream_fanout_spark.operators.ann_index import (
        build_pq_quantizer,
    )
    from eventstream_fanout_spark.plans.similarity_queries import (
        VEC_DEDUP_THRESH,
    )
    from eventstream_fanout_spark.sources.tables import load_table
    from eventstream_fanout_spark.streaming.curated_ingest import (
        curated_multimodal_ingest_sink,
    )

    docs = _docs(spark)
    emb = load_table(spark, SF_ORACLE, "embeddings")
    batch = docs.join(
        emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
    )
    tmp = str(tmp_path)
    build_pq_quantizer(spark, emb, f"{tmp}/ann")
    sink = curated_multimodal_ingest_sink(
        f"{tmp}/store",
        f"{tmp}/out",
        f"{tmp}/tidx",
        f"{tmp}/ann",
        f"{tmp}/vec_out",
        VEC_DEDUP_THRESH,
    )
    b0 = batch.where(F.col("doc_id") % 2 == 0)
    b1 = batch.where(F.col("doc_id") % 2 == 1)
    sink(b0, 0)
    sink(b1, 1)

    def state():
        return {
            "out": sorted(
                (r["doc_id"], r["batch_id"])
                for r in spark.read.parquet(f"{tmp}/out")
                .select("doc_id", "batch_id")
                .collect()
            ),
            "vec": sorted(
                r["vec_id"]
                for r in spark.read.parquet(f"{tmp}/vec_out").collect()
            ),
            "codes": sorted(
                (r["vec_id"], r["list_id"])
                for r in spark.read.parquet(f"{tmp}/ann/codes")
                .select("vec_id", "list_id")
                .collect()
            ),
            "postings": spark.read.parquet(f"{tmp}/tidx/postings").count(),
            "stats": sorted(
                (r["batch_id"], r["n_docs"], r["total_len"])
                for r in spark.read.parquet(f"{tmp}/tidx/stats").collect()
            ),
        }

    want = state()
    assert any(b == 1 for _, b in want["out"]), "batch 1 admitted nothing"

    # crash point A: batch 1 died after the text-index postings write —
    # doclens/stats/vector artifacts for batch 1 never landed
    for part in (
        f"{tmp}/tidx/doclens/batch_id=1",
        f"{tmp}/tidx/stats/batch_id=1",
        f"{tmp}/vec_out/batch_id=1",
        f"{tmp}/ann/codes/batch_id=1",
    ):
        shutil.rmtree(part)
    sink(b1, 1)
    assert state() == want

    # crash point B: batch 1 died between the vector-survivor write and
    # the codes append
    shutil.rmtree(f"{tmp}/ann/codes/batch_id=1")
    sink(b1, 1)
    assert state() == want


def test_delete_docs_erases_and_is_idempotent(spark, tmp_path):
    """delete_docs must rewrite only touched generations, remove a
    generation emptied entirely, append ONE committed correction
    generation (negative stats delta + vocab df deltas + tombstones)
    that the merge-on-read sums fold in exactly, and re-running with
    the same ids changes nothing."""
    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_merged,
    )
    from eventstream_fanout_spark.streaming.text_ingest import (
        delete_docs,
        streaming_text_index_sink,
    )

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs.where(F.col("doc_id") < 400), path)
    sink = streaming_text_index_sink(path)
    sink(docs.where((F.col("doc_id") >= 400) & (F.col("doc_id") < 450)), 1)
    sink(docs.where(F.col("doc_id") >= 450), 2)

    # erase half of the frozen build + ALL of batch 1
    doomed = [int(r["doc_id"]) for r in docs.where(
        (F.col("doc_id") % 2 == 1) & (F.col("doc_id") < 400)
        | ((F.col("doc_id") >= 400) & (F.col("doc_id") < 450))
    ).select("doc_id").collect()]
    assert delete_docs(spark, path, doomed) > 0

    remaining = {
        r["doc_id"]
        for r in spark.read.parquet(f"{path}/doclens")
        .select("doc_id")
        .collect()
    }
    assert remaining == {
        r["doc_id"]
        for r in docs.where(
            ((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 400))
            | (F.col("doc_id") >= 450)
        ).collect()
    }
    # batch 1 emptied entirely -> its partitions are gone
    bids = {
        r["batch_id"]
        for r in spark.read.parquet(f"{path}/postings")
        .select("batch_id")
        .distinct()
        .collect()
    }
    assert bids == {-1, 2}
    # the correction generation: original stats rows untouched, one
    # NEGATIVE delta row summing the erased docs, tombstones committed
    stats = {
        r["batch_id"]: (r["n_docs"], r["total_len"])
        for r in spark.read.parquet(f"{path}/stats").collect()
    }
    assert set(stats) == {-1, 1, 2, -2}
    n_doomed = len(doomed)
    assert stats[-2][0] == -n_doomed and stats[-2][1] < 0
    assert sum(v[0] for v in stats.values()) == 250  # merged n_docs
    tombs = spark.read.parquet(f"{path}/tombstones")
    assert {r["doc_id"] for r in tombs.collect()} == set(doomed)
    assert {r["batch_id"] for r in tombs.select("batch_id").collect()} == {-2}

    want = [
        (r["doc_id"], r["bm25_score"])
        for r in bm25_topk_merged(spark, path, TERMS, 10).collect()
    ]
    assert all(d not in doomed for d, _ in want)
    # probe equals an index that never contained the doomed docs
    fresh = str(tmp_path / "tidx_fresh")
    build_text_index(
        spark, docs.where(~F.col("doc_id").isin(doomed)), fresh
    )
    assert want == [
        (r["doc_id"], r["bm25_score"])
        for r in bm25_topk_merged(spark, fresh, TERMS, 10).collect()
    ]

    # idempotent: nothing left to rewrite
    assert delete_docs(spark, path, doomed) == 0
    assert [
        (r["doc_id"], r["bm25_score"])
        for r in bm25_topk_merged(spark, path, TERMS, 10).collect()
    ] == want


def test_batch_probe_refuses_uncovered_query_terms(spark, tmp_path):
    """bm25_batch_topk with an explicit terms_literal must RAISE when
    a query's term is missing from it (the pushed IN filter would
    silently drop that term's postings from scoring), and work when
    the literal covers every term."""
    from pyspark.sql import Row

    from eventstream_fanout_spark.operators.text_index import (
        bm25_batch_topk,
    )

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs, path)
    queries = spark.createDataFrame(
        [Row(qid=0, terms=["spark", "window"]), Row(qid=1, terms=["join"])],
        "qid long, terms array<string>",
    )
    ok = bm25_batch_topk(
        spark, path, queries, 5, terms_literal=["join", "spark", "window"]
    )
    assert len({r["qid"] for r in ok.collect()}) == 2

    broken = bm25_batch_topk(
        spark, path, queries, 5, terms_literal=["spark", "window"]
    )  # lazy: constructing is fine
    with pytest.raises(Exception, match="missing from terms_literal"):
        broken.collect()


def _file_census(root):
    """{relpath: (size, mtime_ns)} of every data file under ``root``."""
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue  # _SUCCESS / CRC markers churn on every write
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def _hook_generation_writer(monkeypatch, written, fail_on=None):
    """Route text_ingest's shared generation writer through a recorder:
    every ``(table, df)`` it writes is appended to ``written``, and a
    write to the ``fail_on`` table raises instead (a crash at that
    point of the production write order)."""
    from eventstream_fanout_spark.streaming import text_ingest

    real = text_ingest.write_generation

    def write(df, path, *cols):
        table = path.rsplit("/", 1)[1]
        if table == fail_on:
            raise RuntimeError(f"simulated crash before the {table} write")
        written.append((table, df))
        real(df, path, *cols)

    monkeypatch.setattr(text_ingest, "write_generation", write)


def test_delete_docs_runs_no_full_store_maintenance(
    spark, tmp_path, monkeypatch
):
    """VERDICT r7 item 3: an erasure must not re-aggregate the full
    postings/doclens stores — proven two ways: (a) file-level
    invariance — every pre-existing vocab/stats file survives a
    delete_docs byte-for-byte (a full rebuild would rewrite them all);
    the only new files are the correction generation's partitions and
    the untouched-generation postings/doclens files also survive;
    (b) the relations delete_docs actually writes carry a pushed doc_id
    IN predicate into their parquet scans (the vocab delta), or read no
    store at all (the stats correction and tombstone rows are built
    from the doclens probe, itself a pushed doc_id IN scan) — the
    doomed rows are the only input."""
    from eventstream_fanout_spark.streaming.text_ingest import (
        _doomed_doclens,
        delete_docs,
        streaming_text_index_sink,
    )

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs.where(F.col("doc_id") < 400), path)
    sink = streaming_text_index_sink(path)
    sink(docs.where(F.col("doc_id") >= 400), 1)

    doomed = [401, 403, 405]
    before = {
        name: _file_census(f"{path}/{name}") for name in ("vocab", "stats")
    }
    frozen_postings = _file_census(f"{path}/postings/batch_id=-1")
    written = []
    _hook_generation_writer(monkeypatch, written)
    assert delete_docs(spark, path, doomed) > 0

    # (b) plan shape of the relations the erasure wrote
    plans = {
        table: df._jdf.queryExecution().executedPlan().toString()
        for table, df in written
    }
    assert sorted(plans) == ["stats", "tombstones", "vocab"]
    assert "PushedFilters: [In(doc_id" in plans["vocab"], plans["vocab"]
    for table in ("stats", "tombstones"):
        assert "FileScan" not in plans[table], plans[table]
    probe = _doomed_doclens(spark, path, doomed)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(doc_id" in plan, plan

    # (a) nothing pre-existing was rewritten; the correction generation
    # is purely additive
    for name in ("vocab", "stats"):
        after = _file_census(f"{path}/{name}")
        for rel, sig in before[name].items():
            assert after.get(rel) == sig, f"{name}/{rel} was rewritten"
        new = {r for r in after if r not in before[name]}
        assert new, f"no correction partition appeared under {name}"
        assert all(r.startswith("batch_id=-2") or r.startswith("_") for r in new)
    # untouched postings generation (frozen, contains no doomed doc)
    assert _file_census(f"{path}/postings/batch_id=-1") == frozen_postings
    assert _file_census(f"{path}/tombstones")  # commit marker landed


def _generations(spark, table_path):
    return {
        r["batch_id"]
        for r in spark.read.parquet(table_path)
        .select("batch_id")
        .distinct()
        .collect()
    }


def test_crashed_erasure_recovers_and_fails_closed(
    spark, tmp_path, monkeypatch
):
    """Crash window between the erasure's vocab-delta write and its
    stats-correction write (delete_docs itself, its generation writer
    failing on the stats write): the static probe must fail closed
    (vocab generation without a stats row), and re-running the SAME
    delete_docs call must converge — the orphan partition is
    overwritten in place (same correction generation id), after which
    the probe equals an index that never contained the docs."""
    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_merged,
    )
    from eventstream_fanout_spark.streaming.text_ingest import delete_docs

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs, path)
    doomed = [
        int(r["doc_id"])
        for r in docs.where(F.col("doc_id") % 5 == 2)
        .select("doc_id")
        .collect()
    ]
    # the crash: only the vocab delta landed
    written = []
    _hook_generation_writer(monkeypatch, written, fail_on="stats")
    with pytest.raises(RuntimeError, match="simulated crash"):
        delete_docs(spark, path, doomed)
    monkeypatch.undo()
    assert [t for t, _df in written] == ["vocab"]
    orphan = _generations(spark, f"{path}/vocab") - {-1}
    assert len(orphan) == 1
    (gen,) = orphan
    assert gen < -1
    assert _generations(spark, f"{path}/stats") == {-1}
    with pytest.raises(Exception, match="no stats row"):
        bm25_topk(spark, path, TERMS, 10).collect()

    # re-run heals: same generation id reused, correction committed
    assert delete_docs(spark, path, doomed) > 0
    assert _generations(spark, f"{path}/vocab") == {-1, gen}
    assert _generations(spark, f"{path}/stats") == {-1, gen}

    fresh = str(tmp_path / "tidx_fresh")
    build_text_index(spark, docs.where(~F.col("doc_id").isin(doomed)), fresh)
    for probe in (bm25_topk, bm25_topk_merged):
        assert [
            (r["doc_id"], r["bm25_score"])
            for r in probe(spark, path, TERMS, 10).collect()
        ] == [
            (r["doc_id"], r["bm25_score"])
            for r in probe(spark, fresh, TERMS, 10).collect()
        ]


def test_erase_then_compact_restores_single_generation_store(
    spark, tmp_path
):
    """VERDICT r7 item 6 (text side): erase-many then compact must (a)
    equal the never-contained oracle and (b) restore the
    single-generation probe plan — one generation in each of postings/
    doclens/vocab/stats, tombstones gone."""
    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_merged,
    )
    from eventstream_fanout_spark.streaming.text_ingest import (
        compact_text_index,
        delete_docs,
        streaming_text_index_sink,
    )

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs.where(F.col("doc_id") < 300), path)
    sink = streaming_text_index_sink(path)
    sink(docs.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 400)), 1)
    sink(docs.where(F.col("doc_id") >= 400), 2)

    # two erasure calls -> two correction generations
    d1 = [int(r["doc_id"]) for r in docs.where(
        F.col("doc_id") % 6 == 1).select("doc_id").collect()]
    d2 = [int(r["doc_id"]) for r in docs.where(
        F.col("doc_id") % 6 == 3).select("doc_id").collect()]
    assert delete_docs(spark, path, d1) > 0
    assert delete_docs(spark, path, d2) > 0
    assert (
        spark.read.parquet(f"{path}/stats")
        .select("batch_id").distinct().count() >= 5
    )

    assert compact_text_index(spark, path, upto_batch_id=3) > 0
    import os

    for name in ("postings", "doclens", "vocab", "stats"):
        gens = {
            r["batch_id"]
            for r in spark.read.parquet(f"{path}/{name}")
            .select("batch_id")
            .distinct()
            .collect()
        }
        assert len(gens) == 1, f"{name} still multi-generation: {gens}"
    assert not os.path.exists(f"{path}/tombstones")

    doomed = set(d1) | set(d2)
    fresh = str(tmp_path / "tidx_fresh")
    build_text_index(
        spark, docs.where(~F.col("doc_id").isin(list(doomed))), fresh
    )
    assert [
        (r["doc_id"], r["bm25_score"])
        for r in bm25_topk_merged(spark, path, TERMS, 10).collect()
    ] == [
        (r["doc_id"], r["bm25_score"])
        for r in bm25_topk_merged(spark, fresh, TERMS, 10).collect()
    ]


def test_compact_refuses_crashed_erasure(spark, tmp_path):
    """A delete_docs that crashed between its tombstone commit and its
    row erase leaves corrected-but-present rows; compacting THAT would
    rebuild stats/vocab from the doomed rows and drop the correction —
    silently resurrecting the docs.  compact_text_index must refuse;
    re-running the erasure then compacting must succeed."""
    from eventstream_fanout_spark.streaming.text_ingest import (
        compact_text_index,
        delete_docs,
        streaming_text_index_sink,
    )

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs.where(F.col("doc_id") < 400), path)
    sink = streaming_text_index_sink(path)
    sink(docs.where(F.col("doc_id") >= 400), 1)

    # simulate the post-commit crash: tombstone a doc whose rows remain
    spark.createDataFrame([(7,)], "doc_id bigint").withColumn(
        "batch_id", F.lit(-2)
    ).write.mode("overwrite").partitionBy("batch_id").parquet(
        f"{path}/tombstones"
    )
    with pytest.raises(RuntimeError, match="re-run the same delete_docs"):
        compact_text_index(spark, path, upto_batch_id=2)

    assert delete_docs(spark, path, [7]) > 0
    assert compact_text_index(spark, path, upto_batch_id=2) > 0


def test_hot_term_bound_drops_stopword_shaped_terms(spark, tmp_path):
    """VERDICT r7 item 7: a term whose stored df exceeds
    max_df_frac * n_docs is dropped BEFORE the postings scan — the
    bounded probe scores only the surviving terms (equal to the merged
    probe on exactly those terms), the bound reads the merge-on-read
    vocab (current across build + ingest generations), and the batch
    probe exempts policy-dropped terms from its coverage guard."""
    from pyspark.sql import Row

    from eventstream_fanout_spark.operators.text_index import (
        bm25_batch_topk,
        bm25_topk_bounded,
        bm25_topk_merged,
        hot_term_filter,
    )
    from eventstream_fanout_spark.streaming.text_ingest import (
        streaming_text_index_sink,
    )

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs.where(F.col("doc_id") % 2 == 0), path)
    sink = streaming_text_index_sink(path)
    sink(docs.where(F.col("doc_id") % 2 == 1), 1)

    # the fixture corpus has exactly two df tiers: "dup" (~5% of docs)
    # and everything else (~75-80%) — a 25% threshold separates them
    # with wide margin on both sides
    rare, hot = "dup", "batch"
    frac = 0.25

    kept, dropped = hot_term_filter(spark, path, [rare, hot, "spark"], frac)
    assert kept == [rare] and dropped == [hot, "spark"]

    got = [
        (r["doc_id"], r["bm25_score"])
        for r in bm25_topk_bounded(
            spark, path, [rare, hot, "spark"], 10, frac
        ).collect()
    ]
    want = [
        (r["doc_id"], r["bm25_score"])
        for r in bm25_topk_merged(spark, path, [rare], 10).collect()
    ]
    assert got == want and len(got) > 0

    # batch probe: the dropped term must not trip the coverage guard,
    # and the result equals the batch probe on the kept terms
    queries = spark.createDataFrame(
        [Row(qid=0, terms=[rare, hot]), Row(qid=1, terms=[rare])],
        "qid long, terms array<string>",
    )
    bounded = bm25_batch_topk(spark, path, queries, 5, max_df_frac=frac)
    kept_queries = spark.createDataFrame(
        [Row(qid=0, terms=[rare]), Row(qid=1, terms=[rare])],
        "qid long, terms array<string>",
    )
    want_rows = {
        (r["qid"], r["rank"], r["doc_id"])
        for r in bm25_batch_topk(spark, path, kept_queries, 5).collect()
    }
    assert {
        (r["qid"], r["rank"], r["doc_id"]) for r in bounded.collect()
    } == want_rows


def test_streaming_serve_applies_hot_term_bound(spark, tmp_path):
    """The streaming BM25 serve sink with max_df_frac must answer each
    trigger with hot terms dropped by policy (no coverage-guard trip,
    results equal the bounded batch probe)."""
    from pyspark.sql import Row

    from eventstream_fanout_spark.operators.text_index import (
        bm25_batch_topk,
    )
    from eventstream_fanout_spark.streaming.text_serve import (
        streaming_bm25_probe_sink,
    )

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs, path)
    out = str(tmp_path / "answers")
    sink = streaming_bm25_probe_sink(path, out, k=5, max_df_frac=0.25)

    batch = spark.createDataFrame(
        [Row(qid=0, terms=["dup", "batch"]), Row(qid=1, terms=["dup"])],
        "qid long, terms array<string>",
    )
    sink(batch, 0)
    got = {
        (r["qid"], r["rank"], r["doc_id"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["qid"], r["rank"], r["doc_id"])
        for r in bm25_batch_topk(
            spark, path, batch, 5, max_df_frac=0.25
        ).collect()
    }
    assert got == want and len({q for q, _, _ in got}) == 2


def test_streaming_erasure_sink_applies_requests_and_replays(
    spark, tmp_path
):
    """Erasure requests as a REAL checkpointed stream: each micro-batch
    of doc_ids flows through curated_erase (delta corrections +
    tombstones), erased docs vanish from the accepted artifact and the
    index, a restart reprocesses nothing, and the post-stream probe
    equals a pipeline that never accepted the erased docs."""
    import os

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_merged,
    )
    from eventstream_fanout_spark.streaming.curated_ingest import (
        curated_ingest_sink,
        streaming_erasure_sink,
    )
    from eventstream_fanout_spark.streaming.fanout import (
        FanoutSink,
        start_fanout,
    )

    docs = _docs(spark)
    tmp = str(tmp_path)
    sink = curated_ingest_sink(
        f"{tmp}/store", f"{tmp}/out", f"{tmp}/index"
    )
    sink(docs.where(F.col("doc_id") % 2 == 0), 0)
    sink(docs.where(F.col("doc_id") % 2 == 1), 1)

    req1 = [int(r["doc_id"]) for r in docs.where(
        F.col("doc_id") % 7 == 3).select("doc_id").collect()]
    req2 = [int(r["doc_id"]) for r in docs.where(
        F.col("doc_id") % 7 == 5).select("doc_id").collect()]
    src = str(tmp_path / "req_src")
    os.makedirs(src)
    for tag, ids in (("a-b0", req1), ("b-b1", req2)):
        spark.createDataFrame(
            [Row(doc_id=i) for i in ids]
        ).toPandas().to_json(
            f"{src}/{tag}.jsonl", orient="records", lines=True
        )

    schema = T.StructType([T.StructField("doc_id", T.LongType())])

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = start_fanout(
            stream,
            [
                FanoutSink(
                    "erase",
                    streaming_erasure_sink(
                        f"{tmp}/store", f"{tmp}/out", f"{tmp}/index"
                    ),
                )
            ],
            checkpoint_dir=str(tmp_path / "ckpt"),
            query_name="erasure-stream",
        )
        q.awaitTermination(300)

    run()
    doomed = set(req1) | set(req2)
    accepted = {
        r["doc_id"] for r in spark.read.parquet(f"{tmp}/out").collect()
    }
    indexed = {
        r["doc_id"]
        for r in spark.read.parquet(f"{tmp}/index/doclens").collect()
    }
    assert accepted.isdisjoint(doomed) and indexed.isdisjoint(doomed)
    # two stacked correction generations committed
    tombs = spark.read.parquet(f"{tmp}/index/tombstones")
    assert tombs.select("batch_id").distinct().count() == 2

    want = [
        (r["doc_id"], r["bm25_score"])
        for r in bm25_topk_merged(spark, f"{tmp}/index", TERMS, 10).collect()
    ]
    n_postings = spark.read.parquet(f"{tmp}/index/postings").count()
    run()  # checkpointed restart: nothing reprocessed, nothing changed
    assert spark.read.parquet(f"{tmp}/index/postings").count() == n_postings
    assert [
        (r["doc_id"], r["bm25_score"])
        for r in bm25_topk_merged(spark, f"{tmp}/index", TERMS, 10).collect()
    ] == want


def test_asof_probe_prunes_partitions_and_refuses_erased_store(
    spark, tmp_path
):
    """bm25_topk_asof semantics: as-of N equals a build that never saw
    later batches; as-of the max generation equals the live merged
    probe; the plan prunes the postings scan to batch_id <= N; and an
    ERASED store refuses time travel (erasure is destructive — no
    earlier view may be reconstructible)."""
    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_asof,
        bm25_topk_merged,
    )
    from eventstream_fanout_spark.streaming.text_ingest import (
        delete_docs,
        streaming_text_index_sink,
    )

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs.where(F.col("doc_id") % 2 == 0), path)
    sink = streaming_text_index_sink(path)
    sink(docs.where(F.col("doc_id") % 4 == 1), 1)
    sink(docs.where(F.col("doc_id") % 4 == 3), 2)

    asof1 = bm25_topk_asof(spark, path, TERMS, 10, 1)
    plan = asof1._jdf.queryExecution().executedPlan().toString()
    assert "batch_id" in plan  # the watermark reaches the scan
    fresh = str(tmp_path / "tidx_asof")
    build_text_index(
        spark,
        docs.where((F.col("doc_id") % 2 == 0) | (F.col("doc_id") % 4 == 1)),
        fresh,
    )
    assert [
        (r["doc_id"], r["bm25_score"]) for r in asof1.collect()
    ] == [
        (r["doc_id"], r["bm25_score"])
        for r in bm25_topk_merged(spark, fresh, TERMS, 10).collect()
    ]
    # as-of the newest generation == the live probe
    assert [
        (r["doc_id"], r["bm25_score"])
        for r in bm25_topk_asof(spark, path, TERMS, 10, 2).collect()
    ] == [
        (r["doc_id"], r["bm25_score"])
        for r in bm25_topk_merged(spark, path, TERMS, 10).collect()
    ]

    # erased store: time travel must refuse
    doomed = [int(r["doc_id"]) for r in docs.where(
        F.col("doc_id") % 7 == 3).select("doc_id").collect()]
    assert delete_docs(spark, path, doomed) > 0
    with pytest.raises(Exception, match="destructive"):
        bm25_topk_asof(spark, path, TERMS, 10, 2).collect()


def test_upsert_docs_updates_probe_and_replays(spark, tmp_path):
    """upsert_docs (erase + re-ingest + resurrection marker): the
    merged probe over the upserted store equals a fresh index built
    from the FINAL versions; replaying the same call converges to the
    same store; the upserted ids end tombstone-BALANCED (live)."""
    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_merged,
    )
    from eventstream_fanout_spark.streaming.text_ingest import (
        upsert_docs,
    )

    docs = _docs(spark)
    terms = ["spark", "window", "join"]
    # revise a term-bearing doc so the update MUST move a probe score
    hot = _doc_with_term(spark, "spark")
    revised = docs.where(
        (F.col("doc_id") % 10 == 3) | (F.col("doc_id") == hot)
    ).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" spark spark revised")).alias(
            "text"
        ),
    )

    path = str(tmp_path / "tidx")
    build_text_index(spark, docs, path)
    upsert_docs(spark, path, revised, batch_id=1)

    final_corpus = docs.join(
        revised.select("doc_id"), "doc_id", "left_anti"
    ).unionByName(revised)
    ref_path = str(tmp_path / "tidx_final")
    build_text_index(spark, final_corpus, ref_path)
    expect = bm25_topk_merged(spark, ref_path, terms, 10).collect()
    got = bm25_topk_merged(spark, path, terms, 10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expect]

    # replay: same call, same store, same probe
    upsert_docs(spark, path, revised, batch_id=1)
    again = bm25_topk_merged(spark, path, terms, 10).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in expect]

    # balance rule: every upserted id has equal commits/markers
    tombs = spark.read.parquet(f"{path}/tombstones")
    bal = (
        tombs.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("batch_id") < 0, F.lit(1)).otherwise(
                    F.lit(-1)
                )
            ).alias("bal")
        )
        .where(F.col("bal") != 0)
        .collect()
    )
    assert bal == []


def test_upsert_then_delete_recompacts_and_readmits(spark, tmp_path):
    """After an upsert: compaction's resurrection guard must NOT
    refuse (the doc is live again); a LATER delete of an upserted id
    is not short-circuited by its stale tombstone (the rows really
    go); and upserting an ERASED doc re-admits it with new content."""
    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_merged,
    )
    from eventstream_fanout_spark.streaming.text_ingest import (
        compact_text_index,
        delete_docs,
        upsert_docs,
    )

    docs = _docs(spark)
    hot = _doc_with_term(spark, "spark")
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs, path)
    revised = docs.where(F.col("doc_id") == hot).select(
        "doc_id", F.concat(F.col("text"), F.lit(" revised")).alias("text")
    )
    upsert_docs(spark, path, revised, batch_id=1)

    # later delete of the upserted doc must actually erase its rows
    delete_docs(spark, path, [int(hot)])
    assert (
        spark.read.parquet(f"{path}/doclens")
        .where(F.col("doc_id") == hot)
        .count()
        == 0
    )
    # ...and upserting the now-ERASED doc re-admits it (new text)
    upsert_docs(spark, path, revised, batch_id=2)
    assert (
        spark.read.parquet(f"{path}/doclens")
        .where(F.col("doc_id") == hot)
        .count()
        == 1
    )

    # compaction accepts the upserted store and folds it clean
    compact_text_index(spark, path, upto_batch_id=3)
    gens = {
        r["batch_id"]
        for r in spark.read.parquet(f"{path}/stats")
        .select("batch_id")
        .collect()
    }
    assert len(gens) == 1, gens
    ref_path = str(tmp_path / "tidx_final")
    build_text_index(
        spark,
        docs.join(revised.select("doc_id"), "doc_id", "left_anti")
        .unionByName(revised),
        ref_path,
    )
    terms = ["spark", "window", "join"]
    got = bm25_topk_merged(spark, path, terms, 10).collect()
    expect = bm25_topk_merged(spark, ref_path, terms, 10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expect]


def test_upsert_crash_before_marker_fails_closed_then_heals(
    spark, tmp_path
):
    """The upsert's commit point is the marker write: a crash after
    delete+re-ingest but BEFORE the marker leaves tombstoned docs
    with rows — compaction refuses (fail closed) — and re-running the
    SAME upsert_docs call converges."""
    import pytest

    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_merged,
    )
    from eventstream_fanout_spark.streaming.text_ingest import (
        compact_text_index,
        delete_docs,
        streaming_text_index_sink,
        upsert_docs,
    )

    docs = _docs(spark)
    hot = _doc_with_term(spark, "spark")
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs, path)
    revised = docs.where(F.col("doc_id") == hot).select(
        "doc_id", F.concat(F.col("text"), F.lit(" revised")).alias("text")
    )
    # simulate the crash window: steps 1+2 of upsert_docs, no marker
    delete_docs(spark, path, [int(hot)])
    streaming_text_index_sink(path)(revised, 1)
    with pytest.raises(Exception, match="still have index rows"):
        compact_text_index(spark, path, upto_batch_id=1)

    # the prescribed recovery: re-run the same call
    upsert_docs(spark, path, revised, batch_id=1)
    compact_text_index(spark, path, upto_batch_id=1)
    ref_path = str(tmp_path / "tidx_final")
    build_text_index(
        spark,
        docs.join(revised.select("doc_id"), "doc_id", "left_anti")
        .unionByName(revised),
        ref_path,
    )
    terms = ["spark", "window", "join"]
    got = bm25_topk_merged(spark, path, terms, 10).collect()
    expect = bm25_topk_merged(spark, ref_path, terms, 10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expect]


def _docs_with_lang(spark):
    return load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "text", "lang"
    )


def test_filtered_probe_semantics_and_plan(spark, tmp_path):
    """bm25_topk_filtered: the filtered top-k equals the unfiltered
    ranking restricted to matching docs (stats corpus-global — the
    standard filtered-search contract), and the plan reads NO
    corpus-wide metadata: both the postings scan and the attrs scan
    carry pushed tok IN filters, and the documents table is absent."""
    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_filtered,
        bm25_topk_merged,
        build_text_attr_store,
    )

    docs = _docs_with_lang(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs.select("doc_id", "text"), path)
    build_text_attr_store(
        spark, docs.select("doc_id", "lang"), path
    )
    probe = bm25_topk_filtered(
        spark, path, TERMS, 10, F.col("lang") == "en"
    )
    got = [tuple(r) for r in probe.collect()]

    allowed = {
        r["doc_id"]
        for r in docs.where(F.col("lang") == "en")
        .select("doc_id")
        .collect()
    }
    unfiltered = bm25_topk_merged(spark, path, TERMS, 100000).collect()
    expect = [
        (r["doc_id"], r["n_terms_matched"], r["bm25_score"])
        for r in unfiltered
        if r["doc_id"] in allowed
    ][:10]
    assert got == expect and len(got) == 10

    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan, "probe re-reads the corpus"
    assert plan.count("PushedFilters: [In(tok") >= 2, (
        "attrs scan lost its pushed term filter:\n" + plan
    )
    assert "doclens" not in plan


def test_text_attr_delta_maintenance_live_flow(spark, tmp_path):
    """VERDICT r9 item 3 + delta maintenance: build -> stream-ingest
    (attrs riding) -> upsert -> delete -> filtered probe with NO
    build_text_attr_store rerun; result equals a fresh index + attrs
    over the final corpus, and compaction folds the attrs store."""
    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_filtered,
        build_text_attr_store,
    )
    from eventstream_fanout_spark.streaming.text_ingest import (
        compact_text_index,
        delete_docs,
        streaming_text_index_sink,
        upsert_docs,
    )

    docs = _docs_with_lang(spark)
    pred = F.col("lang") == "en"
    path = str(tmp_path / "tidx")
    evens = docs.where(F.col("doc_id") % 2 == 0)
    odds = docs.where(F.col("doc_id") % 2 == 1)
    build_text_index(spark, evens.select("doc_id", "text"), path)
    build_text_attr_store(
        spark, evens.select("doc_id", "lang"), path
    )
    streaming_text_index_sink(path)(odds, 1)
    revised = docs.where(F.col("doc_id") % 10 == 4).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" spark spark")).alias("text"),
        "lang",
    )
    upsert_docs(spark, path, revised, batch_id=2)
    doomed = [
        r["doc_id"]
        for r in docs.where(F.col("doc_id") % 13 == 6)
        .select("doc_id")
        .collect()
    ]
    delete_docs(spark, path, doomed)
    got = [
        tuple(r)
        for r in bm25_topk_filtered(spark, path, TERMS, 10, pred).collect()
    ]

    final = (
        docs.join(revised.select("doc_id"), "doc_id", "left_anti")
        .unionByName(revised)
        .where(~F.col("doc_id").isin([int(d) for d in doomed]))
    )
    ref = str(tmp_path / "tidx_ref")
    build_text_index(spark, final.select("doc_id", "text"), ref)
    build_text_attr_store(spark, final.select("doc_id", "lang"), ref)
    expect = [
        tuple(r)
        for r in bm25_topk_filtered(spark, ref, TERMS, 10, pred).collect()
    ]
    assert got == expect and len(got) == 10

    compact_text_index(spark, path, upto_batch_id=10)
    gens = [
        r["batch_id"]
        for r in spark.read.parquet(f"{path}/attrs")
        .select("batch_id")
        .distinct()
        .collect()
    ]
    assert len(gens) == 1
    after = [
        tuple(r)
        for r in bm25_topk_filtered(spark, path, TERMS, 10, pred).collect()
    ]
    assert after == expect


def test_text_attr_guards_fail_closed(spark, tmp_path):
    """Three fail-closed layers: (1) build refuses partial attrs;
    (2) the sink refuses an attr-less batch on an attr-carrying index;
    (3) postings appended OUT OF BAND trip the filtered probe's
    coverage guard, and build_text_attr_store repairs."""
    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_filtered,
        build_text_attr_store,
        doc_postings,
    )
    from eventstream_fanout_spark.streaming.text_ingest import (
        streaming_text_index_sink,
    )

    docs = _docs_with_lang(spark)
    path = str(tmp_path / "tidx")
    early = docs.where(F.col("doc_id") < 400)
    late = docs.where(F.col("doc_id") >= 400)
    build_text_index(spark, early.select("doc_id", "text"), path)

    with pytest.raises(Exception, match="has no attrs row"):
        build_text_attr_store(
            spark,
            early.where(F.col("doc_id") % 3 != 1).select("doc_id", "lang"),
            path,
        )
    build_text_attr_store(spark, early.select("doc_id", "lang"), path)

    with pytest.raises(RuntimeError, match="does not supply"):
        streaming_text_index_sink(path)(late.select("doc_id", "text"), 1)

    # out-of-band: postings + stats written directly, bypassing the
    # sink (stats too, so the generation-coverage guard stays quiet
    # and the ATTR guard is what must fire)
    from eventstream_fanout_spark.operators.text_index import batch_stats

    postings, _dl = doc_postings(late.select("doc_id", "text"))
    for rel, name in ((postings, "postings"), (batch_stats(_dl), "stats")):
        (
            rel.withColumn("batch_id", F.lit(1))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{path}/{name}")
        )
    with pytest.raises(Exception, match="no attrs row"):
        bm25_topk_filtered(
            spark, path, TERMS, 10, F.col("lang") == "en"
        ).collect()


def test_crashed_erasure_after_stats_before_tombstone_fails_closed(
    spark, tmp_path, monkeypatch
):
    """VERDICT r9 'What's wrong' item 2 (the last silent crash
    window): a delete_docs crash AFTER its stats-correction write but
    BEFORE its tombstone commit leaves the corrected rollup live while
    the doomed postings still score — previously undetected (the
    correction generation HAS its stats row and no postings).  The
    correction-commit guard must raise through every unwatermarked
    probe (static, merged, batch, filtered, and the hybrid batch over
    the batch probe), a watermarked filtered probe refuses through its
    no-correction guard, and re-running the same delete_docs heals.  The
    crash is injected into delete_docs itself: its generation writer
    fails on the tombstone write."""
    import os

    from eventstream_fanout_spark.operators.ann_index import build_pq_index
    from eventstream_fanout_spark.operators.hybrid import hybrid_batch_rrf
    from eventstream_fanout_spark.operators.text_index import (
        bm25_batch_topk,
        bm25_topk_filtered,
        bm25_topk_merged,
    )
    from eventstream_fanout_spark.streaming.text_ingest import delete_docs

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs, path)
    emb = load_table(spark, SF_ORACLE, "embeddings")
    apath = str(tmp_path / "aidx")
    build_pq_index(spark, emb, apath)
    qvec = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    queries = spark.createDataFrame(
        [(10**9, TERMS, qvec)],
        "qid bigint, terms array<string>, embedding array<float>",
    )
    doomed = [
        int(r["doc_id"])
        for r in docs.where(F.col("doc_id") % 5 == 2)
        .select("doc_id")
        .collect()
    ]
    # the crash: vocab delta AND stats correction landed, tombstone
    # (the commit marker, written last) did not
    written = []
    _hook_generation_writer(monkeypatch, written, fail_on="tombstones")
    with pytest.raises(RuntimeError, match="simulated crash"):
        delete_docs(spark, path, doomed)
    monkeypatch.undo()
    assert [t for t, _df in written] == ["vocab", "stats"]
    gens = _generations(spark, f"{path}/stats")
    assert len(gens - {-1}) == 1
    assert _generations(spark, f"{path}/vocab") == gens
    assert not os.path.exists(f"{path}/tombstones")
    _build_attrs(spark, path)
    en = F.col("lang") == "en"
    refusing = (
        lambda: bm25_topk(spark, path, TERMS, 10),
        lambda: bm25_topk_merged(spark, path, TERMS, 10),
        lambda: bm25_batch_topk(spark, path, queries.select("qid", "terms"), 10),
        lambda: bm25_topk_filtered(spark, path, TERMS, 10, en),
        lambda: hybrid_batch_rrf(spark, path, apath, queries),
    )
    for probe in refusing:
        with pytest.raises(Exception, match="no tombstone commit"):
            probe().collect()
    # a watermarked probe refuses the same store through its
    # no-correction guard (the correction generation is negative, so
    # it lies below every non-negative watermark)
    with pytest.raises(Exception, match="erasure is destructive"):
        bm25_topk_filtered(spark, path, TERMS, 10, en, upto_batch_id=0).collect()

    # re-run heals: the orphan correction is overwritten in place and
    # the tombstone lands; the probe equals an index that never
    # contained the docs
    assert delete_docs(spark, path, doomed) > 0
    fresh = str(tmp_path / "tidx_fresh")
    build_text_index(spark, docs.where(~F.col("doc_id").isin(doomed)), fresh)
    for probe in (bm25_topk, bm25_topk_merged):
        assert [
            (r["doc_id"], r["bm25_score"])
            for r in probe(spark, path, TERMS, 10).collect()
        ] == [
            (r["doc_id"], r["bm25_score"])
            for r in probe(spark, fresh, TERMS, 10).collect()
        ]


def test_streaming_upsert_real_stream_checkpointed(spark, tmp_path):
    """streaming_upsert_sink as an ACTUAL checkpointed stream (VERDICT
    r9 item 4's done-criterion): two update files drain as two
    triggers (stacked update-over-update — the second revises docs the
    first already revised), the probed index equals a fresh build from
    the FINAL versions, and a checkpointed restart reprocesses
    nothing."""
    import os

    from pyspark.sql import types as T

    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_merged,
    )
    from eventstream_fanout_spark.streaming.fanout import (
        FanoutSink,
        start_fanout,
    )
    from eventstream_fanout_spark.streaming.text_ingest import (
        streaming_upsert_sink,
    )

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs, path)

    s0, s1 = " spark spark alpha", " join window beta"
    b0 = docs.where(F.col("doc_id") % 10 == 3).select(
        "doc_id", F.concat(F.col("text"), F.lit(s0)).alias("text")
    )
    b1 = docs.where(F.col("doc_id") % 20 == 3).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(s0), F.lit(s1)).alias("text"),
    )
    src = str(tmp_path / "upd_src")
    os.makedirs(src)
    for tag, b in (("a", b0), ("b", b1)):
        b.toPandas().to_json(
            f"{src}/{tag}.jsonl", orient="records", lines=True
        )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = start_fanout(
            stream,
            [FanoutSink("upserts", streaming_upsert_sink(path, 1))],
            checkpoint_dir=str(tmp_path / "ckpt"),
            query_name="upsert-stream",
        )
        q.awaitTermination(300)

    run()
    final = (
        docs.where(F.col("doc_id") % 10 != 3)
        .unionByName(
            b0.where(F.col("doc_id") % 20 != 3)
        )
        .unionByName(b1)
    )
    ref = str(tmp_path / "tidx_ref")
    build_text_index(spark, final, ref)
    got = [
        tuple(r) for r in bm25_topk_merged(spark, path, TERMS, 10).collect()
    ]
    want = [
        tuple(r) for r in bm25_topk_merged(spark, ref, TERMS, 10).collect()
    ]
    assert got == want

    # checkpointed restart: no files left, the store is untouched
    gens_before = sorted(
        r["batch_id"]
        for r in spark.read.parquet(f"{path}/postings")
        .select("batch_id")
        .distinct()
        .collect()
    )
    run()
    gens_after = sorted(
        r["batch_id"]
        for r in spark.read.parquet(f"{path}/postings")
        .select("batch_id")
        .distinct()
        .collect()
    )
    assert gens_after == gens_before
    assert [
        tuple(r) for r in bm25_topk_merged(spark, path, TERMS, 10).collect()
    ] == want


def test_streaming_upsert_sink_ann_replays_converge(spark, tmp_path):
    """The ANN streaming upsert sink: two stacked vector-update
    triggers equal a fresh build from the final versions; replaying a
    completed trigger converges."""
    from eventstream_fanout_spark.operators.ann_index import (
        build_pq_index,
        pq_probe_topk,
    )
    from eventstream_fanout_spark.sources.tables import load_table
    from eventstream_fanout_spark.streaming.ann_ingest import (
        streaming_upsert_sink,
    )
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select("embedding")
    path = str(tmp_path / "idx")
    build_pq_index(spark, emb, path)
    upd = streaming_upsert_sink(path, batch_id_base=1)
    b0 = emb.where((F.col("vec_id") % 10 == 4) & (F.col("vec_id") > 20)).select(
        "vec_id",
        F.transform("embedding", lambda x: x * F.lit(0.5)).alias("embedding"),
    )
    b1 = emb.where((F.col("vec_id") % 20 == 4) & (F.col("vec_id") > 20)).select(
        "vec_id",
        F.transform("embedding", lambda x: x * F.lit(0.25)).alias("embedding"),
    )
    upd(b0, 0)
    upd(b1, 1)
    upd(b1, 1)  # replay of the completed trigger

    final = (
        emb.join(b0.select("vec_id"), "vec_id", "left_anti")
        .select("vec_id", "embedding")
        .unionByName(b0.join(b1.select("vec_id"), "vec_id", "left_anti"))
        .unionByName(b1)
    )
    ref = str(tmp_path / "idx_ref")
    build_pq_index(
        spark, emb, ref, corpus=final.where(F.col("vec_id") != 0)
    )
    got = [tuple(r) for r in pq_probe_topk(spark, path, q, 10).collect()]
    want = [tuple(r) for r in pq_probe_topk(spark, ref, q, 10).collect()]
    assert got == want
    codes = spark.read.parquet(f"{path}/codes")
    assert (
        codes.groupBy("vec_id").count().where(F.col("count") > 1).count()
        == 0
    )


def test_idbloom_gates_uniqueness_check(spark, tmp_path, monkeypatch):
    """Round 11: the ingest gate's bloom path — (a) fresh ids return
    an EMPTY maybe-set (no doclens scan needed); (b) a reused id is a
    maybe-hit and the gate still raises; (c) a generation missing its
    bloom row forces the full-fallback (None); (d) erased ids linger
    as maybe-hits but the narrow probe passes them (over-approximate,
    never a missed clash); (e) compaction's exact rebuild restores a
    single bloom generation and the gate still works.  The measured
    corpus-size crossover is lowered to 0 so the bloom path runs at
    fixture scale (in production it engages only above ~5e7 docs,
    where the full scan's linear cost passes the bloom's constant)."""
    from eventstream_fanout_spark.streaming import text_ingest as ti
    from eventstream_fanout_spark.streaming.text_ingest import (
        _idbloom_maybe_ids,
        compact_text_index,
        delete_docs,
        streaming_text_index_sink,
    )

    monkeypatch.setattr(ti, "_IDBLOOM_MIN_CORPUS", 0)

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs.where(F.col("doc_id") < 300), path)
    sink = streaming_text_index_sink(path)
    sink(docs.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 400)), 1)

    fresh = spark.createDataFrame(
        [(900001,), (900002,)], "doc_id bigint"
    )
    assert _idbloom_maybe_ids(spark, path, fresh, 2) == []

    reused = spark.createDataFrame([(310,)], "doc_id bigint")
    maybe = _idbloom_maybe_ids(spark, path, reused, 2)
    assert maybe == [310]
    with pytest.raises(RuntimeError, match="re-sends doc_id"):
        sink(docs.where(F.col("doc_id") == 310), 2)

    # (c) a generation without its bloom row -> full fallback (None)
    import shutil

    shutil.rmtree(f"{path}/idbloom/batch_id=1")
    assert _idbloom_maybe_ids(spark, path, fresh, 2) is None
    with pytest.raises(RuntimeError, match="re-sends doc_id"):
        sink(docs.where(F.col("doc_id") == 310), 2)  # still fails closed
    # replaying batch 1 heals its bloom partition
    sink(docs.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 400)), 1)
    assert _idbloom_maybe_ids(spark, path, fresh, 2) == []

    # (d) erased ids linger in the bloom (maybe-hit) but the narrow
    # doclens probe finds nothing — the uniqueness gate passes a batch
    # carrying the erased id, exactly as the pre-bloom full anti-join
    # did (re-ADMISSION still belongs to upsert_docs, whose
    # resurrection markers keep compaction sound — unchanged contract)
    delete_docs(spark, path, [310])
    assert _idbloom_maybe_ids(spark, path, reused, 2) == [310]
    from eventstream_fanout_spark.streaming.text_ingest import (
        _check_new_doc_ids,
    )

    _check_new_doc_ids(
        spark, path, docs.where(F.col("doc_id") == 310), 3
    )  # no raise: the id is gone from doclens
    from eventstream_fanout_spark.streaming.text_ingest import upsert_docs

    upsert_docs(
        spark,
        path,
        docs.where(F.col("doc_id") == 310).select(
            "doc_id",
            F.concat(F.col("text"), F.lit(" anew")).alias("text"),
        ),
        batch_id=3,
    )  # lawful re-admission (resurrection marker written)

    # (e) compaction rebuilds blooms exactly per surviving generation
    compact_text_index(spark, path, upto_batch_id=10)
    gens = {
        r["batch_id"]
        for r in spark.read.parquet(f"{path}/idbloom")
        .select("batch_id")
        .distinct()
        .collect()
    }
    dl_gens = {
        r["batch_id"]
        for r in spark.read.parquet(f"{path}/doclens")
        .select("batch_id")
        .distinct()
        .collect()
    }
    assert gens == dl_gens
    assert _idbloom_maybe_ids(spark, path, fresh, 99) == []
    with pytest.raises(RuntimeError, match="re-sends doc_id"):
        sink(docs.where(F.col("doc_id") == 310), 99)


def test_add_doc_attr_column_evolution_contracts(spark, tmp_path):
    """add_doc_attr_column (text twin of the ANN attr evolution): (a)
    the widened store serves composed old+new-column filtered probes
    with no rebuild; (b) a colliding name refuses; (c) missing
    coverage refuses BEFORE the swap, old store servable; (d)
    filtered as-of probes below the evolve generation refuse while
    unfiltered as-of probes stay untouched; (e) the crash window
    between the swap renames heals on re-run."""
    import os

    import pytest

    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_filtered,
        build_text_attr_store,
        build_text_index,
    )
    from eventstream_fanout_spark.streaming.text_ingest import (
        add_doc_attr_column,
        streaming_text_index_sink,
    )

    docs = load_table(spark, SF_ORACLE, "documents")
    path = str(tmp_path / "tidx")
    evens = docs.where(F.col("doc_id") % 2 == 0)
    build_text_index(spark, evens.select("doc_id", "text"), path)
    build_text_attr_store(
        spark, evens.select("doc_id", "lang"), path
    )
    streaming_text_index_sink(path)(
        docs.where(F.col("doc_id") % 2 == 1).select(
            "doc_id", "text", "lang"
        ),
        1,
    )
    terms = ["spark", "window", "join"]
    values = docs.select("doc_id", (F.col("doc_id") % 5).alias("mod5"))

    # (c) coverage refusal pre-swap; old store still serves
    with pytest.raises(Exception, match="has no value"):
        add_doc_attr_column(
            spark, path, values.where(F.col("doc_id") % 3 != 1),
            batch_id=2,
        )
    assert not os.path.exists(f"{path}/attrs.evolve_stage")
    still = bm25_topk_filtered(
        spark, path, terms, 5, F.col("lang") == "en"
    ).collect()
    assert len(still) == 5

    # (a) evolve, composed filter
    add_doc_attr_column(spark, path, values, batch_id=2)
    got = bm25_topk_filtered(
        spark, path, terms, 10,
        (F.col("lang") == "en") & F.col("mod5").isin(1, 2),
    ).collect()
    assert 0 < len(got) <= 10
    ok_ids = {
        r["doc_id"]
        for r in docs.where(
            (F.col("lang") == "en") & (F.col("doc_id") % 5).isin(1, 2)
        ).select("doc_id").collect()
    }
    assert all(r["doc_id"] in ok_ids for r in got)

    # (b) additive only
    with pytest.raises(Exception, match="already exist"):
        add_doc_attr_column(spark, path, values, batch_id=3)

    # (d) filtered as-of below the evolve generation refuses;
    # unfiltered as-of (never reads attrs) still serves
    with pytest.raises(Exception, match="attr-evolution generation"):
        bm25_topk_filtered(
            spark, path, terms, 5, F.col("lang") == "en",
            upto_batch_id=1,
        ).collect()
    asof_ok = bm25_topk_filtered(
        spark, path, terms, 5,
        (F.col("lang") == "en") & F.col("mod5").isin(1, 2),
        upto_batch_id=2,
    ).collect()
    assert len(asof_ok) == 5
    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_asof,
    )
    unfiltered = bm25_topk_asof(
        spark, path, terms, 5, upto_batch_id=1
    ).collect()
    assert len(unfiltered) == 5

    # (e) crash between the renames heals on re-run
    os.rename(f"{path}/attrs", f"{path}/attrs.pre_evolve")
    add_doc_attr_column(
        spark, path,
        docs.select("doc_id", (F.col("doc_id") % 3).alias("tri")),
        batch_id=4,
    )
    assert not os.path.exists(f"{path}/attrs.pre_evolve")
    healed = bm25_topk_filtered(
        spark, path, terms, 10,
        F.col("mod5").isin(1, 2) & (F.col("tri") == 0),
    ).collect()
    assert all(
        r["doc_id"] % 5 in (1, 2) and r["doc_id"] % 3 == 0
        for r in healed
    )


def test_drop_doc_attr_column_contracts(spark, tmp_path):
    """drop_doc_attr_column (text twin): remaining column serves,
    dropped column fails loudly, replay no-op, all-or-nothing and
    last-column refusals."""
    import pytest

    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_filtered,
        build_text_attr_store,
        build_text_index,
    )
    from eventstream_fanout_spark.streaming.text_ingest import (
        drop_doc_attr_column,
    )

    docs = load_table(spark, SF_ORACLE, "documents")
    path = str(tmp_path / "tidx")
    build_text_index(spark, docs.select("doc_id", "text"), path)
    build_text_attr_store(
        spark, docs.select("doc_id", "lang", "source"), path
    )
    terms = ["spark", "window", "join"]

    with pytest.raises(Exception, match="delete the"):
        drop_doc_attr_column(
            spark, path, ["lang", "source"], batch_id=1
        )
    with pytest.raises(Exception, match="all-or-nothing"):
        drop_doc_attr_column(spark, path, ["source", "nope"], batch_id=1)

    assert drop_doc_attr_column(spark, path, ["source"], batch_id=1)
    got = bm25_topk_filtered(
        spark, path, terms, 5, F.col("lang") == "en"
    ).collect()
    assert len(got) == 5
    with pytest.raises(Exception):
        bm25_topk_filtered(
            spark, path, terms, 5, F.col("source") == "x"
        ).collect()
    assert (
        drop_doc_attr_column(spark, path, ["source"], batch_id=1)
        is False
    )


def test_text_sink_all_null_text_first_batch(spark, tmp_path):
    """SPARK-23271 corner (r15, VERDICT r14 item 2 — the text twin of
    test_vector_erasure_leaves_no_ghost_codes's catch): a FIRST batch
    whose docs all carry NULL text produces zero postings, so the
    dynamic-overwrite write commits only _SUCCESS and a
    schema-INFERRED read-back would raise UNABLE_TO_INFER_SCHEMA
    inside the sink.  The schema-specified read-back must instead
    treat it as an empty generation: the sink returns, a later real
    batch ingests normally (the uniqueness gate reads the empty store
    without raising), and the probe equals a fresh index of the real
    docs only."""
    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_merged,
    )
    from eventstream_fanout_spark.streaming.text_ingest import (
        streaming_text_index_sink,
    )

    docs = _docs(spark)
    path = str(tmp_path / "tidx")
    sink = streaming_text_index_sink(path)
    nulls = docs.limit(7).select(
        "doc_id", F.lit(None).cast("string").alias("text")
    )
    sink(nulls, 0)  # must not raise
    real = docs.where(F.col("doc_id") >= 100)
    sink(real, 1)  # gate reads the empty store without raising

    fresh = str(tmp_path / "tidx_fresh")
    build_text_index(spark, real, fresh)
    assert [
        (r["doc_id"], r["bm25_score"])
        for r in bm25_topk_merged(spark, path, TERMS, 10).collect()
    ] == [
        (r["doc_id"], r["bm25_score"])
        for r in bm25_topk_merged(spark, fresh, TERMS, 10).collect()
    ]


def test_build_text_index_all_null_corpus(spark, tmp_path):
    """The static-build face of the same corner: an all-NULL-text
    corpus must BUILD without inference failures on the read-backs
    (postings/doclens land as empty generations, the stats rollup
    records zero docs).  Probing a store with no data at all stays a
    loud error — fail-closed serve behavior, unchanged."""
    docs = _docs(spark).limit(5).select(
        "doc_id", F.lit(None).cast("string").alias("text")
    )
    path = str(tmp_path / "tidx_null")
    build_text_index(spark, docs, path)  # must not raise
    stats = spark.read.parquet(f"{path}/stats").collect()
    assert [int(r["n_docs"]) for r in stats] == [0]


def test_erase_rows_precomputed_touched_matches_self_computed(
    spark, tmp_path
):
    """r15: erase_rows grew a ``touched=`` fast path (the caller
    passes the doomed partitions) and an Observation-based
    kept-partition census.  Both paths must leave BYTE-EQUAL stores:
    same surviving rows, same surviving partition directories
    (emptied partitions deleted under both)."""
    import os

    from eventstream_fanout_spark.streaming.compaction import erase_rows

    ids = [3, 4, 5, 20, 21]

    def seed(path):
        df = spark.range(0, 30).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 7).alias("v"),
            F.when(F.col("id") < 10, 0)
            .when(F.col("id") < 20, 1)
            .otherwise(2)
            .cast("int")
            .alias("batch_id"),
        )
        # make partition 2 empty entirely after the erase
        df = df.where((F.col("batch_id") != 2) | F.col("doc_id").isin([20, 21]))
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    seed(a)
    seed(b)
    na = erase_rows(spark, a, "doc_id", ids)
    nb = erase_rows(spark, b, "doc_id", ids, touched=[(0,), (2,)])
    assert na == nb == 2
    rows_a = sorted(
        tuple(r) for r in spark.read.parquet(a).collect()
    )
    rows_b = sorted(
        tuple(r) for r in spark.read.parquet(b).collect()
    )
    assert rows_a == rows_b
    dirs_a = sorted(
        d for d in os.listdir(a) if d.startswith("batch_id=")
    )
    dirs_b = sorted(
        d for d in os.listdir(b) if d.startswith("batch_id=")
    )
    assert dirs_a == dirs_b == ["batch_id=0", "batch_id=1"]
    # idempotence through the fast path: an empty touched list is a
    # zero-job no-op
    assert erase_rows(spark, b, "doc_id", ids, touched=[]) == 0
