"""Incremental corpus dedup (streaming/corpus_dedup.py): a two-batch
ingest must admit first-seen docs, reject near-dups of previously
ACCEPTED docs (cross-batch), reject within-batch dups keeping the
lowest id, and survive a batch replay without admitting or losing
anything (the store replay bug is masked by partition exclusion)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from eventstream_fanout_spark.sources.tables import load_table
from eventstream_fanout_spark.streaming.corpus_dedup import (
    accepted_bands,
    dedup_batch_against_store,
    streaming_dedup_sink,
)
from tests.conftest import SF_ORACLE


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def _corpus_texts(spark, n):
    return [
        (r["doc_id"], r["text"])
        for r in load_table(spark, SF_ORACLE, "documents")
        .orderBy("doc_id")
        .limit(n)
        .collect()
    ]


def test_incremental_dedup_two_batches_and_replay(spark, tmp_path):
    store = str(tmp_path / "sig_store")
    out = str(tmp_path / "clean")
    texts = _corpus_texts(spark, 6)

    # batch 0: four distinct docs + one exact dup of doc 0 (higher id)
    b0 = _docs(
        spark,
        [
            (0, texts[0][1]),
            (1, texts[1][1]),
            (2, texts[2][1]),
            (3, texts[3][1]),
            (100, texts[0][1]),  # within-batch dup -> rejected
        ],
    )
    # batch 1: one new doc + dups of batch-0 docs (cross-batch)
    b1 = _docs(
        spark,
        [
            (10, texts[4][1]),
            (11, texts[1][1]),  # dup of accepted doc 1 -> rejected
            (12, texts[3][1]),  # dup of accepted doc 3 -> rejected
        ],
    )

    sink = streaming_dedup_sink(store, out)
    sink(b0, 0)
    sink(b1, 1)

    admitted = {
        r["doc_id"]: r["batch_id"]
        for r in spark.read.parquet(out).collect()
    }
    assert admitted == {0: 0, 1: 0, 2: 0, 3: 0, 10: 1}

    # the store holds bands for exactly the admitted docs
    stored = accepted_bands(spark, store)
    assert {r["doc_id"] for r in stored.select("doc_id").distinct().collect()} == {
        0, 1, 2, 3, 10,
    }

    # crash-replay of batch 1: same result, no self-rejection, no dup
    sink(b1, 1)
    admitted2 = {
        r["doc_id"]: r["batch_id"]
        for r in spark.read.parquet(out).collect()
    }
    assert admitted2 == admitted
    assert spark.read.parquet(out).count() == 5


def test_dedup_against_store_is_band_local(spark, tmp_path):
    """The store rejection join must be a bucket-local equi-join
    (left_semi/left_anti on band keys) — no cartesian, no BNLJ."""
    texts = _corpus_texts(spark, 4)
    batch = _docs(spark, [(i, t) for i, (_, t) in enumerate(texts)])
    store = spark.createDataFrame(
        [], "doc_id long, band int, bh string"
    )
    plan = (
        dedup_batch_against_store(batch, store)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_dedup_as_real_stream(spark, tmp_path):
    """The dedup sink composed through start_fanout as an ACTUAL
    Structured Streaming query: two doc files drained as separate
    micro-batches (maxFilesPerTrigger=1), cross-batch rejection against
    the store, and a checkpointed restart that reprocesses nothing."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from eventstream_fanout_spark.streaming.corpus_dedup import (
        streaming_dedup_sink,
    )
    from eventstream_fanout_spark.streaming.fanout import (
        FanoutSink,
        start_fanout,
    )

    texts = _corpus_texts(spark, 5)
    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    # file 1: three docs + an exact dup; file 2: one new + one dup of
    # an accepted file-1 doc (files sort lexicographically -> batch
    # order is deterministic)
    _docs(
        spark, [(0, texts[0][1]), (1, texts[1][1]), (100, texts[0][1])]
    ).toPandas().to_json(
        f"{src}/a-batch0.jsonl", orient="records", lines=True
    )
    _docs(spark, [(10, texts[2][1]), (11, texts[1][1])]).toPandas().to_json(
        f"{src}/b-batch1.jsonl", orient="records", lines=True
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    store = str(tmp_path / "store")
    out = str(tmp_path / "clean")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = start_fanout(
            stream,
            [FanoutSink("dedup", streaming_dedup_sink(store, out))],
            checkpoint_dir=ckpt,
            query_name="corpus-dedup-stream",
        )
        q.awaitTermination(300)

    run()
    admitted = {
        r["doc_id"]: r["batch_id"]
        for r in spark.read.parquet(out).collect()
    }
    # two micro-batches ran; dups rejected across AND within batches
    assert set(admitted) == {0, 1, 10}
    assert len(set(admitted.values())) == 2

    # restart from the same checkpoint: no files left, nothing changes
    run()
    assert {
        r["doc_id"] for r in spark.read.parquet(out).collect()
    } == {0, 1, 10}


def test_store_compaction_preserves_semantics_and_replay(spark, tmp_path):
    """Folding the signature store's committed batch partitions into
    the frozen partition (the shared compact_generations) must keep
    the band content identical, keep rejecting dups of compacted
    batches, and keep replay of the newest (uncompacted) batch safe."""
    from eventstream_fanout_spark.streaming.compaction import (
        compact_generations,
    )

    def compact_store(spark, store, upto_batch_id):
        return compact_generations(
            spark, store, upto_batch_id, data_cols=["doc_id", "band", "bh"]
        )

    store = str(tmp_path / "store")
    out = str(tmp_path / "clean")
    texts = _corpus_texts(spark, 6)
    sink = streaming_dedup_sink(store, out)
    sink(_docs(spark, [(0, texts[0][1]), (1, texts[1][1])]), 0)
    sink(_docs(spark, [(10, texts[2][1])]), 1)
    sink(_docs(spark, [(20, texts[3][1])]), 2)

    before = {
        (r["doc_id"], r["band"], r["bh"])
        for r in accepted_bands(spark, store).collect()
    }
    folded = compact_store(spark, store, upto_batch_id=2)
    assert folded == 2  # batches 0 and 1
    after = {
        (r["doc_id"], r["band"], r["bh"])
        for r in accepted_bands(spark, store).collect()
    }
    assert after == before  # content identical
    bids = {
        r["batch_id"]
        for r in spark.read.parquet(store).select("batch_id").distinct().collect()
    }
    assert bids == {-1, 2}  # 0/1 folded into frozen, 2 untouched

    # dups of a COMPACTED batch's doc still reject
    sink(_docs(spark, [(30, texts[4][1]), (31, texts[0][1])]), 3)
    admitted = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert admitted == {0, 1, 10, 20, 30}

    # replay of batch 2 (uncompacted) is still masked correctly
    sink(_docs(spark, [(20, texts[3][1])]), 2)
    assert {
        r["doc_id"] for r in spark.read.parquet(out).collect()
    } == {0, 1, 10, 20, 30}

    # compacting again with nothing below the watermark is a no-op
    assert compact_store(spark, store, upto_batch_id=2) == 0


def test_crash_between_survivor_and_signature_writes_heals_on_replay(
    spark, tmp_path, monkeypatch
):
    """Exactly-once across the PAIR of dedup outputs (VERDICT r4 item
    7): the sink writes survivors and signatures in two separate
    writes; a crash between them leaves batch N's docs admitted but
    unregistered.  foreachBatch failure fails the micro-batch, so the
    stream replays batch N — the replay must overwrite both sides and
    leave store and output in agreement."""
    from eventstream_fanout_spark.streaming import corpus_dedup

    store = str(tmp_path / "store")
    out = str(tmp_path / "clean")
    texts = _corpus_texts(spark, 4)
    sink = corpus_dedup.streaming_dedup_sink(store, out)
    sink(_docs(spark, [(0, texts[0][1]), (1, texts[1][1])]), 0)

    b1 = _docs(spark, [(10, texts[2][1]), (11, texts[0][1])])  # 11 = dup

    def boom(accepted, store_path, batch_id, **kwargs):
        raise RuntimeError("simulated crash between the two writes")

    monkeypatch.setattr(corpus_dedup, "append_accepted", boom)
    try:
        sink(b1, 1)
        raise AssertionError("sink must propagate the crash")
    except RuntimeError:
        pass
    monkeypatch.undo()

    # torn state: doc 10 admitted but its signature not registered
    admitted_torn = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    stored_torn = {
        r["doc_id"]
        for r in corpus_dedup.accepted_bands(spark, store)
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert admitted_torn == {0, 1, 10}
    assert stored_torn == {0, 1}

    # replay of batch 1 (same id — uncommitted batches re-run) heals:
    # both writes land, same survivors, store and output agree
    sink(b1, 1)
    admitted = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    stored = {
        r["doc_id"]
        for r in corpus_dedup.accepted_bands(spark, store)
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert admitted == {0, 1, 10}
    assert stored == admitted

    # and a later batch still rejects dups of the healed batch's docs
    sink(_docs(spark, [(20, texts[3][1]), (21, texts[2][1])]), 2)
    assert {
        r["doc_id"] for r in spark.read.parquet(out).collect()
    } == {0, 1, 10, 20}


def test_verified_sink_keeps_band_collisions_below_threshold(
    spark, tmp_path
):
    """Verified mode (round 5): a doc that shares an LSH band with an
    accepted doc but whose exact Jaccard is below the threshold must be
    ADMITTED (band-only mode would drop it); a true near-dup must still
    be rejected.  The fixture asserts its own premises (band collision
    exists, Jaccard is between the two thresholds) so drift in the
    hash functions fails loudly rather than vacuously passing."""
    from pyspark.sql import functions as F

    from eventstream_fanout_spark.operators.dedup import (
        doc_shingles,
        jaccard_verify_candidates,
    )
    from eventstream_fanout_spark.streaming.corpus_dedup import (
        batch_bands,
        streaming_dedup_sink,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    # find a one-token edit that still band-collides with base (a
    # single changed token flips ~3 of 38 shingles -> jaccard ~0.85,
    # so most edit positions collide on >= 1 of the 4 bands; searching
    # a few positions makes the fixture robust to hash-function drift)
    bands0 = batch_bands(_docs(spark, [(0, base)]))
    near = None
    for pos in (5, 10, 15, 20, 25, 30, 35):
        cand_text = " ".join(
            f"tok{i}" if i != pos else "altered" for i in range(40)
        )
        shared = (
            batch_bands(_docs(spark, [(10, cand_text)]))
            .alias("a")
            .join(
                bands0.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bh") == F.col("b.bh")),
            )
            .count()
        )
        if shared >= 1:
            near = cand_text
            break
    assert near is not None, "fixture premise: no edit position collides"
    docs0 = _docs(spark, [(0, base), (1, "wholly unrelated text " * 10)])
    docs1 = _docs(spark, [(10, near), (11, base)])  # 11 = exact dup of 0
    # premise 2: exact jaccard(0, 10) sits below the strict threshold
    sh = doc_shingles(
        _docs(spark, [(0, base), (10, near)])
    )
    pair = spark.createDataFrame([(0, 10)], "doc_a long, doc_b long")
    jacs = jaccard_verify_candidates(sh, pair, 0.0).collect()
    assert jacs and 0.05 < jacs[0]["jaccard"] < 0.95, jacs

    strict = jacs[0]["jaccard"] + 0.05  # just above the true jaccard

    # band-only mode rejects BOTH near (10) and exact (11)
    store_a = str(tmp_path / "store_a")
    out_a = str(tmp_path / "out_a")
    sink_a = streaming_dedup_sink(store_a, out_a)
    sink_a(docs0, 0)
    sink_a(docs1, 1)
    assert {
        r["doc_id"] for r in spark.read.parquet(out_a).collect()
    } == {0, 1}

    # verified mode with the strict threshold admits the near doc but
    # still rejects the exact dup
    store_b = str(tmp_path / "store_b")
    out_b = str(tmp_path / "out_b")
    sink_b = streaming_dedup_sink(store_b, out_b, min_jaccard=strict)
    sink_b(docs0, 0)
    sink_b(docs1, 1)
    assert {
        r["doc_id"] for r in spark.read.parquet(out_b).collect()
    } == {0, 1, 10}

    # replay of batch 1 is still masked on BOTH artifacts (store bands
    # and accepted-docs re-read)
    sink_b(docs1, 1)
    assert {
        r["doc_id"] for r in spark.read.parquet(out_b).collect()
    } == {0, 1, 10}


def test_verified_sink_fails_closed_when_accepted_docs_missing(
    spark, tmp_path
):
    """Fail-closed guard (round-5 self-review finding): a non-empty
    band store with a MISSING accepted-docs output must raise — without
    the guard every store-side candidate silently loses its
    verification shingles and duplicates of accepted docs are
    ADMITTED."""
    import shutil

    from eventstream_fanout_spark.streaming.corpus_dedup import (
        streaming_dedup_sink,
    )

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    texts = _corpus_texts(spark, 3)
    sink = streaming_dedup_sink(store, out, min_jaccard=0.3)
    sink(_docs(spark, [(0, texts[0][1]), (1, texts[1][1])]), 0)

    # simulate retention-trimming the accepted output while the band
    # store survives
    shutil.rmtree(out)
    try:
        sink(_docs(spark, [(10, texts[0][1])]), 1)  # dup of accepted 0
        raise AssertionError("verified sink must refuse to fail open")
    except RuntimeError as exc:
        assert "fail open" in str(exc) or "accepted-docs" in str(exc)

    # first batch (no store, no output) still starts cleanly
    store2 = str(tmp_path / "store2")
    out2 = str(tmp_path / "out2")
    sink2 = streaming_dedup_sink(store2, out2, min_jaccard=0.3)
    sink2(_docs(spark, [(0, texts[2][1])]), 0)
    assert {
        r["doc_id"] for r in spark.read.parquet(out2).collect()
    } == {0}


def test_verified_sink_fails_closed_on_partial_accepted_trim(
    spark, tmp_path
):
    """Doc-level fail-closed (round-6 / VERDICT r5 item 1): if retention
    trims only SOME batch partitions of the accepted-docs output while
    the band store keeps their signatures, a duplicate of a trimmed doc
    must RAISE — without the guard its candidate pair silently drops out
    of the jaccard inner join and the duplicate is admitted.  The
    artifact-level guard (accepted output entirely missing) cannot see
    this case."""
    import shutil

    import pytest

    from eventstream_fanout_spark.streaming.corpus_dedup import (
        streaming_dedup_sink,
    )

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    texts = _corpus_texts(spark, 3)
    sink = streaming_dedup_sink(store, out, min_jaccard=0.3)
    sink(_docs(spark, [(0, texts[0][1])]), 0)
    sink(_docs(spark, [(1, texts[1][1])]), 1)

    # partial retention trim: batch 0's accepted docs vanish, its bands
    # stay in the store
    shutil.rmtree(f"{out}/batch_id=0")
    with pytest.raises(Exception, match="no text in the batch"):
        sink(_docs(spark, [(10, texts[0][1])]), 2)  # dup of trimmed 0

    # a batch with no candidates against the trimmed doc still passes
    # (the guard is candidate-scoped, not a full store audit)
    sink(_docs(spark, [(11, texts[2][1])]), 3)
    assert 11 in {
        r["doc_id"] for r in spark.read.parquet(out).collect()
    }


def test_verified_sink_enforces_unique_doc_id_contract(spark, tmp_path):
    """doc_id-uniqueness ingest contract (round-6 / VERDICT r5 item 7):
    re-sending an already-accepted doc_id in a LATER batch (an upstream
    redelivery that is not a Spark replay) makes the unioned shingle
    relation ambiguous and must raise — while a genuine crash-replay of
    the SAME batch id stays masked and clean."""
    import pytest

    from eventstream_fanout_spark.streaming.corpus_dedup import (
        streaming_dedup_sink,
    )

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    texts = _corpus_texts(spark, 2)
    sink = streaming_dedup_sink(store, out, min_jaccard=0.3)
    sink(_docs(spark, [(0, texts[0][1])]), 0)

    # replay of batch 0 (same batch id): masked, no contract violation
    sink(_docs(spark, [(0, texts[0][1])]), 0)
    assert {
        r["doc_id"] for r in spark.read.parquet(out).collect()
    } == {0}

    # same doc_id arriving under a NEW batch id: contract violation
    with pytest.raises(Exception, match="more than once"):
        sink(_docs(spark, [(0, texts[0][1])]), 1)


def test_store_reader_reraises_non_missing_path_failures(spark, tmp_path):
    """Only PATH_NOT_FOUND may mean 'empty store'.  A store path that
    EXISTS but cannot be read as parquet (here: schema inference fails
    over a non-parquet file) must raise — silently returning an empty
    store would dedup against nothing and admit duplicates forever."""
    import os

    import pytest

    bad = str(tmp_path / "store")
    os.makedirs(bad)
    with open(os.path.join(bad, "garbage.txt"), "w") as fh:
        fh.write("not parquet")
    with pytest.raises(Exception):
        accepted_bands(spark, bad).collect()

    # the missing-path case still means a clean empty store
    missing = str(tmp_path / "never_written")
    assert accepted_bands(spark, missing).count() == 0


def test_compaction_refuses_ignore_missing_files(spark, tmp_path):
    """Both compactors must refuse to run under
    spark.sql.files.ignoreMissingFiles=true: a concurrent reader racing
    the post-fold deletes would silently scan a partial store."""
    import pytest

    from eventstream_fanout_spark.streaming.compaction import (
        compact_generations,
        compact_table_manifest,
    )

    key = "spark.sql.files.ignoreMissingFiles"
    prev = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        with pytest.raises(RuntimeError, match="ignoreMissingFiles"):
            compact_generations(
                spark, str(tmp_path / "s"), 1, data_cols=["doc_id"]
            )
        with pytest.raises(RuntimeError, match="ignoreMissingFiles"):
            compact_table_manifest(
                spark, "any_table", str(tmp_path / "m"), 1, lambda df: df
            )
    finally:
        spark.conf.set(key, prev)


def test_erased_docs_leave_no_ghost_signatures(spark, tmp_path):
    """curated_erase must remove a doc from the DEDUP STATE, not just
    the index: a future copy of an ERASED doc's text is admitted again
    (its bands are gone), while a copy of a SURVIVING doc is still
    rejected; the erased doc also vanishes from the accepted artifact
    and the text index, and re-running the same erasure is a no-op."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from eventstream_fanout_spark.sources.tables import load_table
    from eventstream_fanout_spark.streaming.curated_ingest import (
        curated_erase,
        curated_ingest_sink,
    )
    from tests.conftest import SF_ORACLE

    docs = (
        load_table(spark, SF_ORACLE, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 20)
    )
    store, out, idx = (
        str(tmp_path / p) for p in ("store", "out", "index")
    )
    sink = curated_ingest_sink(store, out, idx)
    sink(docs, 0)
    accepted0 = {
        r["doc_id"] for r in spark.read.parquet(out).collect()
    }
    erased, survivor = sorted(accepted0)[0], sorted(accepted0)[1]
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.where(F.col("doc_id").isin(erased, survivor)).collect()
    }

    n = curated_erase(spark, store, out, idx, [erased])
    assert n > 0
    assert curated_erase(spark, store, out, idx, [erased]) == 0  # no-op

    assert erased not in {
        r["doc_id"] for r in spark.read.parquet(out).collect()
    }
    assert erased not in {
        r["doc_id"]
        for r in spark.read.parquet(f"{idx}/doclens").collect()
    }

    # batch 1: exact copies of the erased doc (new id 900 — must now
    # ADMIT: no ghost bands) and of a surviving doc (901 — must reject)
    sink(
        spark.createDataFrame(
            [
                Row(doc_id=900, text=texts[erased]),
                Row(doc_id=901, text=texts[survivor]),
            ]
        ),
        1,
    )
    admitted1 = {
        r["doc_id"]
        for r in spark.read.parquet(out)
        .where(F.col("batch_id") == 1)
        .collect()
    }
    assert admitted1 == {900}


def test_append_accepted_precomputed_bands_matches_recompute(spark, tmp_path):
    """r14 optimization: the sinks pass the batch's persisted band
    derivation into append_accepted, which semi-joins it on the
    accepted doc_ids instead of re-running tokenize→minhash over the
    survivors.  Bands are a pure per-document function of the text, so
    the two paths must write byte-identical store rows."""
    from eventstream_fanout_spark.streaming.corpus_dedup import (
        append_accepted,
        batch_bands,
    )

    texts = _corpus_texts(spark, 3)
    batch = _docs(
        spark,
        [(0, texts[0][1]), (1, texts[1][1]), (2, texts[2][1])],
    )
    accepted = batch.where(F.col("doc_id") != 1)
    bands = batch_bands(batch).persist()
    p_recompute = str(tmp_path / "store_recompute")
    p_precomp = str(tmp_path / "store_precomputed")
    append_accepted(accepted, p_recompute, 0)
    append_accepted(accepted, p_precomp, 0, bands=bands)
    bands.unpersist()
    rows_a = {
        (r["doc_id"], r["band"], r["bh"], r["batch_id"])
        for r in spark.read.parquet(p_recompute).collect()
    }
    rows_b = {
        (r["doc_id"], r["band"], r["bh"], r["batch_id"])
        for r in spark.read.parquet(p_precomp).collect()
    }
    assert rows_a == rows_b
    assert rows_a  # non-degenerate: the accepted docs do carry bands
    assert {r[0] for r in rows_a} == {0, 2}
