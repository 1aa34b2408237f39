"""Persisted PQ/IVF ANN index (operators/ann_index.py) and its
incremental ingest sink (streaming/ann_ingest.py): the stored index
must probe identically to the in-plan encode, the probe plan must
contain NO encode subtree, ingest must be replay-safe, and compaction
must preserve probe results."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from eventstream_fanout_spark.operators.ann_index import (
    build_pq_index,
    pq_probe_topk,
)
from eventstream_fanout_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE


def _emb(spark):
    return load_table(spark, SF_ORACLE, "embeddings")


def _query(spark):
    return _emb(spark).where(F.col("vec_id") == 0).select("embedding")


def _topk_ids(df):
    return [r["vec_id"] for r in df.collect()]


def test_persisted_probe_matches_inplan_adc_and_has_no_encode(
    spark, tmp_path
):
    """The stored codes must reproduce the in-plan PQ encode exactly
    (same ADC top-10 as ann_pq_adc_topk), and the probe's physical
    plan must not slice/encode any embedding — the whole point of
    persisting the index is that probes read codes, not vectors."""
    from eventstream_fanout_spark.plans.registry import QUERIES

    path = str(tmp_path / "idx")
    build_pq_index(spark, _emb(spark), path)
    probe = pq_probe_topk(spark, path, _query(spark), 10)
    inplan = QUERIES["ann_pq_adc_topk"].fn(spark, SF_ORACLE)
    assert _topk_ids(probe) == _topk_ids(inplan)

    # AQE's toString repeats the tree under "== Initial Plan ==" —
    # count nodes in the final section only
    plan = (
        probe._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    # exactly ONE subspace-slicing node: the 1-row query vector feeding
    # the broadcast distance table.  The in-plan encode has three
    # (codebook, corpus, query); corpus/codebook must come from the
    # stored tables here.
    assert plan.count("posexplode(array(slice(embedding") == 1, plan


def test_ivfpq_probe_scans_only_probed_lists(spark, tmp_path):
    """nprobe=2: every hit comes from one of the query's 2 nearest
    coarse lists, the result is the full-ADC ranking restricted to
    those lists, and the codes scan is pruned on the list_id partition
    column (static or dynamic partition pruning in the plan)."""
    path = str(tmp_path / "idx")
    build_pq_index(spark, _emb(spark), path)
    pruned = pq_probe_topk(spark, path, _query(spark), 10, nprobe=2)
    rows = pruned.collect()
    assert len(rows) == 10
    probed_lists = {r["list_id"] for r in rows}
    assert len(probed_lists) <= 2

    # semantics: equals the unpruned ADC ranking restricted to the
    # probed lists
    full = pq_probe_topk(spark, path, _query(spark), 10_000).collect()
    expected = [
        r["vec_id"] for r in full if r["list_id"] in probed_lists
    ][:10]
    assert _topk_ids(pruned) == expected

    # the codes scan must carry a dynamic-partition-pruning expression
    # on list_id (the broadcast probe result prunes partitions at
    # runtime — verified to fire on Spark 4.1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), plan


def test_ingest_real_stream_with_checkpointed_replay(spark, tmp_path):
    """The ingest sink as an ACTUAL streaming query (two vector files,
    maxFilesPerTrigger=1, checkpointed): the incrementally built index
    must probe identically to an all-at-once build, and a restart from
    the checkpoint reprocesses nothing."""
    from pyspark.sql import types as T

    from eventstream_fanout_spark.streaming.ann_ingest import (
        streaming_ann_index_sink,
    )
    from eventstream_fanout_spark.streaming.fanout import (
        FanoutSink,
        start_fanout,
    )

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    # static build indexes vec_id % 3 == 0; the stream adds the rest
    build_pq_index(
        spark,
        emb,
        path,
        corpus=emb.where((F.col("vec_id") % 3 == 0) & (F.col("vec_id") != 0)),
    )
    src = str(tmp_path / "vec_src")
    os.makedirs(src)
    for tag, m in (("a", 1), ("b", 2)):
        (
            emb.where(F.col("vec_id") % 3 == m)
            .select("vec_id", "embedding")
            .toPandas()
            .to_json(f"{src}/{tag}-batch.jsonl", orient="records", lines=True)
        )
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = start_fanout(
            stream,
            [FanoutSink("ann_index", streaming_ann_index_sink(path))],
            checkpoint_dir=ckpt,
            query_name="ann-index-ingest",
        )
        q.awaitTermination(300)

    run()
    # two streamed generations + the frozen build
    codes = spark.read.parquet(f"{path}/codes")
    bids = {r["batch_id"] for r in codes.select("batch_id").distinct().collect()}
    assert bids == {-1, 0, 1}
    n_codes = codes.count()
    assert n_codes == emb.where(F.col("vec_id") != 0).count()

    # probe equals an all-at-once build
    full_path = str(tmp_path / "idx_full")
    build_pq_index(spark, emb, full_path)
    got = _topk_ids(pq_probe_topk(spark, path, _query(spark), 10))
    want = _topk_ids(pq_probe_topk(spark, full_path, _query(spark), 10))
    assert got == want

    # checkpointed restart: no files left, nothing re-ingested
    run()
    assert spark.read.parquet(f"{path}/codes").count() == n_codes

    # manual replay of batch 1 (same id): overwrites itself, no dups
    sink = streaming_ann_index_sink(path)
    sink(emb.where(F.col("vec_id") % 3 == 2).select("vec_id", "embedding"), 1)
    assert spark.read.parquet(f"{path}/codes").count() == n_codes


def test_ingest_refuses_missing_quantizer(spark, tmp_path):
    """Streaming vectors into a path with no built index must raise
    (fail closed), not silently drop every batch's codes."""
    import pytest

    from eventstream_fanout_spark.streaming.ann_ingest import (
        streaming_ann_index_sink,
    )

    sink = streaming_ann_index_sink(str(tmp_path / "nowhere"))
    batch = _emb(spark).where(F.col("vec_id") % 3 == 1).select(
        "vec_id", "embedding"
    )
    with pytest.raises(RuntimeError, match="build the index"):
        sink(batch, 0)


def test_compact_index_preserves_probe_and_is_idempotent(spark, tmp_path):
    """Folding the per-batch generations into a frozen one must leave
    probe results identical; re-running on an already-compacted index
    folds nothing; ignoreMissingFiles=true is refused."""
    import pytest

    from eventstream_fanout_spark.streaming.ann_ingest import (
        compact_index,
        streaming_ann_index_sink,
    )

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    build_pq_index(
        spark,
        emb,
        path,
        corpus=emb.where((F.col("vec_id") % 2 == 0) & (F.col("vec_id") != 0)),
    )
    sink = streaming_ann_index_sink(path)
    odd = emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    sink(odd.where(F.col("vec_id") % 4 == 1), 0)
    sink(odd.where(F.col("vec_id") % 4 == 3), 1)

    before = _topk_ids(pq_probe_topk(spark, path, _query(spark), 10))
    n_before = spark.read.parquet(f"{path}/codes").count()
    assert compact_index(spark, path, upto_batch_id=2) == 3  # -1, 0, 1
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == n_before
    bids = {r["batch_id"] for r in codes.select("batch_id").distinct().collect()}
    assert bids == {-2}
    assert _topk_ids(pq_probe_topk(spark, path, _query(spark), 10)) == before

    assert compact_index(spark, path, upto_batch_id=2) == 0

    key = "spark.sql.files.ignoreMissingFiles"
    prev = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        with pytest.raises(RuntimeError, match="ignoreMissingFiles"):
            compact_index(spark, path, upto_batch_id=99)
    finally:
        spark.conf.set(key, prev)


def test_batch_probe_one_scan_matches_single_probes(spark, tmp_path):
    """The batch probe must return, per query, exactly the single-probe
    ADC ranking (minus self-matches) while scanning the codes table
    ONCE — one FileScan of the codes path in the final plan."""
    from eventstream_fanout_spark.operators.ann_index import (
        pq_batch_probe_topk,
    )

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    build_pq_index(spark, emb, path)
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    batch = pq_batch_probe_topk(spark, path, queries, 5)
    got = {}
    for r in batch.collect():
        got.setdefault(r["qid"], []).append(r["vec_id"])

    for qid in (0, 1, 2):
        single = pq_probe_topk(
            spark,
            path,
            emb.where(F.col("vec_id") == qid).select("embedding"),
            6,
        ).collect()
        want = [r["vec_id"] for r in single if r["vec_id"] != qid][:5]
        assert got[qid] == want, qid

    plan = (
        batch._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    # plan paths are ellipsized — identify the codes scan by its read
    # schema instead
    assert plan.count("codes:array<int>") == 1, "codes scanned more than once"


def test_batch_probe_pruned_matches_single_pruned_probes(spark, tmp_path):
    """VERDICT r6 item 1: the batch probe with nprobe must equal each
    query's single pruned probe (self-matches excluded), still scan the
    codes table once, and the scan must carry a dynamic-partition-
    pruning expression on list_id — the single-probe pruning
    generalized to a batch."""
    from eventstream_fanout_spark.operators.ann_index import (
        pq_batch_probe_topk,
    )

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    build_pq_index(spark, emb, path)
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    batch = pq_batch_probe_topk(spark, path, queries, 5, nprobe=2)
    got = {}
    for r in batch.collect():
        got.setdefault(r["qid"], []).append(r["vec_id"])

    for qid in (0, 1, 2):
        single = pq_probe_topk(
            spark,
            path,
            emb.where(F.col("vec_id") == qid).select("embedding"),
            6,
            nprobe=2,
        ).collect()
        want = [r["vec_id"] for r in single if r["vec_id"] != qid][:5]
        assert got[qid] == want, qid

    plan = (
        batch._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("codes:array<int>") == 1, "codes scanned more than once"
    assert "dynamicpruningexpression" in plan.lower(), plan


def test_streaming_ann_probe_serves_from_stored_index(spark, tmp_path):
    """Streaming serving (the other half of the ingest loop): query
    vectors drained as a real checkpointed stream are answered from
    the stored index per micro-batch; answers match the batch probe,
    restart reprocesses nothing, and a replayed batch overwrites only
    itself."""
    import os

    from pyspark.sql import types as T

    from eventstream_fanout_spark.operators.ann_index import (
        pq_batch_probe_topk,
    )
    from eventstream_fanout_spark.streaming.ann_serve import (
        streaming_ann_probe_sink,
    )
    from eventstream_fanout_spark.streaming.fanout import (
        FanoutSink,
        start_fanout,
    )

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    build_pq_index(spark, emb, path)

    src = str(tmp_path / "q_src")
    os.makedirs(src)
    for tag, lo, hi in (("a", 1, 3), ("b", 3, 5)):
        (
            emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
            .select(F.col("vec_id").alias("qid"), "embedding")
            .toPandas()
            .to_json(f"{src}/{tag}.jsonl", orient="records", lines=True)
        )
    out = str(tmp_path / "answers")
    schema = T.StructType(
        [
            T.StructField("qid", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
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
            [FanoutSink("ann_probe", streaming_ann_probe_sink(path, out))],
            checkpoint_dir=str(tmp_path / "ckpt"),
            query_name="ann-probe-stream",
        )
        q.awaitTermination(300)

    run()
    answers = spark.read.parquet(out)
    got = {}
    for r in answers.collect():
        got.setdefault(r["qid"], []).append((r["rank"], r["vec_id"]))
    assert set(got) == {1, 2, 3, 4}

    # the sink serves the PRUNED path by default (nprobe=2)
    queries = emb.where((F.col("vec_id") >= 1) & (F.col("vec_id") < 5)).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    want = {}
    for r in pq_batch_probe_topk(spark, path, queries, 5, nprobe=2).collect():
        want.setdefault(r["qid"], []).append((r["rank"], r["vec_id"]))
    assert {q: sorted(v) for q, v in got.items()} == {
        q: sorted(v) for q, v in want.items()
    }

    n = answers.count()
    run()  # checkpointed restart: no new files, nothing reprocessed
    assert spark.read.parquet(out).count() == n


def test_fitted_quantizer_persists_and_probes(spark, tmp_path):
    """The production wiring: a FITTED coarse quantizer
    (ivf_fit_centroids) persisted into the index instead of the seed
    stand-in — the stored artifact is exactly what the localCheckpoint
    caveat in similarity.py tells cluster users to do.  Probe must
    return a full pruned top-k with no broken-index raise."""
    from eventstream_fanout_spark.operators.similarity import (
        ivf_fit_centroids,
    )

    emb = _emb(spark)
    corpus = emb.where(F.col("vec_id") != 0)
    path = str(tmp_path / "idx_fitted")
    build_pq_index(
        spark, emb, path, centroids=ivf_fit_centroids(corpus, n_iters=1)
    )
    rows = pq_probe_topk(spark, path, _query(spark), 10, nprobe=2).collect()
    assert len(rows) == 10
    assert len({r["list_id"] for r in rows}) <= 2


def test_probe_refuses_duplicated_generation_vector(spark, tmp_path):
    """A vec_id present in two index generations (re-ingested id or a
    probe racing a crashed compaction) would silently double its ADC
    sum — the in-row code-count guard must raise through every ADC
    probe (single, filtered, batch), and compact_index (which
    dedupes) must heal the store."""
    import pytest

    from eventstream_fanout_spark.operators.ann_index import (
        build_attr_store,
        pq_batch_probe_topk,
        pq_filtered_topk,
    )
    from eventstream_fanout_spark.streaming.ann_ingest import (
        compact_index,
        streaming_ann_index_sink,
    )

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    build_pq_index(spark, emb, path)
    # operator error: vector 42 re-sent under a new batch id
    sink = streaming_ann_index_sink(path)
    sink(emb.where(F.col("vec_id") == 42).select("vec_id", "embedding"), 7)
    # attrs for every stored code row, both generations of 42 included
    build_attr_store(spark, emb.select("vec_id", "label"), path)
    queries = _query(spark).select(F.lit(10**9).alias("qid"), "embedding")
    pred = F.col("label").isNotNull()

    for probe in (
        lambda: pq_probe_topk(spark, path, _query(spark), 10),
        lambda: pq_filtered_topk(spark, path, _query(spark), 10, pred),
        lambda: pq_batch_probe_topk(spark, path, queries, 10),
        lambda: pq_batch_probe_topk(spark, path, queries, 10, attr_pred=pred),
    ):
        with pytest.raises(Exception, match="multiple index generations"):
            probe().collect()

    # compaction dedupes the store; probing works again
    # 2 codes partitions + their 2 attrs twins
    assert compact_index(spark, path, upto_batch_id=8) == 4
    assert len(pq_probe_topk(spark, path, _query(spark), 10).collect()) == 10


def test_probe_refuses_broken_stored_codebook(spark, tmp_path):
    """An index built from a corpus lacking SOME seed vectors stores a
    short codebook; probing it must raise at execution (lazy guard),
    never return a silently empty/garbage top-k.  A corpus lacking ALL
    seeds cannot even build a readable index (the empty partitioned
    codes write leaves nothing to infer a schema from) — also loud."""
    import pytest

    path = str(tmp_path / "idx")
    # seeds 13..17 present, 10..12 missing -> 40-row codebook
    build_pq_index(
        spark, _emb(spark).where(F.col("vec_id") > 12), path
    )
    broken = pq_probe_topk(spark, path, _query(spark), 10)  # lazy: fine
    with pytest.raises(Exception, match="codebook"):
        broken.collect()

    empty = str(tmp_path / "idx_empty")
    build_pq_index(spark, _emb(spark).where(F.col("vec_id") > 100), empty)
    with pytest.raises(Exception):
        pq_probe_topk(spark, empty, _query(spark), 10).collect()


def test_streaming_vector_dedup_rejects_near_dups_and_replays(
    spark, tmp_path
):
    """The SemDeDup-style vector-dedup sink as a real checkpointed
    stream: an exact copy of an indexed vector (new id) is rejected,
    a copy of a batch-1 acceptance is rejected cross-batch, genuinely
    new vectors are admitted and their codes join the index, and a
    restart reprocesses nothing."""
    import os

    from pyspark.sql import types as T

    from eventstream_fanout_spark.streaming.fanout import (
        FanoutSink,
        start_fanout,
    )
    from eventstream_fanout_spark.streaming.vector_dedup import (
        streaming_vector_dedup_sink,
    )

    emb = _emb(spark)
    idx = str(tmp_path / "idx")
    build_pq_index(
        spark,
        emb,
        idx,
        corpus=emb.where((F.col("vec_id") % 2 == 0) & (F.col("vec_id") != 0)),
    )
    n_codes_0 = spark.read.parquet(f"{idx}/codes").count()

    vec = {
        r["vec_id"]: r["embedding"]
        for r in emb.where(F.col("vec_id").isin(2, 101, 103)).collect()
    }
    src = str(tmp_path / "v_src")
    os.makedirs(src)

    def write(tag, rows):
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).toPandas().to_json(
            f"{src}/{tag}.jsonl", orient="records", lines=True
        )

    # batch a: copy of indexed vec 2 (id 9001, must reject) + two new
    # odd vectors; batch b: copy of batch-a acceptance 101 (id 9003,
    # must reject cross-batch)
    write("a-b0", [(9001, vec[2]), (101, vec[101]), (103, vec[103])])
    write("b-b1", [(9003, vec[101])])

    out = str(tmp_path / "accepted")
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
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
            [
                FanoutSink(
                    "vec_dedup",
                    streaming_vector_dedup_sink(idx, out, 1_000_000_000),
                )
            ],
            checkpoint_dir=str(tmp_path / "ckpt"),
            query_name="vector-dedup-stream",
        )
        q.awaitTermination(300)

    run()
    accepted = {
        r["vec_id"]: r["batch_id"]
        for r in spark.read.parquet(out).collect()
    }
    # 9001 (exact dup of indexed 2) and 9003 (exact dup of accepted
    # 101) rejected; 101/103 admitted (assuming no closer even
    # neighbor — assert membership, not exact equality, for 101/103)
    assert 9001 not in accepted and 9003 not in accepted
    assert set(accepted).issubset({101, 103})
    codes = spark.read.parquet(f"{idx}/codes")
    assert codes.count() == n_codes_0 + len(accepted)

    # restart from checkpoint: nothing reprocessed, nothing duplicated
    run()
    assert spark.read.parquet(out).count() == len(accepted)
    assert spark.read.parquet(f"{idx}/codes").count() == (
        n_codes_0 + len(accepted)
    )


def test_streaming_hybrid_probe_fuses_both_indexes(spark, tmp_path):
    """Streaming hybrid serving: (terms + embedding) queries drained
    as a real checkpointed stream are answered by RRF fusion over the
    persisted text AND ANN indexes per micro-batch; answers match the
    batch operator, and restart reprocesses nothing."""
    import os

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from eventstream_fanout_spark.operators.hybrid import hybrid_batch_rrf
    from eventstream_fanout_spark.operators.text_index import (
        build_text_index,
    )
    from eventstream_fanout_spark.sources.tables import load_table
    from eventstream_fanout_spark.streaming.fanout import (
        FanoutSink,
        start_fanout,
    )
    from eventstream_fanout_spark.streaming.hybrid_serve import (
        streaming_hybrid_probe_sink,
    )

    emb = _emb(spark)
    docs = load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "text"
    )
    apath = str(tmp_path / "ann_idx")
    tpath = str(tmp_path / "text_idx")
    build_pq_index(spark, emb, apath)
    build_text_index(spark, docs, tpath)

    evec = {
        r["vec_id"]: r["embedding"]
        for r in emb.where(F.col("vec_id").isin(1, 2, 3)).collect()
    }
    batches = [
        [
            Row(qid=1, terms=["spark", "window"], embedding=evec[1]),
            Row(qid=2, terms=["join"], embedding=evec[2]),
        ],
        [Row(qid=3, terms=["window", "join"], embedding=evec[3])],
    ]
    schema = T.StructType(
        [
            T.StructField("qid", T.LongType()),
            T.StructField("terms", T.ArrayType(T.StringType())),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    src = str(tmp_path / "q_src")
    os.makedirs(src)
    for tag, rows in zip("ab", batches):
        spark.createDataFrame(rows, schema).toPandas().to_json(
            f"{src}/{tag}.jsonl", orient="records", lines=True
        )
    out = str(tmp_path / "answers")

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
                    "hybrid",
                    streaming_hybrid_probe_sink(tpath, apath, out),
                )
            ],
            checkpoint_dir=str(tmp_path / "ckpt"),
            query_name="hybrid-probe-stream",
        )
        q.awaitTermination(300)

    run()
    answers = spark.read.parquet(out)
    got = {}
    for r in answers.collect():
        got.setdefault(r["qid"], []).append((r["rank"], r["doc_id"]))
    assert set(got) == {1, 2, 3}

    queries = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    want = {}
    for r in hybrid_batch_rrf(
        spark, tpath, apath, queries, k=5, nprobe=2
    ).collect():
        want.setdefault(r["qid"], []).append((r["rank"], r["doc_id"]))
    assert {q: sorted(v) for q, v in got.items()} == {
        q: sorted(v) for q, v in want.items()
    }

    n = answers.count()
    run()
    assert spark.read.parquet(out).count() == n


def test_delete_vectors_erases_and_is_idempotent(spark, tmp_path):
    """delete_vectors must leave a probe identical to an index that
    never contained the doomed vectors, remove (generation, list)
    partitions emptied entirely, and be a no-op on re-run."""
    from eventstream_fanout_spark.streaming.ann_ingest import (
        delete_vectors,
        streaming_ann_index_sink,
    )

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    build_pq_index(
        spark,
        emb,
        path,
        corpus=emb.where((F.col("vec_id") % 2 == 0) & (F.col("vec_id") != 0)),
    )
    sink = streaming_ann_index_sink(path)
    sink(emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding"), 1)

    # erase all of streamed batch 1 + a slice of the frozen build
    doomed = [
        int(r["vec_id"])
        for r in emb.where(
            (F.col("vec_id") % 2 == 1) | (F.col("vec_id") % 10 == 2)
        ).select("vec_id").collect()
    ]
    assert delete_vectors(spark, path, doomed) > 0
    codes = spark.read.parquet(f"{path}/codes")
    assert {
        r["batch_id"]
        for r in codes.select("batch_id").distinct().collect()
    } == {-1}  # batch 1 emptied entirely -> partitions gone
    left = {r["vec_id"] for r in codes.select("vec_id").collect()}
    assert left.isdisjoint(set(doomed))

    got = _topk_ids(pq_probe_topk(spark, path, _query(spark), 10))
    fresh = str(tmp_path / "idx_fresh")
    build_pq_index(
        spark, emb, fresh,
        corpus=emb.where(
            (F.col("vec_id") != 0) & ~F.col("vec_id").isin(doomed)
        ),
    )
    assert got == _topk_ids(pq_probe_topk(spark, fresh, _query(spark), 10))

    assert delete_vectors(spark, path, doomed) == 0
    assert got == _topk_ids(pq_probe_topk(spark, path, _query(spark), 10))


def test_ann_erase_then_compact_restores_single_generation_index(
    spark, tmp_path
):
    """VERDICT r7 item 6 (ANN side): erase-many then compact must
    equal an index that never contained the doomed vectors AND restore
    the single-generation codes layout (erasure fragments partitions;
    only compaction folds the generation count back down)."""
    from eventstream_fanout_spark.streaming.ann_ingest import (
        compact_index,
        delete_vectors,
        streaming_ann_index_sink,
    )

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    build_pq_index(
        spark,
        emb,
        path,
        corpus=emb.where((F.col("vec_id") % 3 == 0) & (F.col("vec_id") != 0)),
    )
    sink = streaming_ann_index_sink(path)
    sink(emb.where(F.col("vec_id") % 3 == 1).select("vec_id", "embedding"), 1)
    sink(emb.where(F.col("vec_id") % 3 == 2).select("vec_id", "embedding"), 2)

    # two erasure calls across generations
    d1 = [int(r["vec_id"]) for r in emb.where(
        F.col("vec_id") % 7 == 1).select("vec_id").collect()]
    d2 = [int(r["vec_id"]) for r in emb.where(
        F.col("vec_id") % 7 == 4).select("vec_id").collect()]
    assert delete_vectors(spark, path, d1) > 0
    assert delete_vectors(spark, path, d2) > 0

    assert compact_index(spark, path, upto_batch_id=3) > 0
    gens = {
        r["batch_id"]
        for r in spark.read.parquet(f"{path}/codes")
        .select("batch_id")
        .distinct()
        .collect()
    }
    assert len(gens) == 1, f"codes still multi-generation: {gens}"

    doomed = set(d1) | set(d2)
    fresh = str(tmp_path / "idx_fresh")
    build_pq_index(
        spark, emb, fresh,
        corpus=emb.where(
            (F.col("vec_id") != 0) & ~F.col("vec_id").isin(list(doomed))
        ),
    )
    assert _topk_ids(
        pq_probe_topk(spark, path, _query(spark), 10)
    ) == _topk_ids(pq_probe_topk(spark, fresh, _query(spark), 10))


def test_vector_erasure_leaves_no_ghost_codes(spark, tmp_path):
    """The vector-side ghost-band test (VERDICT r7 item 4): after
    delete_vectors erases an indexed vector, a NEW vector with the
    same embedding must be ADMITTED by the vector-dedup gate (no ghost
    codes keep rejecting near-dups of erased content) — the exact
    analogue of corpus_dedup's ghost-band semantics."""
    from eventstream_fanout_spark.streaming.ann_ingest import (
        delete_vectors,
    )
    from eventstream_fanout_spark.streaming.vector_dedup import (
        streaming_vector_dedup_sink,
    )

    emb = _emb(spark)
    idx = str(tmp_path / "idx")
    build_pq_index(
        spark,
        emb,
        idx,
        corpus=emb.where((F.col("vec_id") % 2 == 0) & (F.col("vec_id") != 0)),
    )
    out = str(tmp_path / "accepted")
    sink = streaming_vector_dedup_sink(idx, out, 1_000_000_000)

    twin = emb.where(F.col("vec_id") == 2).select(
        F.lit(9001).cast("long").alias("vec_id"), "embedding"
    )
    # a copy of indexed vec 2 is rejected while 2's codes exist (the
    # all-rejected batch writes no survivor rows, so assert on codes)
    sink(twin, 0)
    assert spark.read.parquet(f"{idx}/codes").where(
        F.col("vec_id") == 9001
    ).count() == 0

    # ...and admitted once vec 2 is erased (no ghost rejection)
    assert delete_vectors(spark, idx, [2]) > 0
    sink(twin, 1)
    assert spark.read.parquet(out).where(
        F.col("vec_id") == 9001
    ).count() == 1
    codes = spark.read.parquet(f"{idx}/codes")
    assert codes.where(F.col("vec_id") == 9001).count() == 1


def test_ann_asof_probe_prunes_generations(spark, tmp_path):
    """pq_probe_topk(upto_batch_id=N): as-of N equals an index that
    never saw later batches, as-of the newest generation equals the
    live probe, and the codes scan carries the batch_id partition
    filter."""
    from eventstream_fanout_spark.streaming.ann_ingest import (
        streaming_ann_index_sink,
    )

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    build_pq_index(
        spark,
        emb,
        path,
        corpus=emb.where((F.col("vec_id") % 3 == 0) & (F.col("vec_id") != 0)),
    )
    sink = streaming_ann_index_sink(path)
    sink(emb.where(F.col("vec_id") % 3 == 1).select("vec_id", "embedding"), 1)
    sink(emb.where(F.col("vec_id") % 3 == 2).select("vec_id", "embedding"), 2)

    asof1 = pq_probe_topk(spark, path, _query(spark), 10, upto_batch_id=1)
    plan = asof1._jdf.queryExecution().executedPlan().toString()
    assert "batch_id" in plan and "<= 1" in plan, plan

    fresh = str(tmp_path / "idx_fresh")
    build_pq_index(
        spark, emb, fresh,
        corpus=emb.where((F.col("vec_id") % 3 != 2) & (F.col("vec_id") != 0)),
    )
    assert _topk_ids(asof1) == _topk_ids(
        pq_probe_topk(spark, fresh, _query(spark), 10)
    )
    assert _topk_ids(
        pq_probe_topk(spark, path, _query(spark), 10, upto_batch_id=2)
    ) == _topk_ids(pq_probe_topk(spark, path, _query(spark), 10))


def test_binary_hamming_plan_is_shuffle_free(spark):
    """The sign-sketch ranking must stay a scan -> codegen ->
    broadcast -> TakeOrdered pipeline: no Exchange anywhere on the
    data path (each executor returns its local top-k)."""
    from eventstream_fanout_spark.operators.similarity import (
        binary_hamming_topk,
        sign_words,
    )

    emb = _emb(spark)
    words = emb.select("vec_id", sign_words(F.col("embedding")).alias("wrd"))
    q = words.where(F.col("vec_id") == 0).select(F.col("wrd").alias("qw"))
    plan = (
        binary_hamming_topk(words.where(F.col("vec_id") != 0), q, 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "TakeOrderedAndProject" in plan, plan
    # the only allowed Exchange is the 1-row query broadcast
    import re

    exchanges = [
        line for line in plan.splitlines()
        if re.search(r"\bExchange\b", line)
        and "BroadcastExchange" not in line
    ]
    assert exchanges == [], exchanges


def test_filtered_probe_prunes_lists_and_pushes_predicate(
    spark, tmp_path
):
    """pq_filtered_topk: every hit satisfies the predicate and lies in
    a probed list; the result equals the unfiltered full-ADC ranking
    restricted to (predicate AND probed lists); the plan prunes the
    codes scan via DPP on list_id and pushes the label predicate into
    the attrs parquet scan (no corpus-wide metadata join)."""
    from eventstream_fanout_spark.operators.ann_index import (
        build_attr_store,
        pq_filtered_topk,
    )

    path = str(tmp_path / "idx")
    build_pq_index(spark, _emb(spark), path)
    build_attr_store(
        spark, _emb(spark).select("vec_id", "label"), path
    )

    pred = F.col("label").isin(1, 3, 5)
    filtered = pq_filtered_topk(
        spark, path, _query(spark), 10, pred, nprobe=2
    )
    rows = filtered.collect()
    assert 0 < len(rows) <= 10
    labels = {
        r["label"]
        for r in _emb(spark)
        .select("vec_id", "label")
        .join(filtered.select("vec_id"), "vec_id")
        .collect()
    }
    assert labels <= {1, 3, 5}
    probed_lists = {r["list_id"] for r in rows}
    assert len(probed_lists) <= 2

    # semantics: the unpruned, unfiltered ranking restricted to
    # predicate + probed lists gives the same ids in the same order
    full = pq_probe_topk(spark, path, _query(spark), 10_000).collect()
    allowed = {
        r["vec_id"]
        for r in _emb(spark).where(pred).select("vec_id").collect()
    }
    expected = [
        r["vec_id"]
        for r in full
        if r["list_id"] in probed_lists and r["vec_id"] in allowed
    ][:10]
    assert _topk_ids(filtered) == expected

    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), plan
    # the label predicate reaches the attrs parquet scan
    assert "In(label" in plan or "in(label" in plan.lower(), plan


def test_attr_store_build_refuses_uncovered_code_row(spark, tmp_path):
    """Coverage is fail-closed at BUILD: an indexed vector with no
    attrs row raises instead of silently vanishing from every future
    filtered probe (the when-owned assert branch)."""
    import pytest

    from eventstream_fanout_spark.operators.ann_index import (
        build_attr_store,
    )

    path = str(tmp_path / "idx")
    build_pq_index(spark, _emb(spark), path)
    partial = (
        _emb(spark)
        .select("vec_id", "label")
        .where(F.col("vec_id") % 7 != 3)
    )
    with pytest.raises(Exception, match="has no attrs row"):
        build_attr_store(spark, partial, path)


def test_filtered_probe_refuses_stale_attr_store(spark, tmp_path):
    """Two fail-closed layers around attr coverage on a live store:
    (1) the ingest sink itself now REFUSES a batch that lacks the attr
    store's metadata columns (the delta-maintenance contract — VERDICT
    r9 item 2); (2) codes appended OUT OF BAND (a writer that bypasses
    the sink) still trip the probe-time coverage guard (ADVICE r8
    item 1), and build_attr_store repairs the store."""
    import pytest

    from eventstream_fanout_spark.operators.ann_index import (
        build_attr_store,
        encode_pq_codes,
        pq_filtered_topk,
        read_index,
    )
    from eventstream_fanout_spark.streaming.ann_ingest import (
        streaming_ann_index_sink,
    )

    path = str(tmp_path / "idx")
    emb = _emb(spark)
    late = emb.where(F.col("vec_id") >= 55)
    build_pq_index(spark, emb.where(F.col("vec_id") < 55), path)
    build_attr_store(
        spark,
        emb.where(F.col("vec_id") < 55).select("vec_id", "label"),
        path,
    )
    # layer 1: the sink refuses an attr-less batch on an attr-carrying
    # index instead of silently appending uncovered codes
    with pytest.raises(Exception, match="does not supply"):
        streaming_ann_index_sink(path)(
            late.select("vec_id", "embedding"), 7
        )
    # layer 2: an out-of-band writer bypasses the sink entirely —
    # the probe-time guard is the remaining tripwire
    _, codebook, centroids = read_index(spark, path)
    (
        encode_pq_codes(
            late.select("vec_id", "embedding"), codebook, centroids
        )
        .withColumn("batch_id", F.lit(7))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "list_id")
        .parquet(f"{path}/codes")
    )
    # every coarse list is probed (nprobe high), so the uncovered late
    # rows are inside the pruned scan and the guard must trip
    with pytest.raises(Exception, match="no attrs row"):
        pq_filtered_topk(
            spark,
            path,
            _query(spark),
            10,
            F.col("label").isin(1, 3, 5),
            nprobe=8,
        ).collect()
    build_attr_store(spark, emb.select("vec_id", "label"), path)
    rows = pq_filtered_topk(
        spark,
        path,
        _query(spark),
        10,
        F.col("label").isin(1, 3, 5),
        nprobe=8,
    ).collect()
    assert 0 < len(rows) <= 10


def test_upsert_vectors_reencodes_and_replays(spark, tmp_path):
    """upsert_vectors: the probe over the upserted store equals a
    fresh index built from the FINAL vector versions, visibly differs
    from the pre-upsert ranking, and replaying the same call
    converges; no vec_id is ever duplicated across generations."""
    from eventstream_fanout_spark.streaming.ann_ingest import (
        upsert_vectors,
    )

    emb = _emb(spark)
    pred = (F.col("vec_id") % 10 == 4) & (F.col("vec_id") > 20)
    revised = emb.where(pred).select(
        "vec_id",
        F.transform("embedding", lambda x: x * F.lit(0.5)).alias(
            "embedding"
        ),
    )
    final = emb.join(
        revised.select("vec_id"), "vec_id", "left_anti"
    ).unionByName(revised.join(
        emb.select("vec_id", "label"), "vec_id"
    ).select("vec_id", "embedding", "label"))

    path = str(tmp_path / "idx")
    build_pq_index(spark, emb, path)
    before = [tuple(r) for r in pq_probe_topk(
        spark, path, _query(spark), 10).collect()]
    upsert_vectors(spark, path, revised, batch_id=1)
    got = [tuple(r) for r in pq_probe_topk(
        spark, path, _query(spark), 10).collect()]

    ref_path = str(tmp_path / "idx_final")
    build_pq_index(spark, final, ref_path)
    expect = [tuple(r) for r in pq_probe_topk(
        spark, ref_path, _query(spark), 10).collect()]
    assert got == expect
    assert got != before  # the update visibly moved the ranking

    # replay converges
    upsert_vectors(spark, path, revised, batch_id=1)
    again = [tuple(r) for r in pq_probe_topk(
        spark, path, _query(spark), 10).collect()]
    assert again == expect

    # membership stays unique across generations
    codes = spark.read.parquet(f"{path}/codes")
    assert (
        codes.groupBy("vec_id").count().where(F.col("count") > 1).count()
        == 0
    )


def test_asof_probe_refuses_upsert_rewritten_history(spark, tmp_path):
    """ADVICE r8 item 2: upsert_vectors physically rewrites old code
    rows out of every generation, so an as-of probe BELOW the upsert
    generation would serve a state that never existed — it must raise
    via the marker-table guard.  At/above the upsert generation (and
    on a store that never upserted) as-of probes still work."""
    import pytest

    from eventstream_fanout_spark.streaming.ann_ingest import (
        upsert_vectors,
    )

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    build_pq_index(spark, emb, path)
    # no upserts yet: as-of works (the guard is absent, not just idle)
    pre = pq_probe_topk(
        spark, path, _query(spark), 10, upto_batch_id=0
    ).collect()
    assert len(pre) == 10

    revised = emb.where(F.col("vec_id") % 9 == 2).select(
        "vec_id",
        F.transform("embedding", lambda x: x * F.lit(0.5)).alias(
            "embedding"
        ),
    )
    upsert_vectors(spark, path, revised, batch_id=3)
    with pytest.raises(Exception, match="below upsert generation"):
        pq_probe_topk(
            spark, path, _query(spark), 10, upto_batch_id=2
        ).collect()
    ok = pq_probe_topk(
        spark, path, _query(spark), 10, upto_batch_id=3
    ).collect()
    assert len(ok) == 10
    live = pq_probe_topk(spark, path, _query(spark), 10).collect()
    assert [tuple(r) for r in ok] == [tuple(r) for r in live]


def test_asof_upsert_guard_fail_modes(spark, tmp_path):
    """ADVICE r9 items 1-2: an EMPTY upserts marker table must pass
    the as-of guard (nothing to refuse below — the NULL max must not
    raise an inscrutable null-message error), while a CORRUPT marker
    store must propagate its read error instead of silently disabling
    the refusal (fail-open would serve unreproducible history)."""
    import pytest

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    build_pq_index(spark, emb, path)

    # existing-but-empty marker table: probe works
    spark.createDataFrame([], "n_ids int, batch_id int").write.mode(
        "overwrite"
    ).parquet(f"{path}/upserts")
    ok = pq_probe_topk(
        spark, path, _query(spark), 10, upto_batch_id=0
    ).collect()
    assert len(ok) == 10

    # corrupt marker store: the read error propagates at plan time
    import shutil

    shutil.rmtree(f"{path}/upserts")
    os.makedirs(f"{path}/upserts", exist_ok=True)
    with open(f"{path}/upserts/part-corrupt.parquet", "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception):
        pq_probe_topk(
            spark, path, _query(spark), 10, upto_batch_id=0
        ).collect()


def test_attr_store_delta_maintenance_live_flow(spark, tmp_path):
    """VERDICT r9 item 2 (done-criterion): build -> stream-ingest ->
    upsert -> delete -> filtered probe, with NO intervening
    build_attr_store — the attrs rows ride each maintenance call into
    the same (batch_id, list_id) partitions as the codes, so the
    filtered result equals a fresh index+attrs built from the final
    corpus, and compaction folds the attrs store alongside."""
    from eventstream_fanout_spark.operators.ann_index import (
        build_attr_store,
        pq_filtered_topk,
    )
    from eventstream_fanout_spark.streaming.ann_ingest import (
        compact_index,
        delete_vectors,
        streaming_ann_index_sink,
        upsert_vectors,
    )

    emb = _emb(spark)
    pred = F.col("label").isin(1, 3, 5)

    # live store: build over evens, ingest odds (attrs ride along),
    # upsert a slice halved, erase a few ids
    path = str(tmp_path / "idx")
    evens = emb.where((F.col("vec_id") % 2 == 0) & (F.col("vec_id") != 0))
    odds = emb.where(F.col("vec_id") % 2 == 1)
    build_pq_index(spark, emb, path, corpus=evens)
    build_attr_store(spark, evens.select("vec_id", "label"), path)
    streaming_ann_index_sink(path)(
        odds.select("vec_id", "embedding", "label"), 1
    )
    revised = emb.where(
        (F.col("vec_id") % 10 == 4) & (F.col("vec_id") > 20)
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x * F.lit(0.5)).alias(
            "embedding"
        ),
        "label",
    )
    upsert_vectors(spark, path, revised, batch_id=2)
    doomed = [
        r["vec_id"]
        for r in emb.where(
            (F.col("vec_id") % 11 == 5) & (F.col("vec_id") > 20)
        ).select("vec_id").collect()
    ]
    delete_vectors(spark, path, doomed)
    got = [
        tuple(r)
        for r in pq_filtered_topk(
            spark, path, _query(spark), 10, pred, nprobe=2
        ).collect()
    ]

    # oracle twin: one-shot build from the FINAL corpus + fresh attrs
    final = (
        emb.join(revised.select("vec_id"), "vec_id", "left_anti")
        .select("vec_id", "embedding", "label")
        .unionByName(revised)
        .where(~F.col("vec_id").isin([int(d) for d in doomed]))
    )
    ref = str(tmp_path / "idx_ref")
    build_pq_index(spark, emb, ref, corpus=final.where(F.col("vec_id") != 0))
    build_attr_store(
        spark,
        final.where(F.col("vec_id") != 0).select("vec_id", "label"),
        ref,
    )
    expect = [
        tuple(r)
        for r in pq_filtered_topk(
            spark, ref, _query(spark), 10, pred, nprobe=2
        ).collect()
    ]
    assert got == expect and len(got) > 0

    # compaction folds attrs alongside codes; the probe still works
    compact_index(spark, path, upto_batch_id=10)
    gens = [
        r["batch_id"]
        for r in spark.read.parquet(f"{path}/attrs")
        .select("batch_id").distinct().collect()
    ]
    assert len(gens) == 1 and gens[0] < 0
    after = [
        tuple(r)
        for r in pq_filtered_topk(
            spark, path, _query(spark), 10, pred, nprobe=2
        ).collect()
    ]
    assert after == expect


def test_refit_index_recovers_attrs_and_asof(spark, tmp_path):
    """refit_index: (a) after churn the refit index equals a fresh
    fitted build over the final corpus; (b) an attrs side store is
    re-laid under the new list assignments — the filtered probe works
    with NO build_attr_store rerun; (c) as-of probes below the refit
    generation refuse (the marker generalizes the upsert marker);
    (d) the crash window between the two swap renames heals on
    re-run (recovery preamble restores the parked live index)."""
    import os

    import pytest

    from eventstream_fanout_spark.operators.ann_index import (
        build_attr_store,
        pq_filtered_topk,
    )
    from eventstream_fanout_spark.operators.similarity import (
        ivf_fit_centroids,
    )
    from eventstream_fanout_spark.streaming.ann_ingest import (
        refit_index,
        upsert_vectors,
    )

    emb = _emb(spark)
    revised = emb.where(
        (F.col("vec_id") % 10 == 4) & (F.col("vec_id") > 20)
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x * F.lit(0.5)).alias(
            "embedding"
        ),
        "label",
    )
    final_emb = (
        emb.select("vec_id", "embedding", "label")
        .join(revised.select("vec_id"), "vec_id", "left_anti")
        .unionByName(revised)
    )
    fit = lambda df: ivf_fit_centroids(  # noqa: E731
        df.where(F.col("vec_id") != 0).select("vec_id", "embedding"),
        n_iters=2,
    )

    path = str(tmp_path / "idx")
    build_pq_index(spark, emb, path, centroids=fit(emb))
    build_attr_store(spark, emb.where(F.col("vec_id") != 0)
                     .select("vec_id", "label"), path)
    upsert_vectors(spark, path, revised, batch_id=1)
    refit_index(spark, path, final_emb.select("vec_id", "embedding"),
                batch_id=2, centroids=fit(final_emb))

    ref = str(tmp_path / "idx_ref")
    build_pq_index(
        spark,
        final_emb,
        ref,
        corpus=final_emb.where(F.col("vec_id") != 0),
        centroids=fit(final_emb),
    )
    got = [tuple(r) for r in pq_probe_topk(
        spark, path, _query(spark), 10, nprobe=2).collect()]
    want = [tuple(r) for r in pq_probe_topk(
        spark, ref, _query(spark), 10, nprobe=2).collect()]
    assert got == want

    # (b) attrs re-laid under the new assignments — no rebuild needed
    filt = pq_filtered_topk(
        spark, path, _query(spark), 10, F.col("label").isin(1, 3, 5),
        nprobe=8,
    ).collect()
    assert 0 < len(filt) <= 10

    # (c) as-of below the refit generation refuses
    with pytest.raises(Exception, match="below upsert generation"):
        pq_probe_topk(
            spark, path, _query(spark), 10, upto_batch_id=1
        ).collect()

    # (d) crash between the two renames: live missing, park present
    os.rename(path, f"{path}.pre_refit")
    refit_index(spark, path, final_emb.select("vec_id", "embedding"),
                batch_id=3, centroids=fit(final_emb))
    assert not os.path.exists(f"{path}.pre_refit")
    assert not os.path.exists(f"{path}.refit_stage")
    again = [tuple(r) for r in pq_probe_topk(
        spark, path, _query(spark), 10, nprobe=2).collect()]
    assert again == want


def test_batch_filtered_probe_matches_singles_and_serves_stream(
    spark, tmp_path
):
    """Round 11 batch filtered serving: (a) pq_batch_probe_topk with
    attr_pred equals the single filtered probe run per query; (b) the
    filtered hybrid serving sink streams micro-batches against both
    attr stores, matching the batch operator, with checkpointed
    restart reprocessing nothing."""
    import os

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from eventstream_fanout_spark.operators.ann_index import (
        build_attr_store,
        pq_batch_probe_topk,
        pq_filtered_topk,
    )
    from eventstream_fanout_spark.operators.hybrid import (
        hybrid_batch_rrf,
    )
    from eventstream_fanout_spark.operators.text_index import (
        build_text_attr_store,
        build_text_index,
    )
    from eventstream_fanout_spark.sources.tables import load_table
    from eventstream_fanout_spark.streaming.fanout import (
        FanoutSink,
        start_fanout,
    )
    from eventstream_fanout_spark.streaming.hybrid_serve import (
        streaming_hybrid_probe_sink,
    )

    emb = _emb(spark)
    docs = load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "text", "lang"
    )
    apath = str(tmp_path / "ann_idx")
    tpath = str(tmp_path / "text_idx")
    build_pq_index(spark, emb, apath)
    build_attr_store(
        spark,
        emb.where(F.col("vec_id") != 0).select("vec_id", "label").join(
            docs.select(F.col("doc_id").alias("vec_id"), "lang"),
            "vec_id",
        ),
        apath,
    )
    build_text_index(spark, docs.select("doc_id", "text"), tpath)
    build_text_attr_store(spark, docs.select("doc_id", "lang"), tpath)

    pred = F.col("label").isin(1, 3, 5)
    queries = emb.where(F.col("vec_id").isin(1, 2, 3)).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    batch = pq_batch_probe_topk(
        spark, apath, queries, 5, nprobe=2, attr_pred=pred
    ).collect()
    got = {}
    for r in batch:
        got.setdefault(r["qid"], []).append((r["rank"], r["vec_id"]))
    for qid in (1, 2, 3):
        q = emb.where(F.col("vec_id") == qid).select("embedding")
        single = [
            r["vec_id"]
            for r in pq_filtered_topk(
                spark, apath, q, 6, pred, nprobe=2
            ).collect()
            if r["vec_id"] != qid
        ][:5]
        assert [v for _, v in sorted(got[qid])] == single, qid

    # (b) filtered hybrid serving stream
    evec = {
        r["vec_id"]: r["embedding"]
        for r in emb.where(F.col("vec_id").isin(1, 2)).collect()
    }
    rows = [
        Row(qid=1, terms=["spark", "window"], embedding=evec[1]),
        Row(qid=2, terms=["join"], embedding=evec[2]),
    ]
    schema = T.StructType(
        [
            T.StructField("qid", T.LongType()),
            T.StructField("terms", T.ArrayType(T.StringType())),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    src = str(tmp_path / "q_src")
    os.makedirs(src)
    spark.createDataFrame(rows, schema).toPandas().to_json(
        f"{src}/a.jsonl", orient="records", lines=True
    )
    out = str(tmp_path / "answers")

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
                    "hybrid-filtered",
                    streaming_hybrid_probe_sink(
                        tpath,
                        apath,
                        out,
                        attr_pred_text=F.col("lang") == "en",
                        attr_pred_vec=F.col("lang") == "en",
                    ),
                )
            ],
            checkpoint_dir=str(tmp_path / "ckpt"),
            query_name="hybrid-filtered-stream",
        )
        q.awaitTermination(300)

    run()
    answers = spark.read.parquet(out)
    sgot = {}
    for r in answers.collect():
        sgot.setdefault(r["qid"], []).append((r["rank"], r["doc_id"]))
    want = {}
    for r in hybrid_batch_rrf(
        spark,
        tpath,
        apath,
        spark.createDataFrame(rows, schema),
        k=5,
        nprobe=2,
        attr_pred_text=F.col("lang") == "en",
        attr_pred_vec=F.col("lang") == "en",
    ).collect():
        want.setdefault(r["qid"], []).append((r["rank"], r["doc_id"]))
    assert {q: sorted(v) for q, v in sgot.items()} == {
        q: sorted(v) for q, v in want.items()
    }
    n = answers.count()
    run()
    assert spark.read.parquet(out).count() == n


def test_filtered_asof_refusals_compose(spark, tmp_path):
    """The as-of + filtered composition inherits both sides' refusals:
    a filtered probe below an upsert generation raises via the marker
    guard (ANN), and a filtered as-of probe on an ERASED text store
    raises via the no-correction guard."""
    import pytest

    from eventstream_fanout_spark.operators.ann_index import (
        build_attr_store,
        pq_filtered_topk,
    )
    from eventstream_fanout_spark.operators.text_index import (
        bm25_topk_filtered,
        build_text_attr_store,
        build_text_index,
    )
    from eventstream_fanout_spark.sources.tables import load_table
    from eventstream_fanout_spark.streaming.ann_ingest import (
        upsert_vectors,
    )
    from eventstream_fanout_spark.streaming.text_ingest import (
        delete_docs,
    )

    emb = _emb(spark)
    apath = str(tmp_path / "idx")
    build_pq_index(spark, emb, apath)
    build_attr_store(
        spark,
        emb.where(F.col("vec_id") != 0).select("vec_id", "label"),
        apath,
    )
    pred = F.col("label").isin(1, 3, 5)
    ok = pq_filtered_topk(
        spark, apath, _query(spark), 10, pred, nprobe=8, upto_batch_id=0
    ).collect()
    assert len(ok) == 10
    revised = emb.where(
        (F.col("vec_id") % 10 == 4) & (F.col("vec_id") > 20)
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x * F.lit(0.5)).alias(
            "embedding"
        ),
        "label",
    )
    upsert_vectors(spark, apath, revised, batch_id=3)
    with pytest.raises(Exception, match="below upsert generation"):
        pq_filtered_topk(
            spark, apath, _query(spark), 10, pred, nprobe=8,
            upto_batch_id=2,
        ).collect()

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang"
    )
    tpath = str(tmp_path / "tidx")
    build_text_index(spark, docs.select("doc_id", "text"), tpath)
    build_text_attr_store(spark, docs.select("doc_id", "lang"), tpath)
    tok = bm25_topk_filtered(
        spark, tpath, ["spark", "join"], 10, F.col("lang") == "en",
        upto_batch_id=0,
    ).collect()
    assert len(tok) > 0
    doomed = [
        r["doc_id"]
        for r in docs.where(F.col("doc_id") % 7 == 3)
        .select("doc_id")
        .collect()
    ]
    delete_docs(spark, tpath, doomed)
    with pytest.raises(Exception, match="erasure is destructive"):
        bm25_topk_filtered(
            spark, tpath, ["spark", "join"], 10, F.col("lang") == "en",
            upto_batch_id=0,
        ).collect()


def test_add_attr_column_evolution_contracts(spark, tmp_path):
    """add_attr_column (VERDICT r11 item 4): (a) the widened store
    serves composed old+new-column filtered probes with no rebuild;
    (b) a colliding column name refuses; (c) a values relation
    missing a live vec_id refuses (coverage fail-closed) AND leaves
    the old store servable (the refusal pre-empts the swap); (d)
    as-of probes below the evolve generation refuse (the marker
    lands first); (e) the crash window between the swap renames
    heals on re-run."""
    import os

    import pytest

    from eventstream_fanout_spark.operators.ann_index import (
        build_attr_store,
        pq_filtered_topk,
    )
    from eventstream_fanout_spark.streaming.ann_ingest import (
        add_attr_column,
    )

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    build_pq_index(spark, emb, path)
    corpus = emb.where(F.col("vec_id") != 0)
    build_attr_store(spark, corpus.select("vec_id", "label"), path)

    values = emb.select("vec_id", (F.col("vec_id") % 7).alias("grp"))

    # (c) first — before any successful evolve: missing coverage
    # refuses and the OLD store still serves label-filtered probes
    with pytest.raises(Exception, match="has no value"):
        add_attr_column(
            spark, path, values.where(F.col("vec_id") % 3 != 1),
            batch_id=1,
        )
    still = pq_filtered_topk(
        spark, path, _query(spark), 5, F.col("label").isin(1, 3, 5),
        nprobe=8,
    ).collect()
    assert len(still) == 5
    assert not os.path.exists(f"{path}/attrs.evolve_stage")

    # (a) the successful evolve: composed filter, no rebuild
    add_attr_column(spark, path, values, batch_id=1)
    got = pq_filtered_topk(
        spark,
        path,
        _query(spark),
        10,
        F.col("label").isin(1, 3, 5) & F.col("grp").isin(2, 5),
        nprobe=8,
    ).collect()
    assert 0 < len(got) <= 10
    want_ids = {
        r["vec_id"]
        for r in corpus.where(
            F.col("label").isin(1, 3, 5) & (F.col("vec_id") % 7).isin(2, 5)
        ).collect()
    }
    assert all(r["vec_id"] in want_ids for r in got)

    # (b) additive only — same name again refuses
    with pytest.raises(Exception, match="already exist"):
        add_attr_column(spark, path, values, batch_id=2)

    # (d) the marker landed first: as-of below the evolve refuses
    with pytest.raises(Exception, match="below upsert generation"):
        pq_probe_topk(
            spark, path, _query(spark), 10, upto_batch_id=0
        ).collect()

    # (e) crash between the renames: attrs missing, park present —
    # re-running the SAME call heals
    os.rename(f"{path}/attrs", f"{path}/attrs.pre_evolve")
    values2 = emb.select(
        "vec_id", (F.col("vec_id") % 3).alias("tri")
    )
    add_attr_column(spark, path, values2, batch_id=3)
    assert not os.path.exists(f"{path}/attrs.pre_evolve")
    assert not os.path.exists(f"{path}/attrs.evolve_stage")
    healed = pq_filtered_topk(
        spark,
        path,
        _query(spark),
        10,
        F.col("grp").isin(2, 5) & (F.col("tri") == 0),
        nprobe=8,
    ).collect()
    assert all(
        r["vec_id"] % 7 in (2, 5) and r["vec_id"] % 3 == 0
        for r in healed
    )


def test_split_list_membership_routing_and_replay(spark, tmp_path):
    """split_list (VERDICT r11 item 5): (a) membership through the
    split is exact — the exhaustive probe equals the pre-split probe
    bit-for-bit (codes are list-independent, the manifest hides the
    rewrite); (b) the split list's members land in the two new lists
    and each member sits in its nearer new centroid's list; (c) probes
    with integer nprobe serve across the split; (d) replay after the
    commit point is cleanup-only (returns None) and converges; (e)
    as-of below the split generation refuses; (f) a member without a
    supplied embedding refuses before any write."""
    import pytest

    from eventstream_fanout_spark.functions.vectors import cosine
    from eventstream_fanout_spark.streaming.ann_ingest import split_list

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    build_pq_index(spark, emb, path)

    def _vd(rows):
        # membership + distances only: split members legitimately
        # change list_id
        return [(r["vec_id"], r["adc_dist"]) for r in rows]

    before = _vd(pq_probe_topk(
        spark, path, _query(spark), 10, nprobe=None).collect())
    counts = (
        spark.read.parquet(f"{path}/codes")
        .groupBy("list_id").count().collect()
    )
    hot = max(counts, key=lambda r: (r["count"], -r["list_id"]))
    hot_list = int(hot["list_id"])

    # (f) refuse on missing member embeddings, before any write
    with pytest.raises(Exception, match="supplies embeddings"):
        split_list(
            spark, path, hot_list,
            emb.where(F.col("vec_id") % 2 == 0), batch_id=1,
        )
    assert hot_list in {
        int(r["cid"])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    }

    got = split_list(spark, path, hot_list, emb, batch_id=1)
    assert got is not None
    c1, c2 = got

    # (a) exhaustive probe identical through the split
    after = _vd(pq_probe_topk(
        spark, path, _query(spark), 10, nprobe=None).collect())
    assert after == before

    # (b) old list gone; members routed to their nearer new centroid
    cents = {
        int(r["cid"]): r["ce"]
        for r in spark.read.parquet(f"{path}/centroids").collect()
    }
    assert hot_list not in cents and c1 in cents and c2 in cents
    moved = spark.read.parquet(f"{path}/codes").where(
        F.col("list_id").isin(c1, c2)
    )
    assert moved.count() == hot["count"]
    assert spark.read.parquet(f"{path}/codes").where(
        F.col("list_id") == hot_list
    ).count() == 0
    two = spark.createDataFrame(
        [(c1, cents[c1]), (c2, cents[c2])], ["cid", "ce"]
    )
    routed = (
        moved.select("vec_id")
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .crossJoin(F.broadcast(two))
        .select(
            "vec_id", "cid",
            cosine(F.col("embedding"), F.col("ce")).alias("c"),
        )
    )
    best = {
        r["vec_id"]: r["cid"]
        for r in routed.groupBy("vec_id").agg(
            F.max(F.struct(F.col("c"), (-F.col("cid")).alias("n")))
            .alias("m")
        ).select("vec_id", (-F.col("m.n")).alias("cid")).collect()
    }
    stored = {
        r["vec_id"]: r["list_id"] for r in moved.select(
            "vec_id", "list_id").collect()
    }
    assert stored == best

    # (c) integer-nprobe probe works across the split (9-list index)
    served = pq_probe_topk(
        spark, path, _query(spark), 10, nprobe=3
    ).collect()
    assert len(served) == 10

    # (d) replay after commit: cleanup-only, state unchanged
    assert split_list(spark, path, hot_list, emb, batch_id=1) is None
    again = _vd(pq_probe_topk(
        spark, path, _query(spark), 10, nprobe=None).collect())
    assert again == before

    # (e) as-of below the split generation refuses
    with pytest.raises(Exception, match="below upsert generation"):
        pq_probe_topk(
            spark, path, _query(spark), 10, upto_batch_id=0
        ).collect()


def test_split_then_ingest_then_compact_interplay(spark, tmp_path):
    """The maintenance matrix composes: after a split, (a) the ingest
    sink encodes new vectors against the SWAPPED centroids (9-list
    manifest — new arrivals can land in the split children), and (b)
    compact_index folds the multi-generation store while preserving
    the new list layout; probes stay correct throughout."""
    from eventstream_fanout_spark.streaming.ann_ingest import (
        compact_index,
        split_list,
        streaming_ann_index_sink,
    )

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    evens = emb.where(
        (F.col("vec_id") % 2 == 0) & (F.col("vec_id") != 0)
    )
    build_pq_index(spark, emb, path, corpus=evens)
    counts = (
        spark.read.parquet(f"{path}/codes")
        .groupBy("list_id").count().collect()
    )
    hot = int(max(counts, key=lambda r: (r["count"], -r["list_id"]))
              ["list_id"])
    got = split_list(spark, path, hot, emb, batch_id=1)
    assert got is not None
    c1, c2 = got

    # (a) post-split ingest assigns against the swapped manifest
    sink = streaming_ann_index_sink(path)
    sink(emb.where(F.col("vec_id") % 2 == 1), 2)
    stored_lists = {
        int(r["list_id"])
        for r in spark.read.parquet(f"{path}/codes")
        .select("list_id").distinct().collect()
    }
    assert hot not in stored_lists
    manifest = {
        int(r["cid"])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    }
    assert stored_lists <= manifest

    before = [
        (r["vec_id"], r["adc_dist"])
        for r in pq_probe_topk(
            spark, path, _query(spark), 10, nprobe=None
        ).collect()
    ]

    # (b) compaction folds the generations (watermark is exclusive:
    # upto=3 folds the frozen build and ingest generation 2), layout
    # preserved
    n = compact_index(spark, path, upto_batch_id=3)
    assert n > 0
    after = [
        (r["vec_id"], r["adc_dist"])
        for r in pq_probe_topk(
            spark, path, _query(spark), 10, nprobe=None
        ).collect()
    ]
    assert after == before
    assert {
        int(r["list_id"])
        for r in spark.read.parquet(f"{path}/codes")
        .select("list_id").distinct().collect()
    } <= manifest


def test_merge_lists_membership_and_replay(spark, tmp_path):
    """merge_lists (split_list's inverse): (a) membership exact
    through the merge — exhaustive probe identical; (b) the merged
    lists' members all land in the one new list, old cids leave the
    manifest; (c) serving probes work across the merge; (d) a
    partial-manifest id set refuses (all-or-nothing); (e) replay
    after commit is cleanup-only; (f) split-then-merge round-trips
    membership."""
    import pytest

    from eventstream_fanout_spark.streaming.ann_ingest import (
        merge_lists,
        split_list,
    )

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    build_pq_index(spark, emb, path)

    def _vd(rows):
        return [(r["vec_id"], r["adc_dist"]) for r in rows]

    before = _vd(pq_probe_topk(
        spark, path, _query(spark), 10, nprobe=None).collect())
    counts = (
        spark.read.parquet(f"{path}/codes")
        .groupBy("list_id").count().collect()
    )
    cold = sorted(counts, key=lambda r: (r["count"], r["list_id"]))[:2]
    cold_ids = [int(r["list_id"]) for r in cold]
    n_cold = sum(int(r["count"]) for r in cold)

    # (d) partial-manifest refusal before anything destructive
    with pytest.raises(Exception, match="all-or-nothing"):
        merge_lists(spark, path, [cold_ids[0], 9999], emb, batch_id=1)

    new_cid = merge_lists(spark, path, cold_ids, emb, batch_id=1)
    assert new_cid is not None

    # (a) exhaustive probe identical through the merge
    after = _vd(pq_probe_topk(
        spark, path, _query(spark), 10, nprobe=None).collect())
    assert after == before

    # (b) membership moved whole; manifest updated
    manifest = {
        int(r["cid"])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    }
    assert new_cid in manifest
    assert not (set(cold_ids) & manifest)
    moved = spark.read.parquet(f"{path}/codes").where(
        F.col("list_id") == new_cid
    )
    assert moved.count() == n_cold
    assert spark.read.parquet(f"{path}/codes").where(
        F.col("list_id").isin(cold_ids)
    ).count() == 0

    # (c) serving probe across the merge (7-list index)
    assert len(pq_probe_topk(
        spark, path, _query(spark), 10, nprobe=3).collect()) == 10

    # (e) replay after commit: cleanup-only, state unchanged
    assert merge_lists(spark, path, cold_ids, emb, batch_id=1) is None
    assert _vd(pq_probe_topk(
        spark, path, _query(spark), 10, nprobe=None).collect()) == before

    # (f) split the merged list back apart: membership still exact
    got = split_list(spark, path, new_cid, emb, batch_id=2)
    assert got is not None
    assert _vd(pq_probe_topk(
        spark, path, _query(spark), 10, nprobe=None).collect()) == before


def test_drop_attr_column_contracts(spark, tmp_path):
    """drop_attr_column: (a) remaining columns keep serving filtered
    probes; (b) a probe on the dropped column fails loudly; (c)
    replay after the swap is a recognized no-op; (d) dropping a
    missing column alongside a present one refuses (all-or-nothing);
    (e) dropping every metadata column refuses; (f) the add/drop
    crash windows share one heal (crash mid-drop, then add heals)."""
    import os

    import pytest

    from eventstream_fanout_spark.operators.ann_index import (
        build_attr_store,
        pq_filtered_topk,
    )
    from eventstream_fanout_spark.streaming.ann_ingest import (
        add_attr_column,
        drop_attr_column,
    )

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    build_pq_index(spark, emb, path)
    corpus = emb.where(F.col("vec_id") != 0)
    build_attr_store(spark, corpus.select("vec_id", "label"), path)
    add_attr_column(
        spark, path,
        emb.select("vec_id", (F.col("vec_id") % 7).alias("grp")),
        batch_id=1,
    )

    # (e) refusing to drop the last metadata column set
    with pytest.raises(Exception, match="delete the"):
        drop_attr_column(spark, path, ["label", "grp"], batch_id=2)
    # (d) all-or-nothing
    with pytest.raises(Exception, match="all-or-nothing"):
        drop_attr_column(spark, path, ["grp", "nope"], batch_id=2)

    assert drop_attr_column(spark, path, ["grp"], batch_id=2) is True
    # (a) remaining column serves
    got = pq_filtered_topk(
        spark, path, _query(spark), 5, F.col("label").isin(1, 3, 5),
        nprobe=8,
    ).collect()
    assert len(got) == 5
    # (b) dropped column fails loudly
    with pytest.raises(Exception):
        pq_filtered_topk(
            spark, path, _query(spark), 5, F.col("grp") == 1, nprobe=8
        ).collect()
    # (c) replay converges as a no-op
    assert drop_attr_column(spark, path, ["grp"], batch_id=2) is False

    # (f) crash mid-drop (attrs parked, live missing) healed by the
    # shared preamble on the next evolve op
    os.rename(f"{path}/attrs", f"{path}/attrs.pre_evolve")
    add_attr_column(
        spark, path,
        emb.select("vec_id", (F.col("vec_id") % 3).alias("tri")),
        batch_id=3,
    )
    healed = pq_filtered_topk(
        spark, path, _query(spark), 5,
        F.col("label").isin(1, 3, 5) & (F.col("tri") == 0),
        nprobe=8,
    ).collect()
    assert all(r["vec_id"] % 3 == 0 for r in healed)
