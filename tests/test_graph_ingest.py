"""Physical contracts of streaming/graph_ingest.py that the registered
pagerank_incremental_sim exercises only end-to-end: replay
byte-identity under the as-of read discipline, the add-only edge
contract (documented staleness), and delta-bounded touched sets."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )


TXT = "alpha beta gamma delta epsilon zeta"  # one 5-shingle window x2


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    from eventstream_fanout_spark.streaming.graph_ingest import (
        ingest_graph_batch,
    )

    path = str(tmp_path_factory.mktemp("graph") / "store")
    # batch 0: two sources sharing the rare shingle -> one edge pair
    ingest_graph_batch(
        spark,
        path,
        _docs(spark, [(1, "srcA", TXT), (2, "srcB", TXT)]),
        0,
        n_iter=2,
    )
    # batch 1: a third source joins the same shingle (df 2 -> 3, still
    # inside [2,6]) -> pairs among all three
    ingest_graph_batch(
        spark, path, _docs(spark, [(3, "srcC", TXT)]), 1, n_iter=2
    )
    return path


def test_replay_is_byte_identical_after_later_batches(spark, store):
    from eventstream_fanout_spark.streaming.graph_ingest import (
        ingest_graph_batch,
        read_rank_generations,
    )

    before_edges = sorted(
        (r["batch_id"], r["src"], r["dst"])
        for r in spark.read.parquet(f"{store}/edges").collect()
    )
    before_ranks = sorted(
        tuple(r) for r in read_rank_generations(spark, store).collect()
    )
    # replay batch 0 AFTER batch 1 landed: as-of reads (batch_id <= 0)
    # must keep every partition identical
    ingest_graph_batch(
        spark,
        store,
        _docs(spark, [(1, "srcA", TXT), (2, "srcB", TXT)]),
        0,
        n_iter=2,
    )
    after_edges = sorted(
        (r["batch_id"], r["src"], r["dst"])
        for r in spark.read.parquet(f"{store}/edges").collect()
    )
    after_ranks = sorted(
        tuple(r) for r in read_rank_generations(spark, store).collect()
    )
    assert before_edges == after_edges
    assert before_ranks == after_ranks


def test_delta_refresh_adds_new_pairs(spark, store):
    e0 = spark.read.parquet(f"{store}/edges").where("batch_id = 0")
    e1 = spark.read.parquet(f"{store}/edges").where("batch_id = 1")
    assert sorted(
        (r["src"], r["dst"]) for r in e0.collect()
    ) == [("srcA", "srcB"), ("srcB", "srcA")]
    # batch 1 re-emits the touched shingle's FULL pair set (df now 3)
    assert ("srcC", "srcA") in {
        (r["src"], r["dst"]) for r in e1.collect()
    }


def test_add_only_contract_keeps_stale_edges(spark, tmp_path):
    """A shingle whose df leaves [2,6] stops emitting NEW pairs, but
    pairs it already contributed stay until a full rebuild — the
    documented staleness the oracle replays."""
    from eventstream_fanout_spark.streaming.graph_ingest import (
        ingest_graph_batch,
    )

    path = str(tmp_path / "store")
    base = _docs(
        spark, [(i, f"s{i}", TXT) for i in range(1, 7)]  # df = 6
    )
    ingest_graph_batch(spark, path, base, 0, n_iter=1)
    n_edges_0 = (
        spark.read.parquet(f"{path}/edges").select("src", "dst")
        .distinct().count()
    )
    assert n_edges_0 == 6 * 5  # all ordered pairs at df = 6
    # batch 1 pushes df to 7 (> DF_MAX): no new pairs from this
    # shingle, but the 30 stale edges remain serving
    ingest_graph_batch(
        spark, path, _docs(spark, [(7, "s7", TXT)]), 1, n_iter=1
    )
    e1 = spark.read.parquet(f"{path}/edges").where("batch_id = 1")
    assert e1.count() == 0
    merged = (
        spark.read.parquet(f"{path}/edges").select("src", "dst")
        .distinct().count()
    )
    assert merged == 30


def test_rebuild_epoch_and_marker_pins(spark, tmp_path):
    """rebuild_graph_store: (a) drops stale pairs the add-only
    contract kept; (b) a replayed PRE-rebuild batch reproduces its
    original generation via the marker pin even though a newer epoch
    now exists; (c) a post-rebuild ingest serves rebuilt ∪ later."""
    from eventstream_fanout_spark.streaming.graph_ingest import (
        edges_asof,
        ingest_graph_batch,
        read_rank_generations,
        rebuild_graph_store,
    )

    path = str(tmp_path / "store")
    base = _docs(
        spark, [(i, f"s{i}", TXT) for i in range(1, 7)]  # df = 6
    )
    ingest_graph_batch(spark, path, base, 0, n_iter=1)
    # batch 1: df -> 7, add-only keeps the 30 stale pairs
    ingest_graph_batch(
        spark, path, _docs(spark, [(7, "s7", TXT)]), 1, n_iter=1
    )
    g1_before = sorted(
        tuple(r)
        for r in read_rank_generations(spark, path)
        .where("gen = 1")
        .collect()
    )
    # rebuild as-of batch 1: exact df = 7 > DF_MAX -> edge set empties
    rebuild_graph_store(spark, path, epoch=1)
    assert edges_asof(spark, path, 1).count() == 0
    # replay batch 1 AFTER the rebuild: the marker pin (no epoch was
    # visible when it first ran) keeps its generation byte-identical
    ingest_graph_batch(
        spark, path, _docs(spark, [(7, "s7", TXT)]), 1, n_iter=1
    )
    g1_after = sorted(
        tuple(r)
        for r in read_rank_generations(spark, path)
        .where("gen = 1")
        .collect()
    )
    assert g1_before == g1_after
    # batch 2: a second shingle text shared by two NEW sources —
    # serving as-of 2 = rebuilt(1) [empty] ∪ batch-2 pairs only
    other = "one two three four five six"
    ingest_graph_batch(
        spark,
        path,
        _docs(spark, [(8, "sX", other), (9, "sY", other)]),
        2,
        n_iter=1,
    )
    served = {
        (r["src"], r["dst"]) for r in edges_asof(spark, path, 2).collect()
    }
    assert served == {("sX", "sY"), ("sY", "sX")}


def test_postings_store_is_bucketed_and_refresh_join_shuffle_free(
    spark, store
):
    """Round-13 verdict item 1: the postings store is a g-bucketed
    TABLE and the refresh's store-vs-touched join reads it with NO
    Exchange on the store side — in the broadcast regime (small
    touched set) the store scan feeds the join directly, and in the
    at-scale SMJ regime (broadcast disabled) BOTH sides ride the
    bucketing with zero Exchange anywhere in the plan."""
    from eventstream_fanout_spark.streaming.graph_ingest import (
        postings_table_name,
        postings_touched_join,
    )

    assert spark.catalog.tableExists(postings_table_name(store))

    plan = (
        postings_touched_join(spark, store, 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SelectedBucketsCount" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan

    thresh_key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(thresh_key)
    spark.conf.set(thresh_key, "-1")
    try:
        smj = (
            postings_touched_join(spark, store, 1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set(thresh_key, prev)
    assert "SortMergeJoin" in smj, smj
    assert "Exchange" not in smj, smj
    assert smj.count("Bucketed: true") >= 2, smj


def test_postings_replay_overwrites_only_its_partition(spark, store):
    """insertInto under dynamic overwrite: replaying batch 0 must
    leave batch 1's postings untouched and rewrite batch 0's
    identically (the table-store replay mask)."""
    from eventstream_fanout_spark.streaming.graph_ingest import (
        ingest_graph_batch,
        read_postings,
    )

    before = sorted(
        tuple(r) for r in read_postings(spark, store).collect()
    )
    ingest_graph_batch(
        spark,
        store,
        _docs(spark, [(1, "srcA", TXT), (2, "srcB", TXT)]),
        0,
        n_iter=2,
    )
    after = sorted(
        tuple(r) for r in read_postings(spark, store).collect()
    )
    assert before == after


def test_assert_groups_whole_rejects_multi_file_groups(spark, tmp_path):
    """The data-keyed sinks' enforced precondition (r13 ADVICE 2): a
    grp whose rows span two input files fails loudly; one file per
    group passes."""
    from eventstream_fanout_spark.streaming.graph_ingest import (
        assert_groups_whole,
    )

    good = str(tmp_path / "good")
    rows = spark.createDataFrame(
        [(1, 0, "a"), (2, 0, "b")], "doc_id long, grp long, text string"
    )
    rows.coalesce(1).write.parquet(good)
    assert_groups_whole(spark.read.parquet(good))  # no raise

    bad = str(tmp_path / "bad")
    rows.where("doc_id = 1").coalesce(1).write.parquet(bad)
    rows.where("doc_id = 2").coalesce(1).write.mode("append").parquet(bad)
    with pytest.raises(ValueError, match="spans 2 input files"):
        assert_groups_whole(spark.read.parquet(bad))


def test_compact_postings_preserves_refresh_and_guards(spark, tmp_path):
    """Manifest-committed postings compaction (r14): refreshes above
    the watermark derive the identical edges/ranks from the frozen
    generation, replays and rebuild epochs below it are refused, and
    only the frozen partition remains live."""
    from eventstream_fanout_spark.streaming.graph_ingest import (
        compact_postings,
        ingest_graph_batch,
        read_postings,
        read_rank_generations,
        rebuild_graph_store,
    )

    path = str(tmp_path / "gstore")
    ingest_graph_batch(
        spark, path, _docs(spark, [(1, "srcA", TXT), (2, "srcB", TXT)]),
        0, n_iter=2,
    )
    ingest_graph_batch(
        spark, path, _docs(spark, [(3, "srcC", TXT)]), 1, n_iter=2
    )
    post_before = sorted(
        tuple(r)
        for r in read_postings(spark, path)
        .select("g", "source", "doc_id")
        .collect()
    )

    assert compact_postings(spark, path, upto_batch_id=2) == 2
    post_after = sorted(
        tuple(r)
        for r in read_postings(spark, path)
        .select("g", "source", "doc_id")
        .collect()
    )
    assert post_before == post_after  # no cross-batch dups here
    assert {
        int(r["batch_id"])
        for r in read_postings(spark, path)
        .select("batch_id")
        .distinct()
        .collect()
    } == {-1}

    # refresh above the watermark: batch 2 composes on the frozen base
    ingest_graph_batch(
        spark, path, _docs(spark, [(4, "srcD", TXT)]), 2, n_iter=2
    )
    gens = {
        int(r["gen"])
        for r in read_rank_generations(spark, path)
        .select("gen")
        .distinct()
        .collect()
    }
    assert gens == {0, 1, 2}

    # below-watermark replay / rebuild epoch: refused
    with pytest.raises(ValueError, match="watermark"):
        ingest_graph_batch(
            spark, path, _docs(spark, [(1, "srcA", TXT)]), 1
        )
    with pytest.raises(ValueError, match="watermark"):
        rebuild_graph_store(spark, path, epoch=0)
    # epoch == watermark - 1 is the oldest rebuildable point
    rebuild_graph_store(spark, path, epoch=1)


def test_graph_autocompact_sink_bounds_and_skips(spark, tmp_path):
    """graph_ingest_sink(max_live_parts=2): the stream folds its own
    postings once the live count hits the bound, a replayed trigger
    below the watermark skips (nodes/edges/rank gens already durable),
    and later refreshes compose on the frozen base."""
    from eventstream_fanout_spark.streaming.compaction import (
        live_batch_ids,
        manifest_watermark,
    )
    from eventstream_fanout_spark.streaming.graph_ingest import (
        graph_ingest_sink,
        postings_manifest_path,
        postings_table_name,
        read_rank_generations,
    )

    def _postings_watermark(spark, path):
        return manifest_watermark(spark, postings_manifest_path(path))

    def live_posting_ids(spark, path):
        return live_batch_ids(
            spark, postings_table_name(path), postings_manifest_path(path)
        )

    path = str(tmp_path / "gstore_ac")
    sink = graph_ingest_sink(path, max_live_parts=2)
    batches = {
        0: [(1, "srcA", TXT), (2, "srcB", TXT)],
        1: [(3, "srcC", TXT)],
        2: [(4, "srcD", TXT)],
    }
    for g, rows in batches.items():
        sink(
            _docs(spark, rows).withColumn("grp", F.lit(g).cast("int")),
            g,
        )
    # fold fired after group 1 (live {0,1} -> frozen); group 2 lives
    assert _postings_watermark(spark, path) == 2
    assert live_posting_ids(spark, path) == [2]
    gens = {
        int(r["gen"])
        for r in read_rank_generations(spark, path)
        .select("gen")
        .distinct()
        .collect()
    }
    assert gens == {0, 1, 2}
    ranks_before = sorted(
        tuple(r)
        for r in read_rank_generations(spark, path)
        .select("gen", "source", "rank_micro")
        .collect()
    )
    # replayed trigger below the watermark: skipped, store unchanged
    sink(
        _docs(spark, batches[1]).withColumn("grp", F.lit(1).cast("int")),
        99,
    )
    assert _postings_watermark(spark, path) == 2
    ranks_after = sorted(
        tuple(r)
        for r in read_rank_generations(spark, path)
        .select("gen", "source", "rank_micro")
        .collect()
    )
    assert ranks_before == ranks_after
