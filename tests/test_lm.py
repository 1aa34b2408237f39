"""Semantics pins for the n-gram LM family (operators/lm.py): add-one
smoothing arithmetic on a hand-solvable corpus, store associativity
(merged deltas == refit), CCNet bucket thresholds, DSIR ratio
direction, and the scale-hygiene plan shapes the family claims."""

from __future__ import annotations

from pyspark.sql import functions as F

DOC_SCHEMA = "doc_id long, lang string, text string"


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_SCHEMA)


class TestBigramLmFit:
    def test_counts_and_smoothing_hand_solved(self, spark):
        from eventstream_fanout_spark.operators.lm import (
            bigram_counts,
            context_counts,
            vocab_sizes,
        )

        # one training doc (doc_id 0 is even -> in train_slice):
        # "a b a b c" -> bigrams: a b, b a, a b, b c
        docs = _docs(spark, [(0, "en", "a b a b c")])
        big = {
            (r["lang"], r["bg"]): r["c_uw"]
            for r in bigram_counts(docs).collect()
        }
        assert big == {
            ("en", "a b"): 2,
            ("en", "b a"): 1,
            ("en", "b c"): 1,
        }
        ctx = {
            (r["lang"], r["ctx"]): r["c_u"]
            for r in context_counts(bigram_counts(docs)).collect()
        }
        # 'a' appears as context twice (both "a b"), 'b' twice
        assert ctx == {("en", "a"): 2, ("en", "b"): 2}
        v = vocab_sizes(docs).collect()
        assert [(r["lang"], r["vocab_v"]) for r in v] == [("en", 3)]

    def test_fluency_score_exact_value(self, spark):
        from eventstream_fanout_spark.operators.lm import (
            bigram_counts,
            context_counts,
            doc_fluency_scores,
            vocab_sizes,
        )

        train = _docs(spark, [(0, "en", "a b a b c")])
        big = bigram_counts(train)
        ctx = context_counts(big)
        voc = vocab_sizes(train)
        # score "a b" (seen twice, ctx 'a' total 2, V=3):
        # term = (2 + 3) / (2 + 1) = 5/3; davg quantizes to 1e-6
        scored = doc_fluency_scores(
            _docs(spark, [(7, "en", "a b")]), big, ctx, voc
        ).collect()
        assert len(scored) == 1
        assert abs(scored[0]["score"] - 1.666667) < 1e-9
        # fully-unseen bigram in a seen language:
        # term = (0 + 3) / (0 + 1) = 3.0 (pure smoothing mass)
        cold = doc_fluency_scores(
            _docs(spark, [(8, "en", "x y")]), big, ctx, voc
        ).collect()
        assert cold[0]["score"] == 3.0

    def test_unseen_language_drops(self, spark):
        from eventstream_fanout_spark.operators.lm import (
            bigram_counts,
            context_counts,
            doc_fluency_scores,
            vocab_sizes,
        )

        train = _docs(spark, [(0, "en", "a b")])
        big = bigram_counts(train)
        got = doc_fluency_scores(
            _docs(spark, [(9, "zz", "a b")]),
            big,
            context_counts(big),
            vocab_sizes(train),
        ).count()
        assert got == 0


class TestLmStoreAssociativity:
    def test_merged_deltas_equal_refit_and_replay_idempotent(
        self, spark, tmp_path
    ):
        from eventstream_fanout_spark.operators.lm import bigram_counts
        from eventstream_fanout_spark.streaming.lm_store import (
            ingest_lm_batch,
            serve_bigram_counts,
            serve_vocab_sizes,
        )

        root = str(tmp_path / "lm_store")
        a = _docs(spark, [(0, "en", "a b c"), (1, "en", "a b")])
        b = _docs(spark, [(2, "en", "b c d"), (3, "de", "x y")])
        ingest_lm_batch(spark, root, a, 0)
        ingest_lm_batch(spark, root, b, 1)
        # crash-replay batch 1: store must be unchanged
        ingest_lm_batch(spark, root, b, 1)

        served = {
            (r["lang"], r["bg"]): r["c_uw"]
            for r in serve_bigram_counts(spark, root, 1).collect()
        }
        refit = {
            (r["lang"], r["bg"]): r["c_uw"]
            for r in bigram_counts(a.unionByName(b)).collect()
        }
        assert served == refit
        vs = {
            r["lang"]: r["vocab_v"]
            for r in serve_vocab_sizes(spark, root, 1).collect()
        }
        # union of {a,b,c} and {b,c,d} = 4 for en; {x,y} = 2 for de
        assert vs == {"en": 4, "de": 2}

    def test_negative_delta_erasure_equals_survivor_refit(
        self, spark, tmp_path
    ):
        from eventstream_fanout_spark.operators.lm import bigram_counts
        from eventstream_fanout_spark.streaming.lm_store import (
            erase_lm_docs,
            ingest_lm_batch,
            serve_bigram_counts,
            serve_vocab_sizes,
        )

        root = str(tmp_path / "lm_store")
        keep = _docs(spark, [(0, "en", "a b c")])
        doomed = _docs(spark, [(2, "en", "c d")])
        ingest_lm_batch(spark, root, keep.unionByName(doomed), 0)
        erase_lm_docs(spark, root, doomed, 1)
        erase_lm_docs(spark, root, doomed, 1)  # crash-replay

        served = {
            (r["lang"], r["bg"]): r["c_uw"]
            for r in serve_bigram_counts(spark, root, 1).collect()
        }
        refit = {
            (r["lang"], r["bg"]): r["c_uw"]
            for r in bigram_counts(keep).collect()
        }
        # 'c d' fully cancelled and dropped; 'a b'/'b c' untouched
        assert served == refit == {("en", "a b"): 1, ("en", "b c"): 1}
        vs = {
            r["lang"]: r["vocab_v"]
            for r in serve_vocab_sizes(spark, root, 1).collect()
        }
        # 'd' leaves the vocabulary (only the doomed doc carried it);
        # 'c' survives via the kept doc
        assert vs == {"en": 3}

    def test_asof_gen_zero_excludes_later_batches(self, spark, tmp_path):
        from eventstream_fanout_spark.streaming.lm_store import (
            ingest_lm_batch,
            serve_bigram_counts,
        )

        root = str(tmp_path / "lm_store")
        ingest_lm_batch(spark, root, _docs(spark, [(0, "en", "a b")]), 0)
        ingest_lm_batch(spark, root, _docs(spark, [(2, "en", "a b")]), 1)
        got = serve_bigram_counts(spark, root, 0).collect()
        assert [(r["bg"], r["c_uw"]) for r in got] == [("a b", 1)]


class TestDsirFeatures:
    def test_feature_bucket_range_and_determinism(self, spark):
        from eventstream_fanout_spark.operators.lm import (
            N_FEATURE_BUCKETS,
            feature_bucket,
        )

        df = spark.range(200).select(
            feature_bucket(F.col("id").cast("string")).alias("fb")
        )
        mn, mx = df.agg(F.min("fb"), F.max("fb")).first()
        assert 0 <= mn and mx < N_FEATURE_BUCKETS
        # deterministic: same input -> same bucket on re-evaluation
        a = df.collect()
        b = df.collect()
        assert a == b

    def test_target_like_doc_outweighs_source_like(self, spark):
        """A document made of target-slice bigrams must weigh more
        than one made of non-target bigrams (ratio > 1 vs < 1)."""
        from eventstream_fanout_spark.plans.lm_queries import (
            dsir_importance_select,
        )

        # build a tiny sf-dir-like parquet with a skewed corpus
        import tempfile

        d = tempfile.mkdtemp(prefix="dsir_t_")
        docs = _docs(
            spark,
            [(i, "en", "alpha beta gamma") for i in range(6)]
            + [(10 + i, "de", "rot blau gruen") for i in range(6)],
        ).withColumn("source", F.lit("s")).withColumn(
            "n_chars", F.length("text").cast("bigint")
        )
        docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {
            r["doc_id"]: r["weight"]
            for r in dsir_importance_select(spark, d).collect()
        }
        en_w = out[0]
        de_w = out[10]
        assert en_w > 1.0 > de_w


class TestLmPlanShapes:
    def test_fit_topk_is_take_ordered_not_global_window(self, spark):
        from eventstream_fanout_spark.plans.lm_queries import ngram_lm_fit
        from tests.conftest import SF_ORACLE

        plan = ngram_lm_fit(spark, SF_ORACLE)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "Window" not in plan

    def test_bucket_thresholds_broadcast_no_window(self, spark):
        from eventstream_fanout_spark.plans.lm_queries import (
            lm_perplexity_bucket,
        )
        from tests.conftest import SF_ORACLE

        plan = (
            lm_perplexity_bucket(spark, SF_ORACLE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Window" not in plan  # no global quantile sort anywhere
        assert "BroadcastHashJoin" in plan  # |langs|-row threshold side


class TestLmStoreAssociativityProperty:
    def test_random_partitions_merge_to_refit(self, spark):
        """Property: for arbitrary small corpora and ANY 3-way batch
        split, merged store counts == full-refit counts and erasing a
        random batch == refitting on the rest (hypothesis-driven,
        bounded examples — the Spark round-trip per example is the
        cost ceiling)."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from eventstream_fanout_spark.operators.lm import bigram_counts

        words = st.sampled_from(["a", "b", "ab", "ba", "abc"])
        texts = st.lists(
            st.lists(words, min_size=2, max_size=5).map(" ".join),
            min_size=3,
            max_size=6,
        )

        @settings(max_examples=4, deadline=None)
        @given(texts=texts, split=st.lists(st.integers(0, 2), min_size=6, max_size=6))
        def run(texts, split):
            import tempfile

            from eventstream_fanout_spark.streaming.lm_store import (
                erase_lm_docs,
                ingest_lm_batch,
                serve_bigram_counts,
            )

            rows = [
                (i, "en", t) for i, t in enumerate(texts)
            ]
            docs = spark.createDataFrame(
                rows, "doc_id long, lang string, text string"
            )
            root = tempfile.mkdtemp(prefix="lm_prop_")
            batches = []
            for b in range(3):
                ids = [
                    i for i, _ in enumerate(texts) if split[i % 6] == b
                ]
                batch = docs.where(docs.doc_id.isin(ids or [-1]))
                ingest_lm_batch(spark, root, batch, b)
                batches.append(batch)
            served = {
                (r["lang"], r["bg"]): r["c_uw"]
                for r in serve_bigram_counts(spark, root, 2).collect()
            }
            refit = {
                (r["lang"], r["bg"]): r["c_uw"]
                for r in bigram_counts(docs).collect()
            }
            assert served == refit
            # erase batch 1 -> equals refit on batches 0 and 2
            erase_lm_docs(spark, root, batches[1], 3)
            after = {
                (r["lang"], r["bg"]): r["c_uw"]
                for r in serve_bigram_counts(spark, root, 3).collect()
            }
            rest = batches[0].unionByName(batches[2])
            refit2 = {
                (r["lang"], r["bg"]): r["c_uw"]
                for r in bigram_counts(rest).collect()
            }
            assert after == refit2

        run()


class TestLmStoreLayout:
    def test_lm_store_serve_merge_is_shuffle_free(self, spark, tmp_path):
        """Round-13 verdict item 2: both count stores are bucketed
        tables and serving's merge aggregates each bucket in place —
        the (lang, bg) / (lang, tok) groupBy has NO Exchange below it
        (vocab's |langs|-sized rollup above the merge is the only
        shuffle left, and it is bounded by the language set)."""
        from eventstream_fanout_spark.streaming.lm_store import (
            ingest_lm_batch,
            lm_table_name,
            serve_bigram_counts,
            serve_vocab_sizes,
        )

        docs = spark.createDataFrame(
            [(1, "en", "a b a b c"), (2, "en", "a b d"), (3, "fr", "x y")],
            "doc_id long, lang string, text string",
        )
        root = str(tmp_path / "lm_store")
        ingest_lm_batch(spark, root, docs.where("doc_id < 3"), 0)
        ingest_lm_batch(spark, root, docs.where("doc_id = 3"), 1)
        assert spark.catalog.tableExists(lm_table_name(root, "bigrams"))
        assert spark.catalog.tableExists(lm_table_name(root, "vocab"))

        big = (
            serve_bigram_counts(spark, root, 1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in big, big
        assert "SelectedBucketsCount" in big, big

        voc = (
            serve_vocab_sizes(spark, root, 1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # exactly one Exchange: the per-language rollup ABOVE the
        # bucket-local (lang, tok) merge
        assert voc.count("Exchange hashpartitioning") == 1, voc
        merge_part = voc.split("Exchange hashpartitioning", 1)[1]
        assert "SelectedBucketsCount" in merge_part, voc
        assert "Exchange" not in merge_part.replace(
            "ENSURE_REQUIREMENTS", ""
        ).split("]", 1)[1], voc


class TestKneserNey:
    def test_kn_term_hand_solved(self, spark):
        """Interpolated KN with D=3/4 on a corpus small enough to solve
        by hand, via the registered query's arithmetic: train = 'a b a
        b c' (doc 0, even = train slice).  Bigrams: (a b)x2, (b a)x1,
        (b c)x1 -> c(a)=3 ctx total... solved below against the exact
        4x-scaled integer formula the query ships."""
        import tempfile

        from eventstream_fanout_spark.plans.lm_queries import lm_kn_score

        # build a tiny sf_dir with one even (train) + one odd doc
        tmp = tempfile.mkdtemp(prefix="kn_sf_")
        spark.createDataFrame(
            [
                (0, "a b a b c", "en", "s1", 9),
                (1, "a b z", "en", "s1", 5),
            ],
            "doc_id long, text string, lang string, source string, "
            "n_chars int",
        ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")

        rows = {r["lang"]: r for r in lm_kn_score(spark, tmp).collect()}
        en = rows["en"]
        assert en["n_docs"] == 2

        # hand solution.  Train bigrams: ab:2, ba:1, bc:1.
        # c_u: a->2? no: ctx totals from bigram counts: c(a)=2 (ab),
        # wait: ctx 'a' appears in 'a b' twice -> c_u(a)=2; ctx 'b' in
        # 'b a' + 'b c' -> c_u(b)=2.  V=3 (a,b,c), T=3 types.
        # n1u: a->1 (only 'b' follows), b->2.  n1w: b->1 (follows a),
        # a->1, c->1.  T+V=6.
        def kn_seen(c_uw, c_u, n1u, n1w):
            return (4.0 * c_u * 6.0) / (
                max(4 * c_uw - 3, 0) * 6.0 + 3.0 * n1u * (n1w + 1)
            )

        def addone(c_uw, c_u, V=3):
            return (c_u + V) / (c_uw + 1)

        # doc 0 terms (bigrams ab, ba, ab, bc):
        t_ab = kn_seen(2, 2, 1, 1 + 1 - 1)  # n1w(b)=1
        t_ba = kn_seen(1, 2, 2, 1)  # n1w(a)=1
        t_bc = kn_seen(1, 2, 2, 1)  # n1w(c)=1
        s0_kn = (t_ab + t_ab + t_ba + t_bc) / 4
        a0 = (addone(2, 2) + addone(2, 2) + addone(1, 2) + addone(1, 2)) / 4
        # doc 1 terms (bigrams ab, bz): bz unseen token z ->
        # ctx b seen: kn_seen(0, 2, 2, 0)
        t_bz = kn_seen(0, 2, 2, 0)
        s1_kn = (kn_seen(2, 2, 1, 1) + t_bz) / 2
        a1 = (addone(2, 2) + addone(0, 2)) / 2
        import math

        assert math.isclose(
            en["mean_kn"], (s0_kn + s1_kn) / 2, rel_tol=1e-5
        ), (en["mean_kn"], (s0_kn + s1_kn) / 2)
        assert math.isclose(
            en["mean_addone"], (a0 + a1) / 2, rel_tol=1e-5
        ), (en["mean_addone"], (a0 + a1) / 2)


class TestLmStoreCompaction:
    def test_compact_preserves_serve_and_guards_below_watermark(
        self, spark, tmp_path
    ):
        """Manifest-committed compaction (r14): folding the delta
        partitions below the watermark must leave every as-of serve at
        or above watermark-1 EXACTLY unchanged (counts re-aggregate
        associatively), shrink the live partition count, and make
        below-watermark replays/serves fail loudly instead of wrong."""
        import pytest

        from eventstream_fanout_spark.streaming.lm_store import (
            compact_lm_store,
            erase_lm_docs,
            ingest_lm_batch,
            lm_table_name,
            serve_bigram_counts,
            serve_vocab_sizes,
        )

        docs = spark.createDataFrame(
            [
                (1, "en", "a b a b c"),
                (2, "en", "a b d"),
                (3, "en", "c d c"),
            ],
            "doc_id long, lang string, text string",
        )
        root = str(tmp_path / "lm_store")
        ingest_lm_batch(spark, root, docs.where("doc_id = 1"), 0)
        ingest_lm_batch(spark, root, docs.where("doc_id = 2"), 1)
        erase_lm_docs(spark, root, docs.where("doc_id = 2"), 2)
        before = sorted(
            tuple(r) for r in serve_bigram_counts(spark, root, 2).collect()
        )
        vbefore = sorted(
            tuple(r) for r in serve_vocab_sizes(spark, root, 2).collect()
        )

        folded = compact_lm_store(spark, root, upto_batch_id=3)
        assert folded == 6  # 3 partitions per table

        after = sorted(
            tuple(r) for r in serve_bigram_counts(spark, root, 2).collect()
        )
        vafter = sorted(
            tuple(r) for r in serve_vocab_sizes(spark, root, 2).collect()
        )
        assert before == after and vbefore == vafter

        # one frozen partition left per table
        parts = (
            spark.table(lm_table_name(root, "bigrams"))
            .select("batch_id")
            .distinct()
            .collect()
        )
        assert {int(r["batch_id"]) for r in parts} == {-1}

        # ingest continues above the watermark and composes exactly
        ingest_lm_batch(spark, root, docs.where("doc_id = 3"), 3)
        merged = {
            (r["lang"], r["bg"]): r["c_uw"]
            for r in serve_bigram_counts(spark, root, 3).collect()
        }
        assert merged[("en", "c d")] == 1 and merged[("en", "d c")] == 1

        # below-watermark replay and serve are refused
        with pytest.raises(ValueError, match="compaction"):
            ingest_lm_batch(spark, root, docs.where("doc_id = 1"), 0)
        with pytest.raises(ValueError, match="folded away"):
            serve_bigram_counts(spark, root, 0).collect()

        # second compaction folds the frozen gen + the new delta
        assert compact_lm_store(spark, root, upto_batch_id=4) == 2
        after2 = {
            (r["lang"], r["bg"]): r["c_uw"]
            for r in serve_bigram_counts(spark, root, 3).collect()
        }
        assert after2 == merged

    def test_autocompact_sink_bounds_partitions_and_skips_folded(
        self, spark, tmp_path
    ):
        """lm_ingest_sink(max_live_parts=2): the stream folds itself
        once the live delta count hits the bound, a replayed trigger
        whose groups fell below the watermark SKIPS them (idempotent
        outcome — the deltas are durable inside the frozen gen), and
        serving stays exactly refit-equal throughout."""
        from eventstream_fanout_spark.streaming.compaction import (
            live_batch_ids,
            manifest_watermark,
        )
        from eventstream_fanout_spark.streaming.lm_store import (
            lm_ingest_sink,
            lm_manifest_path,
            lm_table_name,
            serve_bigram_counts,
        )

        def _lm_watermark(spark, root, kind):
            return manifest_watermark(spark, lm_manifest_path(root, kind))

        def live_delta_ids(spark, root):
            return live_batch_ids(
                spark,
                lm_table_name(root, "bigrams"),
                lm_manifest_path(root, "bigrams"),
            )

        docs = spark.createDataFrame(
            [
                (0, "en", "a b a"),
                (1, "en", "b c"),
                (2, "en", "c a c"),
                (3, "en", "a b c"),
            ],
            "doc_id long, lang string, text string",
        )
        root = str(tmp_path / "lm_ac")
        sink = lm_ingest_sink(root, max_live_parts=2)
        for g in range(4):
            sink(
                docs.where(F.col("doc_id") == g).withColumn(
                    "grp", F.lit(g).cast("int")
                ),
                g,
            )
        # two folds happened: wm=4, one frozen partition, zero live
        assert _lm_watermark(spark, root, "bigrams") == 4
        assert live_delta_ids(spark, root) == []
        parts = {
            int(r["batch_id"])
            for r in spark.table(lm_table_name(root, "bigrams"))
            .select("batch_id")
            .distinct()
            .collect()
        }
        assert parts == {-2}
        served = {
            (r["lang"], r["bg"]): r["c_uw"]
            for r in serve_bigram_counts(spark, root, 3).collect()
        }
        # exact refit over all four docs: a b a | b c | c a c | a b c
        assert served == {
            ("en", "a b"): 2,
            ("en", "b a"): 1,
            ("en", "b c"): 2,
            ("en", "c a"): 1,
            ("en", "a c"): 1,
        }
        # replayed trigger below the watermark: skipped, store unchanged
        sink(
            docs.where(F.col("doc_id") == 1).withColumn(
                "grp", F.lit(1).cast("int")
            ),
            99,
        )
        assert _lm_watermark(spark, root, "bigrams") == 4
        after = {
            (r["lang"], r["bg"]): r["c_uw"]
            for r in serve_bigram_counts(spark, root, 3).collect()
        }
        assert after == served


class TestKneserNeyTrigram:
    def test_each_level_normalizes_over_vocab(self, spark):
        """Interpolated trigram KN sums to EXACTLY 1 over the training
        vocabulary at every backoff level — the property that makes it
        a probability distribution, and the reason the interpolation
        weight must be the TRIGRAM-table continuation-type count (a
        bigram-table N1+(v.) over-weights the tail whenever a bigram
        'v w' occurs only at document ends and super-normalizes)."""
        import math

        from eventstream_fanout_spark.operators.lm import (
            kn_trigram_terms,
            train_slice,
        )

        vocab = ["a", "b", "c", "d"]
        train_rows = [(0, "en", "a b c a b d"), (2, "en", "b c d a")]
        # one single-trigram probe doc per (level, w): odd ids so
        # train_slice (even ids) never sees them
        probes, nid = [], 1
        fams = {
            3: "a b",  # (u,v) seen as trigram context
            2: "d b",  # uv unseen, v=b seen as a middle
            1: "z z",  # v unseen anywhere -> pure continuation
        }
        fam_ids = {}
        for lvl, ctx in fams.items():
            fam_ids[lvl] = []
            for w in vocab:
                probes.append((nid, "en", f"{ctx} {w}"))
                fam_ids[lvl].append(nid)
                nid += 2
        docs = spark.createDataFrame(
            train_rows + probes, "doc_id long, lang string, text string"
        )
        terms = {
            int(r["doc_id"]): (int(r["lvl"]), float(r["term"]))
            for r in kn_trigram_terms(docs, train_slice(docs))
            .where(F.col("doc_id") % 2 == 1)
            .collect()
        }
        assert len(terms) == 12  # every probe doc has exactly 1 event
        for lvl, ids in fam_ids.items():
            assert {terms[i][0] for i in ids} == {lvl}, (lvl, terms)
            total_p = sum(1.0 / terms[i][1] for i in ids)
            assert math.isclose(total_p, 1.0, rel_tol=1e-12), (
                lvl,
                total_p,
            )
