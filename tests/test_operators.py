"""Operator-level tests: linking, canonicalization, materialization
resume and delete, streaming — on small deterministic inputs."""

import os

import pytest


class TestLinking:
    def test_salted_equals_plain(self, spark):
        from gg2rdf_spark.operators.extract import parse_mentions
        from gg2rdf_spark.operators.linking import (
            entity_dictionary, link_mentions, link_mentions_salted,
        )
        from gg2rdf_spark.sources.synthsql import transcripts_sql

        tr = spark.sql(transcripts_sql(
            "(SELECT id AS doc_id FROM range(80))", dialect="spark"))
        m = parse_mentions(tr).persist()
        d = entity_dictionary(spark)
        plain = set(map(tuple, link_mentions(m, d)
                        .select("conv_id", "entity_id").collect()))
        salted = set(map(tuple, link_mentions_salted(m, d, salts=8)
                         .select("conv_id", "entity_id").collect()))
        assert plain == salted and len(plain) > 0


class TestCanonicalize:
    def test_cc_chains(self, spark):
        from gg2rdf_spark.operators.canonicalize import connected_components

        # two chains + one isolated edge
        edges = spark.createDataFrame(
            [("b", "a"), ("c", "b"), ("e", "d"), ("x", "y")],
            "src string, dst string",
        )
        comp = {r.node: r.component
                for r in connected_components(edges).collect()}
        assert comp["a"] == comp["b"] == comp["c"] == "a"
        assert comp["d"] == comp["e"] == "d"
        assert comp["x"] == comp["y"] == "x"

    def test_cc_long_chain_converges(self, spark):
        # 60-node chain: pointer-jumping must converge well under
        # max_iter, and the checksum-based fixpoint exit (round 5 —
        # replaces the per-round join-and-count) must not exit early
        # while labels are still moving
        from gg2rdf_spark.operators.canonicalize import connected_components

        n = 60
        edges = spark.createDataFrame(
            [(f"n{i:03d}", f"n{i - 1:03d}") for i in range(1, n)],
            "src string, dst string",
        )
        comp = {r.node: r.component
                for r in connected_components(edges).collect()}
        assert len(comp) == n
        assert set(comp.values()) == {"n000"}

    def test_cc_leaves_session_conf_untouched(self, spark):
        # round-4 ADVICE: the loop used to scope its data-sized shuffle
        # width via the session-global spark.sql.shuffle.partitions,
        # racing concurrently-built plans (eager-cache waves submit
        # from a thread pool).  Widths are now explicit repartitions;
        # the session conf must never change, even transiently.
        from gg2rdf_spark.operators.canonicalize import connected_components

        before = spark.conf.get("spark.sql.shuffle.partitions")
        edges = spark.createDataFrame(
            [("b", "a"), ("c", "b"), ("e", "d")], "src string, dst string")
        connected_components(edges).collect()
        assert spark.conf.get("spark.sql.shuffle.partitions") == before

    def test_canonical_triples_rewrite(self, spark):
        from gg2rdf_spark.operators.canonicalize import (
            canonical_triples, connected_components,
        )

        edges = spark.createDataFrame(
            [("<u2>", "<u1>")], "src string, dst string")
        labels = connected_components(edges)
        triples = spark.createDataFrame(
            [("c1", "<u2>", "a", "<k>"), ("c1", "<u1>", "a", "<k>")],
            "conv_id string, subj string, pred string, obj string",
        )
        out = canonical_triples(triples, labels).collect()
        assert len(out) == 1 and out[0].subj == "<u1>"


class TestDedup:
    def test_exact(self, spark):
        """canonical_triples drops exact duplicate triples within a
        conversation — also those that only become duplicates after
        the alias rewrite — and keeps the same triple in two
        conversations apart."""
        from gg2rdf_spark.operators.canonicalize import (
            canonical_triples, connected_components,
        )

        labels = connected_components(spark.createDataFrame(
            [("<u2>", "<u1>")], "src string, dst string"))
        triples = spark.createDataFrame(
            [("c1", "<u1>", "a", "<k>"), ("c1", "<u1>", "a", "<k>"),
             ("c1", "<u2>", "a", "<k>"), ("c2", "<u1>", "a", "<k>"),
             ("c1", "<u1>", "b", "<k>")],
            "conv_id string, subj string, pred string, obj string",
        )
        got = sorted(
            (r.conv_id, r.subj, r.pred, r.obj)
            for r in canonical_triples(triples, labels).collect())
        assert got == [("c1", "<u1>", "a", "<k>"), ("c1", "<u1>", "b", "<k>"),
                       ("c2", "<u1>", "a", "<k>")]


def _file_triples(spark, path, n):
    """``n`` one-triple conversations, written to parquet and read
    back, so the frame names its input files."""
    spark.createDataFrame(
        [(f"c{i}", 2, 0, f"<s{i}>", "a", "<k>", 0) for i in range(n)],
        "conv_id string, block int, subj_ord long, subj string, "
        "pred string, obj string, obj_ord long",
    ).write.parquet(path)
    return spark.read.parquet(path)


class TestMaterialize:
    def test_resume_skips_done_buckets(self, spark, tmp_path):
        """With resume the run id names the input files: a rerun over
        the same files is skipped before anything is written."""
        from gg2rdf_spark.sources import snapshot_store as ss
        from gg2rdf_spark.sources.materialize import (
            materialize, read_triples,
        )

        t = _file_triples(spark, str(tmp_path / "in"), 40)
        path = str(tmp_path / "sink")
        r1 = materialize(t, path, n_buckets=8)
        assert not r1["skipped"] and r1["n_triples"] == 40
        assert read_triples(spark, path).count() == 40
        n_files = len(os.listdir(os.path.join(path, "files")))
        # second run: same input files → same run id → full skip
        r2 = materialize(t, path, n_buckets=8)
        assert r2["skipped"] and r2["n_triples"] == 0
        assert r2["run_id"] == r1["run_id"]
        assert ss.current_version(path) == r1["version"]
        assert len(os.listdir(os.path.join(path, "files"))) == n_files
        assert read_triples(spark, path).count() == 40
        # without resume every call commits under a fresh run id
        r3 = materialize(t, path, n_buckets=8, resume=False)
        assert not r3["skipped"] and r3["run_id"] != r1["run_id"]
        assert read_triples(spark, path).count() == 80

    def test_resume_needs_input_files(self, spark, tmp_path):
        """A frame that reads no files has no input to name: resume
        raises instead of sharing a run id with another such frame —
        also over a persisted frame, whose plan hides its files."""
        from gg2rdf_spark.sources.materialize import materialize

        path = str(tmp_path / "sink")
        with pytest.raises(ValueError, match="no input files"):
            materialize(spark.range(3).selectExpr(
                "cast(id as string) as conv_id"), path)
        cached = _file_triples(spark, str(tmp_path / "in"), 3).persist()
        try:
            with pytest.raises(ValueError, match="no input files"):
                materialize(cached, path)
        finally:
            cached.unpersist()
        assert not os.path.exists(path)

    def test_crash_before_publish_then_rerun_commits_once(
        self, spark, tmp_path
    ):
        """A crash between the data-file write and the publish leaves
        nothing visible; the rerun over the same input commits every
        triple exactly once, and a further rerun is skipped."""
        from gg2rdf_spark.pipeline import KGPipeline
        from gg2rdf_spark.sources import snapshot_store as ss
        from gg2rdf_spark.sources.materialize import (
            materialize, read_triples,
        )
        from gg2rdf_spark.sources.synthsql import transcripts_sql

        inp = str(tmp_path / "in")
        spark.sql(transcripts_sql(
            "(SELECT id AS doc_id FROM range(20))", dialect="spark")
        ).write.parquet(inp)
        path = str(tmp_path / "sink")

        def triples():
            return KGPipeline(spark.read.parquet(inp), cache=False).triples()

        def boom():
            raise RuntimeError("injected crash before publish")

        ss._commit_fail_injector = boom
        try:
            with pytest.raises(RuntimeError, match="before publish"):
                materialize(triples(), path, n_buckets=8)
        finally:
            ss._commit_fail_injector = None
        assert ss.current_version(path) is None

        r = materialize(triples(), path, n_buckets=8)
        assert not r["skipped"]
        assert materialize(triples(), path, n_buckets=8)["skipped"]
        want = triples()
        got = read_triples(spark, path).select(*want.columns)
        assert got.count() == r["n_triples"] == want.count() > 0
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


class TestStreaming:
    def test_foreachbatch_incremental(self, spark, tmp_path):
        """With a live checkpoint, a second run commits only the
        conversations in new input files, as one new snapshot whose
        changes equal the batch pipeline over those conversations."""
        from gg2rdf_spark.pipeline import KGPipeline
        from gg2rdf_spark.sources import snapshot_store as ss
        from gg2rdf_spark.sources.synthsql import transcripts_sql
        from gg2rdf_spark.streaming.incremental import (
            stream_transcripts_snapshots,
        )

        in_dir = str(tmp_path / "in")
        root = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")
        tr = spark.sql(transcripts_sql(
            "(SELECT id AS doc_id FROM range(30))", dialect="spark"))
        tr.coalesce(1).write.mode("overwrite").parquet(in_dir)

        stream_transcripts_snapshots(
            spark, in_dir, root, ckpt).awaitTermination(300)
        n1 = ss.read_triples(spark, root).count()
        v1 = ss.current_version(root)
        assert n1 > 500

        # second batch of NEW conversations → appended incrementally
        tr2 = spark.sql(transcripts_sql(
            "(SELECT id + 1000 AS doc_id FROM range(10))", dialect="spark"))
        tr2.coalesce(1).write.mode("append").parquet(in_dir)
        stream_transcripts_snapshots(
            spark, in_dir, root, ckpt).awaitTermination(300)
        assert ss.current_version(root) > v1
        expect = KGPipeline(tr2, cache=False).triples() \
            .select("conv_id", "subj", "pred", "obj")
        changes = ss.read_changes(spark, root, v1) \
            .select("conv_id", "subj", "pred", "obj")
        assert changes.count() == expect.count() > 0
        assert changes.exceptAll(expect).count() == 0
        assert expect.exceptAll(changes).count() == 0
        assert ss.read_triples(spark, root).count() == n1 + expect.count()

    @pytest.mark.slow
    def test_foreachbatch_snapshot_sink_exactly_once(self, spark, tmp_path):
        """Snapshot-store streaming sink: at-least-once foreachBatch +
        run-id-idempotent commit_append = exactly-once while the
        checkpoint lives (a crash-redelivered batch within one
        checkpoint generation commits nothing twice).  Deleting the
        checkpoint starts a fresh run-id namespace (round-5 ADVICE):
        the restarted batch 0 — which may cover old AND new input — is
        re-processed instead of being silently skipped against the old
        generation's batch-0 run id, i.e. checkpoint loss degrades to
        at-least-once (visible duplicates), never to silent loss."""
        import shutil

        from gg2rdf_spark.sources import snapshot_store as ss
        from gg2rdf_spark.sources.synthsql import transcripts_sql
        from gg2rdf_spark.streaming.incremental import (
            stream_transcripts_snapshots,
        )

        in_dir = str(tmp_path / "in")
        root = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")
        tr = spark.sql(transcripts_sql(
            "(SELECT id AS doc_id FROM range(30))", dialect="spark"))
        tr.coalesce(1).write.mode("overwrite").parquet(in_dir)

        stream_transcripts_snapshots(
            spark, in_dir, root, ckpt).awaitTermination(300)
        n1 = ss.read_triples(spark, root).count()
        v1 = ss.current_version(root)
        assert n1 > 500

        # same-generation idempotence: re-running with the LIVE
        # checkpoint finds no new files and commits nothing
        stream_transcripts_snapshots(
            spark, in_dir, root, ckpt).awaitTermination(300)
        assert ss.read_triples(spark, root).count() == n1
        assert ss.current_version(root) == v1

        # checkpoint loss + NEW input arriving before the restart: the
        # redelivered batch 0 covers old+new files together.  The old
        # bare-batch-id scheme skipped it entirely (silent loss of the
        # new conversations); the salted scheme re-commits everything —
        # old rows duplicated (at-least-once), new rows present
        tr2 = spark.sql(transcripts_sql(
            "(SELECT id + 1000 AS doc_id FROM range(10))", dialect="spark"))
        tr2.coalesce(1).write.mode("append").parquet(in_dir)
        shutil.rmtree(ckpt)
        stream_transcripts_snapshots(
            spark, in_dir, root, ckpt).awaitTermination(300)
        n2 = ss.read_triples(spark, root).count()
        new_rows = ss.read_changes(spark, root, v1).count()
        assert new_rows == n1 + (n2 - 2 * n1)  # old replayed + new rows
        # no silent loss: the new conversations' rows are present
        assert n2 - 2 * n1 > 0
        # and the replay is itself idempotent within the new generation
        stream_transcripts_snapshots(
            spark, in_dir, root, ckpt).awaitTermination(300)
        assert ss.read_triples(spark, root).count() == n2

    @pytest.mark.slow
    def test_legacy_checkpoint_keeps_unsalted_run_ids(self, spark, tmp_path):
        """A checkpoint written before run ids were salted holds offset
        state but no gg2rdf-run-token, and its batches were committed as
        'batch-{id}'.  When Spark replays such a batch after the
        upgrade, the runner must reuse the unsalted id so the store
        skips it instead of committing it a second time."""
        import os

        from gg2rdf_spark.pipeline import KGPipeline
        from gg2rdf_spark.sources import snapshot_store as ss
        from gg2rdf_spark.sources.synthsql import transcripts_sql
        from gg2rdf_spark.streaming.incremental import (
            stream_transcripts_snapshots,
        )

        in_dir = str(tmp_path / "in")
        root = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")
        spark.sql(transcripts_sql(
            "(SELECT id AS doc_id FROM range(10))", dialect="spark")
        ).coalesce(1).write.parquet(in_dir)
        # a live checkpoint with batch 0 planned (offsets/0) ...
        stream_transcripts_snapshots(
            spark, in_dir, str(tmp_path / "scratch"), ckpt
        ).awaitTermination(300)
        assert os.listdir(os.path.join(ckpt, "offsets"))
        # ... from before the token, and crashed after the sink commit
        # but before Spark's own commit: batch 0 will be replayed
        os.remove(os.path.join(ckpt, "gg2rdf-run-token"))
        for name in ("0", ".0.crc"):
            os.remove(os.path.join(ckpt, "commits", name))
        # the store already holds that batch under the legacy id
        ss.commit_append(
            KGPipeline(spark.read.parquet(in_dir), cache=False).triples(),
            root, run_id="batch-0")
        v1 = ss.current_version(root)
        n1 = ss.read_triples(spark, root).count()
        assert n1 > 100

        stream_transcripts_snapshots(
            spark, in_dir, root, ckpt).awaitTermination(300)
        assert ss.current_version(root) == v1
        assert ss.read_triples(spark, root).count() == n1
        with open(os.path.join(ckpt, "gg2rdf-run-token")) as f:
            assert f.read() == ""


class TestDelete:
    def test_delete_conversations(self, spark, tmp_path):
        """A5 delete analog on the bulk sink: removing conversations
        rewrites only their buckets (gg2rdf deletes the .ttl of a
        removed .xml, action_worker.ts:179-190)."""
        from gg2rdf_spark.sources import snapshot_store as ss
        from gg2rdf_spark.sources.materialize import (
            materialize, read_triples,
        )

        t = _file_triples(spark, str(tmp_path / "in"), 30)
        path = str(tmp_path / "sink")
        materialize(t, path, n_buckets=4)
        assert read_triples(spark, path).count() == 30
        stats = ss.delete_conversations(spark, path, ["c1", "c2", "c3"])
        assert stats["triples_removed"] == 3
        assert 1 <= stats["buckets_rewritten"] <= 3
        left = read_triples(spark, path)
        assert left.count() == 27
        assert left.filter("conv_id in ('c1','c2','c3')").count() == 0

    def test_delete_large_id_list_uses_join_path(
        self, spark, tmp_path, monkeypatch
    ):
        """Above _ISIN_MAX the conv_id membership switches from a
        literal IN to a broadcast semi/anti join (a million-id IN
        bloats the plan linearly); forcing the threshold to 0 must
        give byte-identical delete semantics and column order."""
        from gg2rdf_spark.sources import snapshot_store as ss

        monkeypatch.setattr(ss, "_ISIN_MAX", 0)
        t = spark.createDataFrame(
            [(f"c{i}", 2, 0, f"<s{i}>", "a", "<k>", 0) for i in range(30)],
            "conv_id string, block int, subj_ord long, subj string, "
            "pred string, obj string, obj_ord long",
        )
        path = str(tmp_path / "sink")
        ss.commit_append(t, path, n_buckets=4)
        stats = ss.delete_conversations(spark, path, ["c1", "c2", "c3"])
        assert stats["triples_removed"] == 3
        left = ss.read_triples(spark, path)
        assert left.count() == 27
        assert left.filter("conv_id in ('c1','c2','c3')").count() == 0
        # join path must not reorder columns vs the filter path
        assert left.columns == t.columns + ["conv_bucket"]

    def test_delete_all_conversations_keeps_sink_readable(
        self, spark, tmp_path
    ):
        """Deleting EVERY conversation of the bulk sink leaves no data
        file; the manifest's schema keeps it readable as an empty
        frame with the original columns."""
        from gg2rdf_spark.sources import snapshot_store as ss
        from gg2rdf_spark.sources.materialize import (
            materialize, read_triples,
        )

        t = _file_triples(spark, str(tmp_path / "in"), 6)
        path = str(tmp_path / "sink")
        materialize(t, path, n_buckets=4)
        stats = ss.delete_conversations(
            spark, path, [f"c{i}" for i in range(6)])
        assert stats["triples_removed"] == 6
        left = read_triples(spark, path)
        assert left.count() == 0
        assert left.columns == t.columns + ["conv_bucket"]
        # a fresh delete against the emptied sink is also a no-op
        stats2 = ss.delete_conversations(spark, path, ["c0"])
        assert stats2["triples_removed"] == 0

    def test_delete_crash_before_swap_keeps_sink_readable(
        self, spark, tmp_path
    ):
        """Kill a delete between writing the survivor files and
        publishing the new version (the pointer swap): the sink must
        still read the FULL original data and a retry must succeed."""
        from gg2rdf_spark.sources import snapshot_store as ss

        t = spark.createDataFrame(
            [(f"c{i}", 2, 0, f"<s{i}>", "a", "<k>", 0) for i in range(20)],
            "conv_id string, block int, subj_ord long, subj string, "
            "pred string, obj string, obj_ord long",
        )
        path = str(tmp_path / "sink")
        v = ss.commit_append(t, path, n_buckets=4)["version"]

        def boom():
            raise RuntimeError("injected crash before swap")

        ss._commit_fail_injector = boom
        try:
            with pytest.raises(RuntimeError, match="injected"):
                ss.delete_conversations(spark, path, ["c5"])
        finally:
            ss._commit_fail_injector = None
        # sink unchanged and fully readable after the crash
        assert ss.current_version(path) == v
        assert ss.read_triples(spark, path).count() == 20
        # retry succeeds
        stats = ss.delete_conversations(spark, path, ["c5"])
        assert stats["triples_removed"] == 1
        assert ss.read_triples(spark, path).count() == 19

    def test_streaming_batch_replay_idempotent(self, spark, tmp_path):
        """foreachBatch is at-least-once: a batch that Spark replays
        after a crash between the sink commit and its own commit reuses
        the salted run id, so the store skips it; a genuinely new batch
        appends."""
        from gg2rdf_spark.sources import snapshot_store as ss
        from gg2rdf_spark.sources.synthsql import transcripts_sql
        from gg2rdf_spark.streaming.incremental import (
            stream_transcripts_snapshots,
        )

        in_dir = str(tmp_path / "in")
        root = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")
        spark.sql(transcripts_sql(
            "(SELECT id AS doc_id FROM range(10))", dialect="spark")
        ).coalesce(1).write.parquet(in_dir)
        stream_transcripts_snapshots(
            spark, in_dir, root, ckpt).awaitTermination(300)
        v1 = ss.current_version(root)
        n1 = ss.read_triples(spark, root).count()
        assert n1 > 100

        # crash after the sink commit, before Spark's own commit:
        # batch 0 is replayed on restart
        for name in ("0", ".0.crc"):
            os.remove(os.path.join(ckpt, "commits", name))
        stream_transcripts_snapshots(
            spark, in_dir, root, ckpt).awaitTermination(300)
        assert os.path.exists(os.path.join(ckpt, "commits", "0"))
        assert ss.current_version(root) == v1
        assert ss.read_triples(spark, root).count() == n1

        # a genuinely new batch appends
        spark.sql(transcripts_sql(
            "(SELECT id + 1000 AS doc_id FROM range(3))", dialect="spark")
        ).coalesce(1).write.mode("append").parquet(in_dir)
        stream_transcripts_snapshots(
            spark, in_dir, root, ckpt).awaitTermination(300)
        assert ss.current_version(root) > v1
        assert ss.read_triples(spark, root).count() > n1


class TestParseOrdering:
    def test_counter_g_ord_equals_window_row_number(self, spark):
        """Round 4 moved g_ord from a mention-level row_number window
        to a running counter inside the conv-sorted Arrow parse; the
        two must be indistinguishable (the reference's alreadyCited
        fold is order-sensitive, gg2rdf.ts:1102-1143).  Exercises
        multi-mention turns, multi-turn convs, and convs interleaved
        across input partitions."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from gg2rdf_spark.operators.extract import parse_mentions

        def turn(i):
            return (
                "[[taxonomicName _section=nomenclature genus=Aus"
                f" species=s{i}]]Aus s{i}[[/]] then "
                f"[[figureCitation figureDoi=d{i}]]Fig {i}[[/]] and "
                f"[[materialsCitation country=C{i}]]mat[[/]]"
            )

        rows = [
            (f"c{c:03d}", t, "assistant", turn(t), None)
            for c in range(40) for t in range(5)
        ]
        tr = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, "
            "tool string",
        ).repartition(7)  # interleave convs across partitions
        m = parse_mentions(tr).persist()
        w = Window.partitionBy("conv_id").orderBy("turn_idx", "start")
        ref = m.drop("g_ord").withColumn("g_ord", F.row_number().over(w))
        cols = ["conv_id", "turn_idx", "start", "kind", "g_ord"]
        diff = (
            m.select(*cols).exceptAll(ref.select(*cols)).count()
            + ref.select(*cols).exceptAll(m.select(*cols)).count()
        )
        assert m.count() == 40 * 5 * 3
        assert diff == 0
        m.unpersist()


class TestRound6Layout:
    """The engine's results must not depend on whether its
    per-conversation frame is persisted."""

    def _transcripts(self, spark, n=40):
        from gg2rdf_spark.sources.synthsql import transcripts_sql

        return spark.sql(transcripts_sql(
            f"(SELECT id AS doc_id FROM range({n}))", dialect="spark"))

    def test_pipeline_triples_cached_equals_uncached(self, spark):
        """cache=True (the persisted per-conversation frame, bulk jobs)
        vs cache=False (the streaming per-batch path) — identical
        triples."""
        from gg2rdf_spark.pipeline import KGPipeline

        tr = self._transcripts(spark).persist()
        tr.count()
        a = sorted(map(tuple, KGPipeline(tr, cache=True).triples().collect()))
        b = sorted(map(tuple, KGPipeline(tr, cache=False).triples().collect()))
        assert a == b and len(a) > 100
        tr.unpersist()

    def test_empty_transcripts(self, spark):
        """An empty input gives three empty outputs on both paths."""
        from gg2rdf_spark.pipeline import KGPipeline

        tr = self._transcripts(spark).limit(0)
        for cache in (True, False):
            pipe = KGPipeline(tr, cache=cache)
            assert [pipe.triples().count(), pipe.status().count(),
                    pipe.turtle().count()] == [0, 0, 0]
            pipe.kg.unpersist()
