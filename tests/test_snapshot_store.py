"""Snapshot/version-pointer store (sources/snapshot_store.py):
object-store-safe commits — immutable data files + one atomic
create-if-absent manifest publish.  Covers: append/read roundtrip,
replay idempotence, crash-before-commit invisibility, delete with
snapshot isolation + time travel, publish-race retry, compaction,
vacuum with age grace, and the emptied-table schema path."""

import json
import os

import pytest

from gg2rdf_spark.sources import snapshot_store as ss


def _triples(spark, n=200, tag="a"):
    from pyspark.sql import functions as F

    return (
        spark.range(n)
        .select(
            F.concat(F.lit("c"), (F.col("id") % 37).cast("string"))
            .alias("conv_id"),
            F.concat(F.lit(f"s-{tag}-"), F.col("id").cast("string"))
            .alias("subj"),
            F.lit("rdf:type").alias("pred"),
            F.md5(F.col("id").cast("string")).alias("obj"),
        )
    )


def _rows(df):
    cols = [c for c in df.columns if c != "conv_bucket"]
    return sorted(tuple(r) for r in df.select(*cols).collect())


class TestSnapshotStore:
    def test_append_read_roundtrip(self, spark, tmp_path):
        root = str(tmp_path / "st")
        t = _triples(spark)
        ss.commit_append(t, root, n_buckets=8)
        assert _rows(ss.read_triples(spark, root)) == _rows(t)
        # conv_bucket is a data column in the files, not a path hack
        assert "conv_bucket" in ss.read_triples(spark, root).columns

    def test_replay_run_id_skips(self, spark, tmp_path):
        root = str(tmp_path / "st")
        t = _triples(spark)
        r1 = ss.commit_append(t, root, n_buckets=8, run_id="job-1")
        r2 = ss.commit_append(t, root, n_buckets=8, run_id="job-1")
        assert not r1["skipped"] and r2["skipped"]
        assert ss.read_triples(spark, root).count() == t.count()
        assert ss.current_version(root) == r1["version"]

    def test_empty_append_publishes_no_version(self, spark, tmp_path):
        root = str(tmp_path / "st")
        ss.commit_append(_triples(spark), root, run_id="r1")
        v = ss.current_version(root)
        r = ss.commit_append(_triples(spark).limit(0), root, run_id="r2")
        assert r["n_triples"] == 0
        assert ss.current_version(root) == v
        assert ss.read_triples(spark, root).count() == 200

    def test_crash_before_commit_is_invisible(self, spark, tmp_path):
        root = str(tmp_path / "st")
        ss.commit_append(_triples(spark, tag="base"), root, n_buckets=8)
        v0 = ss.current_version(root)
        rows0 = _rows(ss.read_triples(spark, root))

        def boom():
            raise RuntimeError("crash between data write and publish")

        ss._commit_fail_injector = boom
        try:
            with pytest.raises(RuntimeError, match="crash between"):
                ss.commit_append(_triples(spark, tag="x"), root,
                                 n_buckets=8, run_id="crashed")
        finally:
            ss._commit_fail_injector = None
        # reader state untouched: same version, same rows, no recovery
        assert ss.current_version(root) == v0
        assert _rows(ss.read_triples(spark, root)) == rows0
        # the retry (same run_id) commits cleanly — no duplicates
        r = ss.commit_append(_triples(spark, tag="x"), root,
                             n_buckets=8, run_id="crashed")
        assert not r["skipped"]
        assert ss.read_triples(spark, root).count() == 400

    def test_delete_and_time_travel(self, spark, tmp_path):
        from pyspark.sql import functions as F

        root = str(tmp_path / "st")
        t = _triples(spark, n=300)
        ss.commit_append(t, root, n_buckets=8)
        v_pre = ss.current_version(root)
        gone = ["c3", "c17", "c30"]
        stats = ss.delete_conversations(spark, root, gone, n_buckets=8)
        expect_removed = t.filter(F.col("conv_id").isin(gone)).count()
        assert stats["triples_removed"] == expect_removed
        assert stats["buckets_rewritten"] >= 1
        survivors = ss.read_triples(spark, root)
        assert survivors.filter(F.col("conv_id").isin(gone)).count() == 0
        assert survivors.count() == 300 - expect_removed
        # snapshot isolation: the pre-delete version is still readable
        old = ss.read_triples(spark, root, version=v_pre)
        assert old.count() == 300
        # an empty id list deletes nothing and publishes no version
        v_post = ss.current_version(root)
        stats = ss.delete_conversations(spark, root, [])
        assert stats["triples_removed"] == 0
        assert ss.current_version(root) == v_post
        ops = [s["op"] for s in ss.snapshots(root)]
        assert ops == ["append", "delete"]

    def test_delete_everything_serves_schema(self, spark, tmp_path):
        root = str(tmp_path / "st")
        t = _triples(spark, n=50)
        ss.commit_append(t, root, n_buckets=4)
        all_ids = [r.conv_id for r in t.select("conv_id").distinct()
                   .collect()]
        ss.delete_conversations(spark, root, all_ids, n_buckets=4)
        empty = ss.read_triples(spark, root)
        assert empty.count() == 0
        assert set(empty.columns) == {"conv_id", "subj", "pred", "obj",
                                      "conv_bucket"}

    def test_publish_race_retries(self, spark, tmp_path):
        """A competing committer takes our version: publish must lose
        (EEXIST), re-read, and land on the next version with BOTH
        commits' rows visible."""
        root = str(tmp_path / "st")
        ss.commit_append(_triples(spark, tag="a"), root, n_buckets=4)
        cur = ss._load_current(root)
        # simulate the competitor: publish a no-op manifest at v+1
        competitor = dict(cur, version=cur["version"] + 1, op="append",
                          parent=cur["version"],
                          run_ids=cur["run_ids"] + ["competitor"])
        assert ss._publish(root, competitor)
        r = ss.commit_append(_triples(spark, tag="b"), root,
                             n_buckets=4, run_id="ours")
        assert r["version"] == cur["version"] + 2  # lost one race, won next
        man = ss._load_current(root)
        assert "competitor" in man["run_ids"] and "ours" in man["run_ids"]
        assert ss.read_triples(spark, root).count() == 400

    def test_compact_and_vacuum(self, spark, tmp_path):
        root = str(tmp_path / "st")
        for i in range(3):
            ss.commit_append(_triples(spark, n=60, tag=f"t{i}"), root,
                             n_buckets=4, run_id=f"r{i}")
        cur = ss._load_current(root)
        assert max(len(ds) for ds in cur["buckets"].values()) == 3
        ss.compact(spark, root, min_dirs=2)
        man = ss._load_current(root)
        assert all(len(ds) == 1 for ds in man["buckets"].values())
        assert ss.read_triples(spark, root).count() == 180
        n_tokens_before = len(os.listdir(os.path.join(root, "files")))
        # grace keeps all DATA (dirs are seconds old); manifest
        # retention (keep_last) applies immediately: 4 snapshots -> 1
        got = ss.vacuum(root, keep_last=1, grace_s=3600)
        assert got["data_dirs_removed"] == 0
        assert got["snapshots_removed"] == 3
        got = ss.vacuum(root, keep_last=1, grace_s=0.0)
        # 3 append tokens unreferenced after compaction; compact token kept
        assert got["data_dirs_removed"] == n_tokens_before - 1
        assert ss.read_triples(spark, root).count() == 180

    def test_manifest_is_the_file_index(self, spark, tmp_path):
        """Reads must not depend on listing data dirs: a garbage
        (unreferenced) file dir next to live ones is invisible."""
        root = str(tmp_path / "st")
        t = _triples(spark, n=100)
        ss.commit_append(t, root, n_buckets=4)
        # drop unreferenced garbage into files/ (a crashed commit)
        garbage = _triples(spark, n=40, tag="zzz")
        ss._write_data_files(
            ss.with_bucket(garbage, 4), root, "deadbeef-garbage")
        assert ss.read_triples(spark, root).count() == 100

    def test_bucket_spec_is_a_table_property(self, spark, tmp_path):
        """n_buckets is fixed at first append and recorded in the
        manifest: a later call with a different value must raise, not
        silently prune the wrong buckets (rows placed by
        pmod(hash, 8) are invisible to pruning computed with 4 — a
        mismatched delete would leave 'deleted' rows alive)."""
        from pyspark.sql import functions as F

        root = str(tmp_path / "st")
        t = _triples(spark, n=120)
        ss.commit_append(t, root, n_buckets=8)
        with pytest.raises(ValueError, match="bucket pruning"):
            ss.commit_append(_triples(spark, tag="b"), root, n_buckets=4)
        with pytest.raises(ValueError, match="bucket pruning"):
            ss.delete_conversations(spark, root, ["c3"], n_buckets=4)
        # omitting n_buckets uses the table's own spec
        ss.delete_conversations(spark, root, ["c3"])
        left = ss.read_triples(spark, root)
        assert left.filter(F.col("conv_id") == "c3").count() == 0
        # the property survives non-append commits (delete carries it)
        assert ss._load_current(root)["n_buckets"] == 8

    def test_read_conversations_prunes_buckets(self, spark, tmp_path):
        """Point lookup reads ONLY the buckets the requested conv_ids
        can hash into (manifest-level pruning, no directory listing):
        exact rows back, and the scan's input files stay confined to
        the target buckets' dirs."""
        from pyspark.sql import functions as F

        root = str(tmp_path / "st")
        t = _triples(spark, n=400)  # conv_ids c0..c36 across 16 buckets
        ss.commit_append(t, root, n_buckets=16)
        want = ["c3", "c17"]
        got = ss.read_conversations(spark, root, want)
        assert _rows(got) == _rows(t.filter(F.col("conv_id").isin(want)))
        # an empty id list reads no rows, with the table's schema
        none = ss.read_conversations(spark, root, [])
        assert none.count() == 0
        assert none.dtypes == ss.read_triples(spark, root).dtypes
        # pruning evidence: the lookup plan reads a strict subset of
        # the full table's files, exactly the target buckets' dirs
        man = ss._load_current(root)
        targets = set(ss._target_buckets(spark, want, 16))
        full = set(ss.read_triples(spark, root).inputFiles())
        touched = set(got.inputFiles())
        assert touched and touched < full
        allowed = {os.path.join(root, d)
                   for b in targets for d in man["buckets"].get(b, [])}
        assert all(any(f.split("://", 1)[-1].startswith(a)
                       for a in allowed) for f in touched)
        # time travel composes: pre-delete version still serves the row
        v1 = man["version"]
        ss.delete_conversations(spark, root, ["c3"])
        assert ss.read_conversations(spark, root, ["c3"]).count() == 0
        assert ss.read_conversations(
            spark, root, ["c3"], version=v1).count() > 0

    def test_read_changes_incremental_appends(self, spark, tmp_path):
        """Incremental append scan (SURVEY §A1 / Iceberg
        start-snapshot-id): (from, to] returns exactly the rows the
        appends in that range added, resolved purely from each
        manifest's recorded added_dirs."""
        root = str(tmp_path / "st")
        t1 = _triples(spark, n=60, tag="one")
        t2 = _triples(spark, n=40, tag="two")
        t3 = _triples(spark, n=20, tag="three")
        v1 = ss.commit_append(t1, root, n_buckets=4)["version"]
        v2 = ss.commit_append(t2, root, n_buckets=4)["version"]
        v3 = ss.commit_append(t3, root, n_buckets=4)["version"]
        assert _rows(ss.read_changes(spark, root, v1, v2)) == _rows(t2)
        assert _rows(ss.read_changes(spark, root, v2)) == _rows(t3)
        # from table creation = full history of appends
        assert _rows(ss.read_changes(spark, root, 0, v3)) \
            == _rows(t1.union(t2).union(t3))
        # empty range serves zero rows with the table schema
        empty = ss.read_changes(spark, root, v3, v3)
        assert empty.count() == 0
        assert "conv_id" in empty.columns

    def test_read_changes_compact_adds_nothing(self, spark, tmp_path):
        """A compact inside the range rewrites rows it does not add —
        the changes frame must not double-count them."""
        root = str(tmp_path / "st")
        v1 = ss.commit_append(_triples(spark, n=60, tag="a"), root,
                              n_buckets=4)["version"]
        t2 = _triples(spark, n=40, tag="b")
        ss.commit_append(t2, root, n_buckets=4)
        v3 = ss.compact(spark, root, min_dirs=2)["version"]
        assert _rows(ss.read_changes(spark, root, v1, v3)) == _rows(t2)

    def test_read_changes_delete_in_range_raises(self, spark, tmp_path):
        """Removed rows cannot be represented in an append-only changes
        frame: a delete inside the range must raise, not silently skip
        (Iceberg's incremental append scan has the same contract)."""
        root = str(tmp_path / "st")
        v1 = ss.commit_append(_triples(spark, n=60), root,
                              n_buckets=4)["version"]
        ss.delete_conversations(spark, root, ["c3"])
        t3 = _triples(spark, n=10, tag="post")
        v3 = ss.commit_append(t3, root, n_buckets=4)["version"]
        with pytest.raises(ValueError, match="delete"):
            ss.read_changes(spark, root, v1, v3)
        # a range strictly after the delete works
        assert _rows(ss.read_changes(spark, root, v3 - 1, v3)) == _rows(t3)

    def test_read_changes_legacy_manifest_fallback(self, spark, tmp_path):
        """Manifests written before added_dirs was recorded resolve the
        added dirs by diffing against the parent's bucket map."""
        root = str(tmp_path / "st")
        v1 = ss.commit_append(_triples(spark, n=30, tag="a"), root,
                              n_buckets=4)["version"]
        t2 = _triples(spark, n=20, tag="b")
        v2 = ss.commit_append(t2, root, n_buckets=4)["version"]
        sd = os.path.join(root, "snaps")
        for n in os.listdir(sd):
            if not n.endswith(".json"):
                continue
            p = os.path.join(sd, n)
            with open(p) as f:
                man = json.load(f)
            man.pop("added_dirs", None)
            with open(p, "w") as f:
                json.dump(man, f)
        assert _rows(ss.read_changes(spark, root, v1, v2)) == _rows(t2)

    def test_manifest_content_published_atomically(self, spark, tmp_path):
        """The published snapshot file is complete, parseable JSON with
        the full schema (the link-after-fsync publish contract)."""
        root = str(tmp_path / "st")
        ss.commit_append(_triples(spark, n=20), root, n_buckets=4)
        sd = os.path.join(root, "snaps")
        (name,) = [n for n in os.listdir(sd) if n.endswith(".json")]
        with open(os.path.join(sd, name)) as f:
            man = json.load(f)
        assert man["schema"] and man["buckets"] and man["op"] == "append"
