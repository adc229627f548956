"""Versioned parquet tables: atomic-commit overwrite + time travel
(the Delta contracts the reference relies on, without a Delta runtime).
"""

from __future__ import annotations

import json
import os
import threading

import pytest

from instacart_medallion_lakehouse_spark import versioned as V


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


# inline frames with the driver testdata's region / nation columns, so
# the commit-protocol tests run where that testdata is absent
@pytest.fixture()
def region(spark):
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return spark.createDataFrame(
        list(enumerate(names)), "r_regionkey int, r_name string"
    )


@pytest.fixture()
def nation(spark):
    return spark.createDataFrame(
        [(k, f"NATION_{k}", k % 5) for k in range(25)],
        "n_nationkey int, n_name string, n_regionkey int",
    )


class TestCommitProtocol:
    def test_versions_increment_and_latest_wins(self, spark, region, nation, root):
        assert V.write_versioned(region, root) == 1
        assert V.write_versioned(nation, root) == 2
        latest = V.read_versioned(spark, root)
        assert latest.count() == nation.count()
        assert set(latest.columns) == set(nation.columns)

    def test_time_travel_reads_old_snapshot(self, spark, region, root):
        V.write_versioned(region, root)
        V.write_versioned(region.limit(2), root)
        assert V.read_versioned(spark, root, version=1).count() == region.count()
        assert V.read_versioned(spark, root).count() == 2

    def test_uncommitted_data_is_invisible(self, spark, region, root):
        V.write_versioned(region, root)
        # simulate a crashed writer: data dir exists, manifest never
        # lands (data dirs are writer-unique, so the crashed attempt
        # cannot collide with any later writer's directory)
        orphan = V._new_data_dir(root, 2)
        region.limit(1).write.parquet(orphan)
        assert V.list_versions(root) == [1]
        assert V.read_versioned(spark, root).count() == region.count()
        # the next commit is unaffected by the orphan (re-runnability:
        # a crashed writer must not wedge every later write) and the
        # orphan stays invisible
        assert V.write_versioned(region, root) == 2
        assert V.list_versions(root) == [1, 2]
        assert V.read_versioned(spark, root).count() == region.count()
        # fresh orphans survive vacuum (in-flight writer protection)...
        assert V.vacuum(root, keep_last=2) == []
        import os as _os

        assert _os.path.isdir(orphan)
        # ...but stale ones are reclaimed once past the retention
        # window (a side effect, not a removed committed version)
        assert V.vacuum(root, keep_last=2, orphan_retention_sec=0.0) == []
        assert not _os.path.isdir(orphan)
        # both committed snapshots remain readable throughout
        assert V.read_versioned(spark, root, version=1).count() == region.count()

    def test_concurrent_writers_never_share_a_data_dir(self, root):
        """Two writers racing for the same version number target
        DIFFERENT data directories, so the manifest-race winner's
        snapshot can never contain a mix of both writers' part-files
        (the loser's dir becomes an invisible orphan)."""
        a = V._new_data_dir(root, 1)
        b = V._new_data_dir(root, 1)
        assert a != b
        assert os.path.basename(a).startswith("v00000001_")

    def test_commit_race_single_winner(self, spark, region, root, monkeypatch):
        V.write_versioned(region, root)
        # race: both writers read "latest = 1" and target version 2; the
        # second to publish must FAIL (link EEXIST), not overwrite
        forged = V._manifest_path(root, 2)
        with open(forged, "w") as f:
            f.write('{"version": 2, "data": "_data/v00000001"}')
        monkeypatch.setattr(V, "list_versions", lambda _root: [1])
        with pytest.raises(RuntimeError, match="concurrent commit"):
            V.write_versioned(region, root)
        # the forged winner's manifest is untouched
        assert open(forged).read().startswith('{"version": 2')

    def test_history_and_vacuum(self, spark, region, root):
        for _ in range(3):
            V.write_versioned(region, root)
        h = V.history(root)
        assert [e["version"] for e in h] == [1, 2, 3]
        assert V.vacuum(root, keep_last=1) == [1, 2]
        assert V.list_versions(root) == [3]
        with pytest.raises(FileNotFoundError):
            V.read_versioned(spark, root, version=1)
        assert V.read_versioned(spark, root).count() == region.count()


class TestConcurrentCommits:
    def test_threads_publishing_one_version_leave_one_winner(
        self, root, monkeypatch
    ):
        """Two threads of ONE process publish the same version; both
        have staged their temp manifest when they reach the link. Exactly
        one wins, the published manifest is the winner's own, and the
        loser gets the race error."""
        os.makedirs(os.path.join(root, "_versions"))
        barrier = threading.Barrier(2, timeout=30)
        real_link = os.link

        def link_after_both_staged(src, dst):
            barrier.wait()
            return real_link(src, dst)

        monkeypatch.setattr(V.os, "link", link_after_both_staged)
        outcome = {}

        def publish(name):
            try:
                V._publish_manifest(root, 2, {"version": 2, "data": name})
                outcome[name] = "won"
            except Exception as e:  # any error is an outcome to assert on
                outcome[name] = e

        threads = [threading.Thread(target=publish, args=(n,)) for n in "AB"]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        winners = [n for n, o in outcome.items() if o == "won"]
        assert len(winners) == 1, outcome
        (loser,) = set("AB") - set(winners)
        assert isinstance(outcome[loser], RuntimeError), outcome
        assert "concurrent commit" in str(outcome[loser])
        with open(V._manifest_path(root, 2)) as f:
            assert json.load(f)["data"] == winners[0]
        assert os.listdir(os.path.join(root, "_versions")) == ["v00000002.json"]

    @pytest.mark.parametrize("rewrite", ["upsert", "compact"])
    def test_rewrite_fails_when_a_commit_lands_after_its_read(
        self, spark, root, monkeypatch, rewrite
    ):
        """A MERGE or compaction derived from version 1 must not publish
        over an append that committed version 2 after its read: it fails
        with the race error and the appended row stays in latest."""
        schema = "id long, v string"
        V.write_versioned(spark.createDataFrame([(1, "a"), (2, "b")], schema), root)
        appended = spark.createDataFrame([(3, "c")], schema)
        real_read = V.read_versioned
        reads = []

        def read_then_concurrent_append(spark_, root_, version=None):
            out = real_read(spark_, root_, version)
            if not reads:
                reads.append(version)
                V.append_versioned(appended, root_)
            return out

        monkeypatch.setattr(V, "read_versioned", read_then_concurrent_append)
        with pytest.raises(RuntimeError, match="concurrent commit"):
            if rewrite == "upsert":
                updates = spark.createDataFrame([(1, "A")], schema)
                V.upsert_versioned(spark, root, updates, key=["id"])
            else:
                V.compact_versioned(spark, root)
        assert V.list_versions(root) == [1, 2]
        latest = {r.id: r.v for r in real_read(spark, root).collect()}
        assert latest == {1: "a", 2: "b", 3: "c"}


class TestVersionedGoldPipeline:
    def test_reruns_append_history_and_time_travel(self, spark, sf_dir, tmp_path):
        from instacart_medallion_lakehouse_spark.pipeline import run_medallion
        from instacart_medallion_lakehouse_spark import versioned as V2

        out = str(tmp_path / "lake")
        r1 = run_medallion(spark, sf_dir, out)
        r2 = run_medallion(spark, sf_dir, out)
        mart = f"{out}/gold/mart_region_performance"
        assert [e["version"] for e in V2.history(mart)] == [1, 2]
        v1 = V2.read_versioned(spark, mart, version=1)
        latest = V2.read_versioned(spark, mart)
        assert v1.count() == latest.count() == r1.gold_counts[
            "mart_region_performance"
        ] == r2.gold_counts["mart_region_performance"]
        # partitioned mart snapshots still prune
        fct = f"{out}/gold/fct_lineitem"
        df = V2.read_versioned(spark, fct)
        assert "l_returnflag=R" in str(
            df.filter("l_returnflag = 'R'")
            ._jdf.queryExecution().executedPlan().toString()
        ) or df.filter("l_returnflag = 'R'").count() > 0


class TestStreamToVersioned:
    def test_checkpoint_prevents_duplicate_commits(self, spark, sf_dir, tmp_path):
        from instacart_medallion_lakehouse_spark.streaming.events import (
            read_events_stream,
            stream_to_versioned,
        )
        from instacart_medallion_lakehouse_spark.io import read_events

        root = str(tmp_path / "events_versioned")
        ckpt = str(tmp_path / "ckpt")
        stream = read_events_stream(spark, sf_dir).select(
            "event_id", "user_id", "event_type", "value"
        )
        stream_to_versioned(stream, root, ckpt)
        assert [e["version"] for e in V.history(root)] == [1]
        assert (
            V.read_versioned(spark, root).count()
            == read_events(spark, sf_dir).count()
        )
        # same checkpoint -> offsets recorded -> no new snapshot
        stream_to_versioned(stream, root, ckpt)
        assert [e["version"] for e in V.history(root)] == [1]
        # fresh checkpoint -> reprocess -> the batch APPENDS again (the
        # documented at-least-once append exposure: a redrain without
        # the original checkpoint duplicates rows, never corrupts)
        stream_to_versioned(stream, root, str(tmp_path / "ckpt2"))
        assert [e["version"] for e in V.history(root)] == [1, 2]
        assert (
            V.read_versioned(spark, root).count()
            == 2 * read_events(spark, sf_dir).count()
        )


class TestCompaction:
    def test_compaction_reduces_files_and_preserves_rows(
        self, spark, sf_dir, tmp_path
    ):
        import glob

        from instacart_medallion_lakehouse_spark.versioned import (
            compact_versioned,
        )

        root = str(tmp_path / "tbl")
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        # simulate a small-file mess: 16 files for a tiny table
        V.write_versioned(df.repartition(16), root)
        # resolve data dirs via the manifest (data-dir names carry a
        # writer-unique token and must never be reconstructed)
        h = {e["version"]: e["data"] for e in V.history(root)}
        before = glob.glob(f"{root}/{h[1]}/*.parquet")
        assert len(before) == 16
        v = compact_versioned(spark, root, target_file_bytes=1 << 30)
        assert v == 2
        h = {e["version"]: e["data"] for e in V.history(root)}
        after = glob.glob(f"{root}/{h[2]}/*.parquet")
        assert len(after) == 1
        assert V.read_versioned(spark, root).count() == df.count()
        # pre-compaction snapshot still reachable
        assert V.read_versioned(spark, root, version=1).count() == df.count()


class TestUpsert:
    def test_merge_updates_inserts_and_preserves(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from instacart_medallion_lakehouse_spark.versioned import (
            upsert_versioned,
        )

        root = str(tmp_path / "tbl")
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        V.write_versioned(region, root)
        updates = spark.createDataFrame(
            [(0, "RENAMED"), (99, "BRAND_NEW")], "r_regionkey long, r_name string"
        )
        v = upsert_versioned(spark, root, updates, key=["r_regionkey"])
        assert v == 2
        latest = {r["r_regionkey"]: r["r_name"] for r in
                  V.read_versioned(spark, root).collect()}
        assert latest[0] == "RENAMED"          # matched -> replaced
        assert latest[99] == "BRAND_NEW"       # unmatched -> inserted
        assert len(latest) == region.count() + 1
        # untouched rows carried over verbatim
        orig = {r["r_regionkey"]: r["r_name"] for r in region.collect()}
        for k, name in orig.items():
            if k != 0:
                assert latest[k] == name
        # time travel still shows the pre-merge state
        old = {r["r_regionkey"]: r["r_name"] for r in
               V.read_versioned(spark, root, version=1).collect()}
        assert old == orig

    def test_schema_mismatch_rejected(self, spark, sf_dir, tmp_path):
        import pytest as _pytest

        from instacart_medallion_lakehouse_spark.versioned import (
            upsert_versioned,
        )

        root = str(tmp_path / "tbl")
        V.write_versioned(spark.read.parquet(f"{sf_dir}/region.parquet"), root)
        bad = spark.createDataFrame([(1,)], "r_regionkey long")
        with _pytest.raises(ValueError, match="schema mismatch"):
            upsert_versioned(spark, root, bad, key=["r_regionkey"])


class TestSchemaEvolution:
    def test_versions_keep_their_own_schema(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        root = str(tmp_path / "tbl")
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        V.write_versioned(region, root)
        evolved = region.withColumn("r_tier", F.lit("gold"))
        V.write_versioned(evolved, root)
        assert "r_tier" not in V.read_versioned(spark, root, version=1).columns
        assert "r_tier" in V.read_versioned(spark, root).columns
        # the manifest records each version's schema for catalogs
        import json as _json

        with open(V._manifest_path(root, 2)) as f:
            fields = {x["name"] for x in _json.load(f)["schema"]["fields"]}
        assert "r_tier" in fields


class TestPartitionLayoutPreserved:
    def test_compaction_keeps_partition_dirs(self, spark, sf_dir, tmp_path):
        import glob

        from instacart_medallion_lakehouse_spark.versioned import (
            compact_versioned,
        )

        root = str(tmp_path / "tbl")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        V.write_versioned(
            orders.repartition(8), root, partition_by=["o_orderstatus"]
        )
        h = {e["version"]: e["data"] for e in V.history(root)}
        assert glob.glob(f"{root}/{h[1]}/o_orderstatus=*")
        v = compact_versioned(spark, root, target_file_bytes=1 << 30)
        # the compacted snapshot keeps the Hive partition layout -> every
        # post-compaction read of 'latest' still prunes on o_orderstatus
        h = {e["version"]: e["data"] for e in V.history(root)}
        parts = glob.glob(f"{root}/{h[v]}/o_orderstatus=*")
        assert parts, "compaction dropped the disk-partition layout"
        got = V.read_versioned(spark, root)
        assert got.count() == orders.count()
        assert set(got.columns) == set(orders.columns)

    def test_read_pins_committed_schema_for_partition_cols(
        self, spark, tmp_path
    ):
        # a string partition value that LOOKS numeric must come back as a
        # string: directory-name inference would drift it to int
        root = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [("01", 1.0), ("02", 2.0)], "bucket string, val double"
        )
        V.write_versioned(df, root, partition_by=["bucket"])
        got = V.read_versioned(spark, root)
        assert dict(got.dtypes)["bucket"] == "string"
        assert {r.bucket for r in got.collect()} == {"01", "02"}

    def test_upsert_preserves_partition_layout(self, spark, tmp_path):
        import glob

        from instacart_medallion_lakehouse_spark.versioned import (
            upsert_versioned,
        )

        root = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(1, "a", "P1"), (2, "b", "P2")], "id long, v string, part string"
        )
        V.write_versioned(df, root, partition_by=["part"])
        updates = spark.createDataFrame(
            [(2, "B", "P2"), (3, "c", "P1")], "id long, v string, part string"
        )
        v = upsert_versioned(spark, root, updates, key=["id"])
        h = {e["version"]: e["data"] for e in V.history(root)}
        assert glob.glob(f"{root}/{h[v]}/part=*")
        latest = {r.id: r.v for r in V.read_versioned(spark, root).collect()}
        assert latest == {1: "a", 2: "B", 3: "c"}


class TestUpsertDuplicateKeys:
    def test_duplicate_update_keys_rejected(self, spark, sf_dir, tmp_path):
        import pytest as _pytest

        from instacart_medallion_lakehouse_spark.versioned import (
            upsert_versioned,
        )

        root = str(tmp_path / "tbl")
        V.write_versioned(spark.read.parquet(f"{sf_dir}/region.parquet"), root)
        cols = spark.read.parquet(f"{sf_dir}/region.parquet").columns
        row = tuple([7] + ["x"] * (len(cols) - 1))
        dup = spark.createDataFrame([row, row], ", ".join(
            f"{c} long" if c == "r_regionkey" else f"{c} string" for c in cols
        ))
        with _pytest.raises(ValueError, match="duplicate"):
            upsert_versioned(spark, root, dup, key=["r_regionkey"])
        # table unchanged: the rejected merge committed nothing
        assert V.list_versions(root) == [1]

    def test_duplicate_snapshot_keys_do_not_multiply_change_feed(
        self, spark, sf_dir, tmp_path
    ):
        """A bootstrap write_versioned may commit duplicate keys (no
        MERGE ran, so nothing validated them). An upsert's recorded
        change feed must still emit exactly ONE row per update row —
        the matched-keys join dedups the snapshot side."""
        root = str(tmp_path / "tbl")
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        V.write_versioned(region.union(region.limit(1)), root)  # key 0 twice
        cols = region.columns
        upd = spark.createDataFrame(
            [tuple([0] + ["upd"] * (len(cols) - 1))],
            ", ".join(
                f"{c} long" if c == "r_regionkey" else f"{c} string"
                for c in cols
            ),
        )
        V.upsert_versioned(
            spark, root, upd, key=["r_regionkey"], change_data_feed=True
        )
        feed = V.read_change_feed(spark, root, from_version=1).collect()
        assert len(feed) == 1
        assert feed[0]["_op"] == "update"


class TestDiffVersions:
    def test_cdc_classifies_insert_update_delete(self, spark, tmp_path):
        root = str(tmp_path / "tbl")
        v1 = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "id long, name string, val double",
        )
        V.write_versioned(v1, root)
        v2 = spark.createDataFrame(
            [(1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0)],
            "id long, name string, val double",
        )
        V.write_versioned(v2, root)
        diff = {r.id: r for r in
                V.diff_versions(spark, root, 1, 2, key=["id"]).collect()}
        assert set(diff) == {2, 3, 4}
        assert diff[2]._op == "update" and diff[2].name == "B"
        assert diff[3]._op == "delete" and diff[3].name == "c"
        assert diff[4]._op == "insert" and diff[4].name == "d"

    def test_identical_versions_produce_empty_diff(self, spark, sf_dir, tmp_path):
        root = str(tmp_path / "tbl")
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        V.write_versioned(region, root)
        V.write_versioned(region, root)
        assert V.diff_versions(
            spark, root, 1, 2, key=["r_regionkey"]
        ).count() == 0

    def test_null_values_handled_null_safely(self, spark, tmp_path):
        root = str(tmp_path / "tbl")
        v1 = spark.createDataFrame([(1, None)], "id long, name string")
        V.write_versioned(v1, root)
        v2 = spark.createDataFrame([(1, "x")], "id long, name string")
        V.write_versioned(v2, root)
        diff = V.diff_versions(spark, root, 1, 2, key=["id"]).collect()
        assert len(diff) == 1 and diff[0]._op == "update"
        # and null -> null is NOT a change
        v3 = spark.createDataFrame([(1, "x")], "id long, name string")
        V.write_versioned(v3, root)
        assert V.diff_versions(spark, root, 2, 3, key=["id"]).count() == 0


class TestDiffHashInjection:
    def test_separator_straddling_values_are_detected_as_update(
        self, spark, root
    ):
        """Regression: the row hash was concat_ws('\\x1f') over
        stringified values, so ('x\\x1fy', 'z') and ('x', 'y\\x1fz')
        hashed identically and the update was silently dropped. The
        JSON-struct hash must classify it as an update."""
        a = spark.createDataFrame(
            [(1, "x\x1fy", "z")], ["id", "c1", "c2"]
        )
        b = spark.createDataFrame(
            [(1, "x", "y\x1fz")], ["id", "c1", "c2"]
        )
        V.write_versioned(a, root)
        V.write_versioned(b, root)
        diff = V.diff_versions(spark, root, 1, 2, key=["id"]).collect()
        assert len(diff) == 1 and diff[0]["_op"] == "update"

    def test_null_vs_sentinel_string_is_detected(self, spark, root):
        a = spark.createDataFrame([(1, None)], "id INT, c1 STRING")
        b = spark.createDataFrame([(1, "\x00")], "id INT, c1 STRING")
        V.write_versioned(a, root)
        V.write_versioned(b, root)
        diff = V.diff_versions(spark, root, 1, 2, key=["id"]).collect()
        assert len(diff) == 1 and diff[0]["_op"] == "update"


class TestAppendVersioned:
    def test_append_writes_only_the_batch(self, spark, sf_dir, root):
        """The manifest-level append: version N+1 references version N's
        data dirs plus ONE fresh dir holding only the appended rows —
        no rewrite of previously committed data."""
        import glob

        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        batch2 = region.selectExpr(
            "r_regionkey + 100 as r_regionkey", "r_name"
        ).limit(3)
        assert V.append_versioned(region, root) == 1  # bootstrap
        assert V.append_versioned(batch2, root) == 2
        h = V.history(root)
        assert isinstance(h[1]["data"], list) and len(h[1]["data"]) == 2
        # v2's first dir IS v1's dir — shared, not copied
        assert h[1]["data"][0] == h[0]["data"]
        # the new dir holds ONLY the appended batch's rows
        new_dir = f"{root}/{h[1]['data'][1]}"
        assert spark.read.parquet(new_dir).count() == 3
        assert (
            V.read_versioned(spark, root).count() == region.count() + 3
        )
        # time travel still reaches the pre-append snapshot
        assert V.read_versioned(spark, root, version=1).count() == region.count()

    def test_append_realigns_columns_and_rejects_mismatch(
        self, spark, sf_dir, root
    ):
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        V.write_versioned(region, root)
        shuffled = region.select("r_name", "r_regionkey")
        V.append_versioned(shuffled, root)
        latest = V.read_versioned(spark, root)
        assert latest.columns == region.columns
        assert latest.count() == 2 * region.count()
        bad = region.drop("r_name")
        with pytest.raises(ValueError, match="append schema mismatch"):
            V.append_versioned(bad, root)

    def test_vacuum_keeps_dirs_shared_with_retained_versions(
        self, spark, sf_dir, root
    ):
        """Dropping the pre-append version must NOT delete its data dir
        while the retained append version still references it."""
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        V.write_versioned(region, root)
        V.append_versioned(region.limit(2), root)
        shared = os.path.join(root, V.history(root)[0]["data"])
        assert V.vacuum(root, keep_last=1) == [1]
        assert os.path.isdir(shared)  # still referenced by v2
        assert V.read_versioned(spark, root).count() == region.count() + 2
        # once nothing references it, vacuum reclaims it: compact to a
        # fresh single-dir snapshot, then drop the append version
        V.compact_versioned(spark, root)
        assert V.vacuum(root, keep_last=1) == [2]
        assert not os.path.isdir(shared)
        assert V.read_versioned(spark, root).count() == region.count() + 2

    def test_compaction_folds_appended_dirs(self, spark, sf_dir, root):
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        V.append_versioned(region, root)
        for _ in range(3):
            V.append_versioned(region.limit(1), root)
        v = V.compact_versioned(spark, root, target_file_bytes=1 << 30)
        h = {e["version"]: e["data"] for e in V.history(root)}
        assert isinstance(h[v], str)  # compaction commits a plain snapshot
        assert V.read_versioned(spark, root).count() == region.count() + 3
        # appends resume on top of the compacted snapshot
        V.append_versioned(region.limit(1), root)
        assert V.read_versioned(spark, root).count() == region.count() + 4

    def test_partitioned_append_inherits_layout(self, spark, sf_dir, root):
        import glob

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_orderstatus"
        )
        V.write_versioned(orders, root, partition_by=["o_orderstatus"])
        V.append_versioned(orders.limit(10), root)
        h = V.history(root)
        new_dir = f"{root}/{h[1]['data'][1]}"
        # the batch dir is Hive-partitioned like the table
        assert glob.glob(f"{new_dir}/o_orderstatus=*")
        assert (
            V.read_versioned(spark, root).count() == orders.count() + 10
        )


class TestStreamToVersionedScale:
    def test_multi_batch_drain_writes_each_row_once(
        self, spark, sf_dir, tmp_path
    ):
        """The O(B) write-amplification contract: a B-batch drain lands
        B data dirs whose parquet holds the input rows EXACTLY once in
        total (the old read-union-rewrite sink wrote 1+2+...+B batch
        volumes — O(B²))."""
        import glob

        from instacart_medallion_lakehouse_spark.streaming.events import (
            stream_to_versioned,
        )

        src = str(tmp_path / "src")
        base = (
            spark.read.parquet(f"{sf_dir}/region.parquet")
            .select("r_regionkey", "r_name")
        )
        base.repartition(4).write.parquet(src)
        n_files = len(glob.glob(f"{src}/*.parquet"))
        assert n_files >= 2  # the test needs a genuinely multi-batch drain
        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        root = str(tmp_path / "tbl")
        stream_to_versioned(stream, root, str(tmp_path / "ckpt"))
        versions = V.list_versions(root)
        assert len(versions) >= 2  # one commit per non-empty batch
        assert V.read_versioned(spark, root).count() == base.count()
        # every row on disk exactly once: total rows across ALL data
        # dirs ever written == input rows (no snapshot rewrites)
        data_dirs = glob.glob(f"{root}/_data/v*")
        total = sum(spark.read.parquet(d).count() for d in data_dirs)
        assert total == base.count()
        # and time travel sees a strictly growing prefix
        counts = [
            V.read_versioned(spark, root, version=v).count() for v in versions
        ]
        assert counts == sorted(counts) and counts[-1] == base.count()


class TestAppendSchemaEvolution:
    def test_merge_schema_adds_columns_nulls_old_rows(
        self, spark, sf_dir, root
    ):
        from pyspark.sql import functions as F

        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        V.write_versioned(region, root)
        batch = region.limit(2).withColumn("r_tier", F.lit("gold"))
        with pytest.raises(ValueError, match="merge_schema=True to evolve"):
            V.append_versioned(batch, root)
        V.append_versioned(batch, root, merge_schema=True)
        latest = V.read_versioned(spark, root)
        assert latest.columns == [*region.columns, "r_tier"]
        tiers = [r["r_tier"] for r in latest.collect()]
        assert tiers.count("gold") == 2  # the evolved batch
        assert tiers.count(None) == region.count()  # pre-evolution rows
        # time travel sees the table AS IT WAS
        assert "r_tier" not in V.read_versioned(spark, root, version=1).columns
        # a later batch may OMIT the evolved column (reads back NULL)
        V.append_versioned(region.limit(1), root, merge_schema=True)
        assert V.read_versioned(spark, root).filter(
            "r_tier IS NULL"
        ).count() == region.count() + 1

    def test_merge_schema_rejects_type_conflict(self, spark, sf_dir, root):
        from pyspark.sql import functions as F

        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        V.write_versioned(region, root)
        bad = region.limit(1).withColumn(
            "r_regionkey", F.col("r_regionkey").cast("string")
        )
        with pytest.raises(ValueError, match="type conflict"):
            V.append_versioned(bad, root, merge_schema=True)
