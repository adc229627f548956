"""Streaming SOURCE over versioned tables (Spark 4 Python DataSource
API): version-number offsets, per-added-dir partitions, rewrite
handling — the Delta streaming-table-read contract on the manifest
store (streaming/versioned_source.py).
"""

from __future__ import annotations

import os

import pytest

from instacart_medallion_lakehouse_spark import versioned as V
from instacart_medallion_lakehouse_spark.streaming.versioned_source import (
    VersionedStreamDataSource,
    _added_dirs,
)


@pytest.fixture(scope="module")
def vsource_spark(spark):
    spark.dataSource.register(VersionedStreamDataSource)
    return spark


def _drain(sdf, out, ckpt, timeout=180):
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(timeout), "drain did not finish"


class TestVersionedStreamSource:
    def test_full_then_incremental_drain(self, vsource_spark, sf_dir, tmp_path):
        spark = vsource_spark
        root = str(tmp_path / "tbl")
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        V.write_versioned(region, root)
        V.append_versioned(region.limit(2), root)
        sdf = spark.readStream.format("versioned").option("path", root).load()
        assert sdf.schema == region.schema  # pinned from the manifest
        _drain(sdf, out, ckpt)
        n = region.count()
        assert spark.read.parquet(out).count() == n + 2
        # a new append is picked up INCREMENTALLY (checkpointed offsets:
        # only version 3's added dir is read, never a re-scan)
        V.append_versioned(region.limit(3), root)
        _drain(sdf, out, ckpt)
        assert spark.read.parquet(out).count() == n + 5
        # fully drained: another trigger commits nothing new
        _drain(sdf, out, ckpt)
        assert spark.read.parquet(out).count() == n + 5

    def test_rewrite_raises_by_default_and_skips_on_option(
        self, vsource_spark, sf_dir, tmp_path
    ):
        spark = vsource_spark
        root = str(tmp_path / "tbl")
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        V.write_versioned(region, root)
        sdf = spark.readStream.format("versioned").option("path", root).load()
        _drain(sdf, out, ckpt)
        V.append_versioned(region.limit(1), root)
        V.compact_versioned(spark, root)  # a row-preserving REWRITE
        from pyspark.errors.exceptions.captured import StreamingQueryException

        with pytest.raises(StreamingQueryException, match="snapshot\\s+rewrite"):
            _drain(sdf, out, ckpt)
        skip = (
            spark.readStream.format("versioned")
            .option("path", root)
            .option("on_rewrite", "skip")
            .load()
        )
        _drain(skip, out, ckpt)
        # the append's row arrived once; the compaction emitted nothing
        assert spark.read.parquet(out).count() == region.count() + 1

    def test_starting_version_skips_history(
        self, vsource_spark, sf_dir, tmp_path
    ):
        spark = vsource_spark
        root = str(tmp_path / "tbl")
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        V.write_versioned(region, root)  # v1: history to skip
        V.append_versioned(region.limit(2), root)  # v2
        sdf = (
            spark.readStream.format("versioned")
            .option("path", root)
            .option("starting_version", "2")
            .load()
        )
        _drain(sdf, str(tmp_path / "out"), str(tmp_path / "ckpt"))
        assert spark.read.parquet(str(tmp_path / "out")).count() == 2

    def test_partitioned_dirs_and_schema_nulls(
        self, vsource_spark, sf_dir, tmp_path
    ):
        from pyspark.sql import functions as F

        spark = vsource_spark
        root = str(tmp_path / "tbl")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_orderstatus"
        )
        V.write_versioned(orders, root, partition_by=["o_orderstatus"])
        V.append_versioned(
            orders.limit(5).withColumn("o_note", F.lit("late-col")),
            root,
            merge_schema=True,
        )
        sdf = spark.readStream.format("versioned").option("path", root).load()
        assert "o_note" in sdf.columns
        _drain(sdf, str(tmp_path / "out"), str(tmp_path / "ckpt"))
        got = spark.read.parquet(str(tmp_path / "out"))
        # Hive partition columns recovered from dir names
        assert got.filter("o_orderstatus IS NULL").count() == 0
        # pre-evolution dirs read back typed NULLs for the late column
        assert got.filter("o_note IS NULL").count() == orders.count()
        assert got.filter("o_note = 'late-col'").count() == 5

    def test_added_dirs_classification(self, vsource_spark, sf_dir, tmp_path):
        spark = vsource_spark
        root = str(tmp_path / "tbl")
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        V.write_versioned(region, root)
        V.append_versioned(region.limit(1), root)
        V.write_versioned(region, root)  # full snapshot = rewrite
        assert len(_added_dirs(root, 1)) == 1  # bootstrap: all new
        assert len(_added_dirs(root, 2)) == 1  # append: the batch dir
        assert _added_dirs(root, 3) is None  # rewrite detected


class TestChangeDataFeed:
    def test_upsert_cdf_batch_and_streaming(
        self, vsource_spark, sf_dir, tmp_path
    ):
        spark = vsource_spark
        root = str(tmp_path / "tbl")
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        V.write_versioned(region, root)  # v1
        V.append_versioned(
            region.limit(2).selectExpr(
                "r_regionkey + 100 as r_regionkey", "r_name"
            ),
            root,
        )  # v2
        updates = spark.createDataFrame(
            [(0, "RENAMED"), (999, "BRAND_NEW")],
            "r_regionkey long, r_name string",
        )
        V.upsert_versioned(
            spark, root, updates, key=["r_regionkey"], change_data_feed=True
        )  # v3: 1 update + 1 insert, materialized at write time

        # batch CDF: full history
        cf = V.read_change_feed(spark, root, 0)
        by_v = {
            (r["_commit_version"], r["_op"]): r["r_name"]
            for r in cf.collect()
        }
        n = region.count()
        assert cf.count() == n + 2 + 2
        assert by_v[(3, "update")] == "RENAMED"
        assert by_v[(3, "insert")] == "BRAND_NEW"
        assert cf.filter("_commit_version <= 2").filter(
            "_op != 'insert'"
        ).count() == 0
        # CDF from a later version: only the upsert's changes
        assert V.read_change_feed(spark, root, 2).count() == 2

        # streaming cdc mode sees the identical change stream
        sdf = (
            spark.readStream.format("versioned")
            .option("path", root)
            .option("mode", "cdc")
            .load()
        )
        assert sdf.columns == [*region.columns, "_op", "_commit_version"]
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        _drain(sdf, out, ckpt)
        got = spark.read.parquet(out)
        assert got.count() == n + 4
        assert got.filter("_op = 'update'").count() == 1
        # incremental: the next upsert's changes arrive alone
        V.upsert_versioned(
            spark,
            root,
            spark.createDataFrame([(1, "AGAIN")], "r_regionkey long, r_name string"),
            key=["r_regionkey"],
            change_data_feed=True,
        )
        _drain(sdf, out, ckpt)
        got = spark.read.parquet(out)
        assert got.count() == n + 5
        assert got.filter("_commit_version = 4").collect()[0]["_op"] == "update"

    def test_rewrite_without_cdf_raises_in_cdc_mode(
        self, vsource_spark, sf_dir, tmp_path
    ):
        spark = vsource_spark
        root = str(tmp_path / "tbl")
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        V.write_versioned(region, root)
        # an upsert WITHOUT change_data_feed has no recorded change rows
        V.upsert_versioned(
            spark,
            root,
            spark.createDataFrame([(0, "X")], "r_regionkey long, r_name string"),
            key=["r_regionkey"],
        )
        with pytest.raises(ValueError, match="change_data_feed=True"):
            V.read_change_feed(spark, root, 1)

    def test_vacuum_protects_then_reclaims_change_dirs(
        self, vsource_spark, sf_dir, tmp_path
    ):
        import glob
        import json as _json

        spark = vsource_spark
        root = str(tmp_path / "tbl")
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        V.write_versioned(region, root)
        V.upsert_versioned(
            spark,
            root,
            spark.createDataFrame([(0, "X")], "r_regionkey long, r_name string"),
            key=["r_regionkey"],
            change_data_feed=True,
        )
        with open(V._manifest_path(root, 2)) as f:
            cdir = os.path.join(root, _json.load(f)["changes"])
        assert os.path.isdir(cdir)
        V.vacuum(root, keep_last=1)  # v2 retained: its change dir stays
        assert os.path.isdir(cdir)
        V.write_versioned(region, root)  # v3
        V.vacuum(root, keep_last=1)  # v2 dropped: change dir reclaimed
        assert not os.path.isdir(cdir)

    def test_stream_below_retention_raises_named_error(
        self, vsource_spark, sf_dir, tmp_path
    ):
        """A start offset below the vacuum retention window must fail
        with the earliest retained version (Delta's 'versions have been
        vacuumed' contract), not a raw FileNotFoundError from a manifest
        open."""
        import json as _json

        from instacart_medallion_lakehouse_spark.streaming.versioned_source import (
            _VersionedStreamReader,
        )

        spark = vsource_spark
        root = str(tmp_path / "tbl")
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        V.write_versioned(region, root)
        V.append_versioned(region.limit(2), root)
        V.append_versioned(region.limit(1), root)
        V.vacuum(root, keep_last=1)  # v1, v2 manifests gone
        schema_json = _json.dumps(region.schema.jsonValue())
        rdr = _VersionedStreamReader(root, schema_json, {})
        with pytest.raises(RuntimeError, match="vacuumed"):
            rdr.partitions({"version": 0}, {"version": 3})
        with pytest.raises(RuntimeError, match="earliest retained version is 3"):
            rdr.partitions({"version": 1}, {"version": 3})
        # restarting at the earliest retained version works
        assert rdr.partitions({"version": 2}, {"version": 3})
