"""Versioned-table maintenance beyond tests/test_versioned.py: vacuum's
reclaim of temp manifests, and the bucketed layout a manifest records,
kept by compaction and MERGE."""

from __future__ import annotations

import os
import time

from instacart_medallion_lakehouse_spark import io
from instacart_medallion_lakehouse_spark import versioned as V


def test_vacuum_removes_only_stale_temp_manifests(tmp_path):
    """A writer killed between a manifest's temp write and its unlink
    leaves the temp file behind; ``list_versions`` ignores it, so only
    vacuum can reclaim it, and a young one may be an in-flight publish."""
    root = str(tmp_path / "tbl")
    vdir = os.path.join(root, "_versions")
    os.makedirs(vdir)
    stale = os.path.join(vdir, "v00000001.json.tmp.123.deadbeef")
    young = os.path.join(vdir, "v00000002.json.tmp.456.cafebabe")
    for path in (stale, young):
        with open(path, "w") as f:
            f.write("{}")
    old = time.time() - 7200
    os.utime(stale, (old, old))
    assert V.list_versions(root) == []
    assert V.vacuum(root, orphan_retention_sec=3600.0) == []
    assert not os.path.exists(stale)
    assert os.path.exists(young)


def test_bucketed_layout_survives_compaction_and_merge(spark, tmp_path):
    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(k, k % 3, f"v{k}") for k in range(30)], "id long, k long, v string"
    )
    V._stage(df, root, 0, bucket_by=(["k"], 4)).publish()
    V.compact_versioned(spark, root)
    updates = spark.createDataFrame([(1, 1, "new")], "id long, k long, v string")
    V.upsert_versioned(spark, root, updates, key=["id"])
    for version in V.list_versions(root):
        manifest = V._manifest(root, version)[1]
        assert manifest["bucket_by"] == [["k"], 4]
        data = os.path.join(root, manifest["data"])
        parts = [n for n in os.listdir(data) if n.startswith("part-")]
        assert len(parts) <= 4, parts
    latest = V.read_versioned(spark, root)
    assert dict((r.id, r.v) for r in latest.collect()) == {
        **{k: f"v{k}" for k in range(30)}, 1: "new"
    }
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            latest.alias("a").join(latest.alias("b"), "k")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SortMergeJoin" in plan and "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for version in V.list_versions(root):
            data = os.path.join(root, V._manifest(root, version)[1]["data"])
            spark.sql(f"DROP TABLE IF EXISTS {io.bucketed_table(data)}")
