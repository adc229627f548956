"""queries.shared_table returns a stored scan when the store can key a
request, else the pinned fresh build. The text-dedup consumers read
either form as returned, so each must give the same rows with the store
off (SPARK_GRAFT_SHARED_DIR='') as with it on. The corpus comes from
the benchmark's generator, so these run without the driver testdata."""

from __future__ import annotations

import importlib.util
import os
import threading

import numpy as np
import pytest

from instacart_medallion_lakehouse_spark import queries as q

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CONSUMERS = [
    "ngram_jaccard_dedup",
    "ngram_jaccard_dedup_capped",
    "containment_pairs",
    "minhash_lsh_dedup",
    "dedup_clusters",
    "long_run_overlap",
    "span_dup_clusters",
    "incremental_minhash_dedup",
    "curated_docs_v2",
]


@pytest.fixture(scope="module")
def corpus(tmp_path_factory) -> str:
    spec = importlib.util.spec_from_file_location(
        "perfbench_datagen", os.path.join(ROOT, "perfbench", "datagen.py")
    )
    datagen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(datagen)
    out = tmp_path_factory.mktemp("store_corpus")
    docs = datagen.documents_table(200, np.random.default_rng(0))
    datagen.write_tables(str(out), {"documents": docs})
    return str(out)


@pytest.fixture(scope="module")
def store(tmp_path_factory) -> str:
    return str(tmp_path_factory.mktemp("store_on"))


@pytest.mark.parametrize("name", CONSUMERS)
def test_store_off_matches_store_on(spark, corpus, store, monkeypatch, name):
    fn = q.queries()[name]

    def rows() -> list[tuple]:
        out = sorted(map(tuple, fn(spark, corpus).collect()), key=repr)
        q.release_pins()
        return out

    monkeypatch.setenv("SPARK_GRAFT_SHARED_DIR", store)
    stored = rows()
    monkeypatch.setenv("SPARK_GRAFT_SHARED_DIR", "")
    fresh = rows()
    assert stored, f"{name}: empty on the generated corpus"
    assert fresh == stored


def _catalog(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if not t.isTemporary}


def test_bucketed_asset_survives_catalog_loss(spark, corpus, tmp_path, monkeypatch):
    """A bucketed asset's catalog table is session state, its committed
    data is not: with the table dropped, as in a new session, a request
    reads the committed asset, still bucketed, instead of rebuilding."""
    from pyspark.sql import functions as F

    monkeypatch.setenv("SPARK_GRAFT_SHARED_DIR", str(tmp_path))
    calls: list[int] = []

    def request():
        def builder():
            calls.append(1)
            docs = spark.read.parquet(os.path.join(corpus, "documents.parquet"))
            return docs.select("doc_id", (F.col("doc_id") % 5).alias("k"))

        return q.shared_table(
            spark, corpus, "t_lost", builder, token="t1", bucket_by=["k"]
        )

    before = _catalog(spark)
    request()
    created = _catalog(spark) - before
    assert calls == [1] and created
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for t in created:
            spark.sql(f"DROP TABLE {t}")
        got = request()
        assert calls == [1]  # no rebuild
        # force a sort-merge join so shuffle elimination is observable
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = got.alias("a").join(got.alias("b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        sizes = [r["count"] for r in got.groupBy("k").count().collect()]
        assert sum(sizes) == 200
        assert joined.count() == sum(n * n for n in sizes)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in _catalog(spark) - before:
            spark.sql(f"DROP TABLE {t}")


def test_clearing_the_store_drops_its_bucketed_tables(
    spark, corpus, tmp_path, monkeypatch
):
    """Each clear drops the catalog table over every bucketed data dir
    it deletes: after three cycles of clear + request, one table is
    left, the live one."""
    from pyspark.sql import functions as F

    monkeypatch.setenv("SPARK_GRAFT_SHARED_DIR", str(tmp_path / "store"))
    before = _catalog(spark)

    def builder():
        docs = spark.read.parquet(os.path.join(corpus, "documents.parquet"))
        return docs.select("doc_id", (F.col("doc_id") % 5).alias("k"))

    try:
        for _ in range(3):
            q.clear_shared_store()
            got = q.shared_table(
                spark, corpus, "t_clear", builder, token="t1", bucket_by=["k"]
            )
        created = _catalog(spark) - before
        assert len(created) == 1 and created.pop().startswith("bucketed_")
        assert got.count() == 200
    finally:
        q.clear_shared_store()
        assert _catalog(spark) == before


@pytest.mark.parametrize("bucket_by", [None, ["k"]])
def test_concurrent_requests_commit_one_version(
    spark, corpus, tmp_path, monkeypatch, bucket_by
):
    """Two requests for an unbuilt asset both build it; one commits, the
    other loses the publish race and reads the winner's version."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from instacart_medallion_lakehouse_spark import versioned

    monkeypatch.setenv("SPARK_GRAFT_SHARED_DIR", str(tmp_path))
    both_building = threading.Barrier(2)
    before = _catalog(spark)

    def builder():
        both_building.wait(timeout=120)
        docs = spark.read.parquet(os.path.join(corpus, "documents.parquet"))
        return docs.select("doc_id", (F.col("doc_id") % 5).alias("k"))

    def request(_):
        got = q.shared_table(
            spark, corpus, "t_race", builder, token="t1", bucket_by=bucket_by
        )
        return sorted(map(tuple, got.collect()))

    try:
        with ThreadPoolExecutor(2) as pool:
            a, b = pool.map(request, range(2))
        roots = list(tmp_path.glob("t_race-*"))
        assert len(roots) == 1
        assert versioned.list_versions(str(roots[0])) == [1]
        assert len(a) == 200 and a == b
        # the loser dropped the table over its own staged dir
        assert len(_catalog(spark) - before) == (1 if bucket_by else 0)
    finally:
        for t in _catalog(spark) - before:
            spark.sql(f"DROP TABLE {t}")
