"""Round-4 unit guards: distributed global rank, the persisted
derived-table store, and the window-priority rotation invariants that
aren't oracle-checkable."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from instacart_medallion_lakehouse_spark import queries as q
from instacart_medallion_lakehouse_spark.operators.windows import (
    global_row_number,
)


class TestGlobalRowNumber:
    def test_matches_single_partition_window(self, spark, sf_dir):
        """Identical ranks to the textbook partitionless window, on a
        real table with duplicate order-key values (o_totalprice) and a
        unique tie-break."""
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_totalprice"
        )
        got = {
            r.o_orderkey: r.rnk
            for r in global_row_number(
                o, ["o_totalprice", "o_orderkey"], "rnk"
            ).collect()
        }
        w = Window.orderBy("o_totalprice", "o_orderkey")
        want = {
            r.o_orderkey: r.rnk
            for r in o.withColumn("rnk", F.row_number().over(w)).collect()
        }
        assert got == want

    def test_plan_has_no_single_partition_exchange(self, spark, sf_dir):
        """The whole point: no stage funnels the full input through one
        task. (A final scalar agg in CALLERS may still add one — this
        pins the operator itself.)"""
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_totalprice"
        )
        df = global_row_number(o, ["o_totalprice", "o_orderkey"], "rnk")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange SinglePartition" not in plan
        # buckets from driver-collected literal cutpoints → hash
        # exchange on the bucket id, never a range/sampled exchange
        assert "hashpartitioning(_b" in plan
        assert "rangepartitioning" not in plan

    def test_ranks_are_dense_and_complete(self, spark, sf_dir):
        sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
        ranks = sorted(
            r.rnk
            for r in global_row_number(
                sup, ["s_acctbal", "s_suppkey"], "rnk"
            ).collect()
        )
        assert ranks == list(range(1, sup.count() + 1))


class TestSharedTableStore:
    def test_builds_once_then_reads_parquet(self, spark, sf_dir, tmp_path, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_SHARED_DIR", str(tmp_path / "store"))
        calls = []

        def builder():
            calls.append(1)
            return spark.range(5).withColumn("v", F.col("id") * 10)

        a = q.shared_table(spark, sf_dir, "t_demo", builder, ("documents.parquet",))
        b = q.shared_table(spark, sf_dir, "t_demo", builder, ("documents.parquet",))
        assert len(calls) == 1  # second call served from the store
        assert sorted(r.v for r in a.collect()) == sorted(
            r.v for r in b.collect()
        ) == [0, 10, 20, 30, 40]

    def test_distinct_names_do_not_collide(self, spark, sf_dir, tmp_path, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_SHARED_DIR", str(tmp_path / "store"))
        a = q.shared_table(
            spark, sf_dir, "t_a", lambda: spark.range(3), ("documents.parquet",)
        )
        b = q.shared_table(
            spark, sf_dir, "t_b", lambda: spark.range(7), ("documents.parquet",)
        )
        assert a.count() == 3 and b.count() == 7

    def test_disabled_via_empty_env(self, spark, sf_dir, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_SHARED_DIR", "")
        calls = []

        def builder():
            calls.append(1)
            return spark.range(2)

        q.shared_table(spark, sf_dir, "t_off", builder, ("documents.parquet",))
        q.shared_table(spark, sf_dir, "t_off", builder, ("documents.parquet",))
        assert len(calls) == 2  # store off → always builds fresh

    def test_clear_shared_store(self, spark, sf_dir, tmp_path, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_SHARED_DIR", str(tmp_path / "store"))
        calls = []

        def builder():
            calls.append(1)
            return spark.range(2)

        q.shared_table(spark, sf_dir, "t_clear", builder, ("documents.parquet",))
        q.clear_shared_store()
        q.shared_table(spark, sf_dir, "t_clear", builder, ("documents.parquet",))
        assert len(calls) == 2

    def test_shared_bands_match_fresh_build(self, spark, sf_dir, tmp_path, monkeypatch):
        """The stored band table must be row-identical to a fresh
        (storeless) build — the invariant every consumer query's
        correctness rides on."""
        from instacart_medallion_lakehouse_spark.operators import dedup
        from instacart_medallion_lakehouse_spark.queries_text import (
            shared_minhash_bands,
        )

        monkeypatch.setenv("SPARK_GRAFT_SHARED_DIR", str(tmp_path / "store"))
        stored = shared_minhash_bands(spark, sf_dir)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        fresh = dedup.band_table_from_shingles(
            dedup.shingle_table(docs, 3, "doc_id"), 16, 2
        )
        assert sorted(map(tuple, stored.collect())) == sorted(
            map(tuple, fresh.collect())
        )


class TestHashShuffledExport:
    def test_no_single_partition_rank_stage(self, spark, sf_dir):
        """The export's global ordering must come from the distributed
        cutpoint-bucketed rank; the only allowed single-partition work
        is the final display sort's range exchange."""
        from instacart_medallion_lakehouse_spark import queries as q

        df = q.queries()["hash_shuffled_export"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange SinglePartition" not in plan, plan
        assert "hashpartitioning(_b" in plan

    def test_positions_are_a_permutation_and_shards_balanced(self, spark, sf_dir):
        from instacart_medallion_lakehouse_spark import queries as q

        rows = q.queries()["hash_shuffled_export"](spark, sf_dir).collect()
        n = len(rows)
        assert sorted(r.pos for r in rows) == list(range(1, n + 1))
        from collections import Counter

        shards = Counter(r.shard for r in rows)
        assert set(shards) == set(range(8))
        assert max(shards.values()) - min(shards.values()) <= 1
        # determinism: same result on a second evaluation
        again = q.queries()["hash_shuffled_export"](spark, sf_dir).collect()
        assert {(r.doc_id, r.pos, r.shard) for r in rows} == {
            (r.doc_id, r.pos, r.shard) for r in again
        }
