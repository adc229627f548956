"""IO layer: schema-enforced CSV ingest (S1), overwrite/partitioned
writes (S3/S4), events nanos handling.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from instacart_medallion_lakehouse_spark import io


@pytest.fixture()
def csv_file(tmp_path):
    p = tmp_path / "src.csv"
    p.write_text("id,name\n1,alpha\n2,beta\n")
    return str(p)


SCHEMA = StructType(
    [StructField("id", IntegerType(), False), StructField("name", StringType(), True)]
)


class TestCsvIngest:
    def test_schema_enforced_not_inferred(self, spark, csv_file):
        df = io.read_csv_enforced(spark, csv_file, SCHEMA)
        assert df.schema["id"].dataType == IntegerType()
        assert df.count() == 2

    def test_failfast_on_bad_types(self, spark, tmp_path):
        bad = tmp_path / "bad.csv"
        bad.write_text("id,name\nnot_an_int,alpha\n")
        df = io.read_csv_enforced(spark, str(bad), SCHEMA)
        with pytest.raises(Exception):  # FAILFAST surfaces a parse error
            df.collect()


class TestWrites:
    def test_overwrite_is_idempotent(self, spark, sf_dir, tmp_path):
        df = spark.read.parquet(f"{sf_dir}/region.parquet")
        out = str(tmp_path / "t")
        io.write_table(df, out)
        io.write_table(df, out)  # second overwrite must not duplicate
        assert spark.read.parquet(out).count() == df.count()

    def test_partitioned_write_prunes(self, spark, sf_dir, tmp_path):
        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        out = str(tmp_path / "p")
        io.write_table(df, out, partition_by=["o_orderstatus"])
        back = spark.read.parquet(out).filter("o_orderstatus = 'F'")
        plan = back._jdf.queryExecution().executedPlan().toString()
        # static partition pruning: only the matching partition dir is read
        assert back.count() == df.filter("o_orderstatus = 'F'").count()
        assert "PartitionFilters: [isnotnull(o_orderstatus" in plan or "o_orderstatus" in plan


class TestJsonl:
    def test_roundtrip_preserves_values(self, spark, sf_dir, tmp_path):
        df = spark.read.parquet(f"{sf_dir}/region.parquet")
        out = str(tmp_path / "j")
        io.write_jsonl(df, out)
        back = io.read_jsonl(spark, out, df.schema)
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    def test_failfast_on_malformed_line(self, spark, tmp_path):
        p = tmp_path / "bad.jsonl"
        p.write_text('{"id": 1, "name": "a"}\n{not json\n')
        df = io.read_jsonl(spark, str(p), SCHEMA)
        with pytest.raises(Exception):
            df.collect()


class TestOrc:
    def test_roundtrip_and_partitioning(self, spark, sf_dir, tmp_path):
        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        out = str(tmp_path / "o")
        io.write_orc(df, out, partition_by=["o_orderstatus"])
        back = io.read_orc(spark, out)
        assert back.count() == df.count()
        pruned = back.filter("o_orderstatus = 'F'")
        assert pruned.count() == df.filter("o_orderstatus = 'F'").count()


class TestBucketedJoin:
    def test_cobucketed_join_has_no_shuffle(self, spark, sf_dir, tmp_path):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_totalprice"
        )
        li_dir, orders_dir = str(tmp_path / "li"), str(tmp_path / "orders")
        io.write_bucketed(li, li_dir, ["l_orderkey"], 4)
        io.write_bucketed(orders, orders_dir, ["o_orderkey"], 4)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # force a sort-merge join so shuffle elimination is observable
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = spark.table(io.bucketed_table(li_dir)).join(
                spark.table(io.bucketed_table(orders_dir)),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan  # co-located: no shuffle either side
            # r12: write_bucketed repartitions onto the bucket key, so
            # each bucket is exactly ONE file (no P x buckets small-file
            # scatter). NB Spark 3+ still re-sorts the merge inputs —
            # bucket sort propagation is legacy-gated (unsound for
            # multi-file buckets), so the sort only helps the files'
            # internal layout, not the plan.
            import glob as _glob
            import os as _os

            files = _glob.glob(_os.path.join(li_dir, "part-*"))
            assert len(files) == 4, files  # one file per bucket
            # and the result is still correct
            expect = li.join(
                orders, li["l_orderkey"] == orders["o_orderkey"]
            ).count()
            assert joined.count() == expect
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            for d in (li_dir, orders_dir):
                spark.sql(f"DROP TABLE IF EXISTS {io.bucketed_table(d)}")


class TestEvents:
    def test_nanos_ts_reads_as_timestamp(self, spark, sf_dir):
        df = io.read_events(spark, sf_dir)
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert df.count() > 0


class TestSkew:
    def test_salted_join_equals_plain_join(self, spark, sf_dir):
        from instacart_medallion_lakehouse_spark.operators.skew import salted_join

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_quantity", "l_linenumber"
        )
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_orderstatus"
        ).withColumnRenamed("o_orderkey", "l_orderkey")
        plain = li.join(orders, "l_orderkey")
        salted = salted_join(li, orders, "l_orderkey", num_salts=8)
        cols = sorted(plain.columns)
        assert sorted(salted.columns) == cols
        a = sorted(tuple(str(r[c]) for c in cols) for r in plain.collect())
        b = sorted(tuple(str(r[c]) for c in cols) for r in salted.collect())
        assert a == b


class TestAsOfJoin:
    def test_backward_inclusive_with_nulls(self, spark):
        from instacart_medallion_lakehouse_spark.operators.joins import as_of_join

        left = spark.createDataFrame(
            [(1, 10, 100), (1, 20, 101), (2, 5, 102)],
            "k long, ts long, lid long",
        )
        right = spark.createDataFrame(
            [(1, 10, 7.0, 900), (1, 15, 8.0, 901), (2, 50, 9.0, 902)],
            "k long, ts long, v double, rid long",
        )
        out = {
            r["lid"]: (r["asof_ts"], r["asof_v"])
            for r in as_of_join(
                left, right, on=["k"], ts_col="ts", right_cols=["v"],
                tie_col="lid", right_tie_col="rid",
            ).collect()
        }
        assert out[100] == (10, 7.0)  # equal ts is inclusive
        assert out[101] == (15, 8.0)  # latest at-or-before wins
        assert out[102] == (None, None)  # no prior right row -> nulls

    def test_tie_break_is_deterministic(self, spark):
        from instacart_medallion_lakehouse_spark.operators.joins import as_of_join

        left = spark.createDataFrame([(1, 10, 1)], "k long, ts long, lid long")
        right = spark.createDataFrame(
            [(1, 10, 7.0, 2), (1, 10, 8.0, 3)], "k long, ts long, v double, rid long"
        )
        r = as_of_join(
            left, right, on=["k"], ts_col="ts", right_cols=["v"],
            tie_col="lid", right_tie_col="rid",
        ).first()
        assert r["asof_v"] == 8.0  # greatest tie_col among equal ts wins


class TestClusteredWrite:
    def test_cluster_by_sorts_files(self, spark, sf_dir, tmp_path):
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        out = str(tmp_path / "c")
        io.write_table(df, out, cluster_by=["l_orderkey"])
        back = spark.read.parquet(out)
        assert back.count() == df.count()
        # every file's rows must be sorted by the cluster key (that is
        # what makes parquet min/max stats selective)
        from pyspark.sql import functions as F

        with_file = back.withColumn("_f", F.input_file_name())
        from pyspark.sql import Window

        w = Window.partitionBy("_f").orderBy(F.monotonically_increasing_id())
        seq = with_file.select(
            "_f", F.col("l_orderkey"), F.lag("l_orderkey").over(w).alias("_prev")
        )
        violations = seq.filter(
            F.col("_prev").isNotNull() & (F.col("l_orderkey") < F.col("_prev"))
        ).count()
        assert violations == 0


class TestZOrder:
    def test_both_keys_get_selective_file_stats(self, spark, sf_dir, tmp_path):
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        zpath, cpath = str(tmp_path / "z"), str(tmp_path / "c")
        io.write_table(df, zpath, zorder_by=("l_orderkey", "l_partkey"),
                       zorder_files=8)
        # lexicographic baseline at the same file count
        (df.repartitionByRange(8, "l_orderkey")
           .sortWithinPartitions("l_orderkey")
           .write.mode("overwrite").parquet(cpath))

        def avg_coverage(path, col):
            back = spark.read.parquet(path).withColumn("_f", F.input_file_name())
            lo, hi = df.agg(F.min(col), F.max(col)).first()
            span = (hi - lo) or 1
            rows = back.groupBy("_f").agg(
                F.min(col).alias("lo"), F.max(col).alias("hi")
            ).collect()
            return sum((r["hi"] - r["lo"]) / span for r in rows) / len(rows)

        # morton layout: BOTH keys' per-file ranges are fractional
        assert avg_coverage(zpath, "l_orderkey") < 0.75
        assert avg_coverage(zpath, "l_partkey") < 0.75
        # lexicographic: first key sharp, second key blown out
        assert avg_coverage(cpath, "l_orderkey") < 0.3
        assert avg_coverage(cpath, "l_partkey") > 0.9
        # and the data survives intact
        assert spark.read.parquet(zpath).count() == df.count()


class TestZOrderFractional:
    def test_fractional_columns_bucket_in_range(self, spark, sf_dir, tmp_path):
        # doubles in [0, ~0.1): int-truncated spans would corrupt the
        # Morton interleave (bit 16 leaking past the spread masks)
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        out = str(tmp_path / "zf")
        io.write_table(df, out, zorder_by=("l_discount", "l_tax"),
                       zorder_files=4)
        assert spark.read.parquet(out).count() == df.count()

    def test_empty_input_fails_loud(self, spark, sf_dir, tmp_path):
        df = spark.read.parquet(f"{sf_dir}/region.parquet").filter("1=0")
        with pytest.raises(ValueError, match="no non-null rows"):
            io.write_table(df, str(tmp_path / "ze"),
                           zorder_by=("r_regionkey", "r_regionkey"))


class TestZOrderKeyMath:
    def test_morton_interleave_is_a_bijection(self, spark):
        # all 256x256 bucket pairs must map to 65536 DISTINCT keys in
        # [0, 2^16) — any mask/shift slip collides or leaks bits
        pairs = (
            spark.range(256)
            .withColumnRenamed("id", "a")
            .crossJoin(spark.range(256).withColumnRenamed("id", "b"))
        )
        keyed = pairs.select(io.zorder_key(F.col("a"), F.col("b")).alias("z"))
        stats = keyed.agg(
            F.countDistinct("z").alias("n"),
            F.min("z").alias("lo"),
            F.max("z").alias("hi"),
        ).first()
        assert stats["n"] == 65536
        assert stats["lo"] == 0 and stats["hi"] == 65535


class TestZOrderNulls:
    def test_null_rows_land_in_bucket_zero_not_max(self, spark, tmp_path):
        # least/greatest skip NULL args, so without an explicit coalesce
        # a NULL key would ride to bucket 65535 and co-locate with
        # max-value rows, blowing out the top file's min/max stats
        df = spark.createDataFrame(
            [(None, 50), (1, 1), (1000, 1000)] + [(i, i) for i in range(2, 900)],
            "a int, b int",
        )
        out = str(tmp_path / "zn")
        io.write_table(df, out, zorder_by=("a", "b"), zorder_files=4)
        back = spark.read.parquet(out).withColumn("_f", F.input_file_name())
        assert back.count() == df.count()
        null_file = back.filter(F.col("a").isNull()).select("_f").first()["_f"]
        stats = (
            back.filter(F.col("_f") == null_file)
            .agg(F.max("a").alias("hi_a"))
            .first()
        )
        # the NULL row shares a file with LOW a values (bucket 0 side),
        # not with the max-value row
        assert stats["hi_a"] < 1000


class TestJsonlQuarantine:
    def test_bad_lines_split_out_good_schema_kept(self, spark, tmp_path):
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from instacart_medallion_lakehouse_spark.io import read_jsonl_quarantine

        p = tmp_path / "mixed.jsonl"
        p.write_text(
            '{"id": 1, "name": "a"}\n'
            "this is not json\n"
            '{"id": 2, "name": "b"}\n'
            '{"id": "notanint", "name": "c"}\n'
        )
        schema = StructType(
            [StructField("id", LongType()), StructField("name", StringType())]
        )
        good, bad = read_jsonl_quarantine(spark, str(p), schema)
        assert good.columns == ["id", "name"]  # declared schema exactly
        assert {r.id for r in good.collect()} == {1, 2}
        bad_lines = [r._corrupt_record for r in bad.collect()]
        assert len(bad_lines) == 2
        assert any("not json" in b for b in bad_lines)
        assert any("notanint" in b for b in bad_lines)

    def test_clean_file_has_empty_quarantine(self, spark, sf_dir, tmp_path):
        from instacart_medallion_lakehouse_spark.io import (
            read_jsonl_quarantine,
            write_jsonl,
        )

        src = spark.read.parquet(f"{sf_dir}/region.parquet")
        out = str(tmp_path / "clean")
        write_jsonl(src, out)
        good, bad = read_jsonl_quarantine(spark, out, src.schema)
        assert bad.count() == 0
        assert good.count() == src.count()


class TestPartitionedBackfill:
    def test_backfill_rewrites_only_named_partitions(self, spark, tmp_path):
        """Dynamic partition overwrite: restating day=2 replaces that
        partition's content, leaves day 1 and 3's FILES byte-identical
        on disk (not rewritten), and restores the session's overwrite
        mode afterwards."""
        import os

        path = str(tmp_path / "t")
        full = spark.createDataFrame(
            [(d, i, d * 100 + i) for d in (1, 2, 3) for i in range(4)],
            "day int, id int, v int",
        )
        io.write_table(full, path, partition_by=["day"])

        def files_of(day):
            d = os.path.join(path, f"day={day}")
            return sorted(
                (f, os.path.getmtime(os.path.join(d, f)))
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )

        before_1, before_3 = files_of(1), files_of(3)
        prev_mode = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "STATIC"
        )

        restated = spark.createDataFrame(
            [(2, i, 999) for i in range(2)], "day int, id int, v int"
        )
        io.write_partitioned_backfill(restated, path, ["day"])

        # untouched partitions: same files, same mtimes (never rewritten)
        assert files_of(1) == before_1
        assert files_of(3) == before_3
        # restated partition: fully replaced, not appended
        out = spark.read.parquet(path)
        got = {
            (r["day"], r["id"], r["v"]) for r in out.collect()
        }
        want = {(d, i, d * 100 + i) for d in (1, 3) for i in range(4)} | {
            (2, i, 999) for i in range(2)
        }
        assert got == want
        # session mode restored (the write must not leak the dynamic
        # mode into unrelated writes)
        assert (
            spark.conf.get("spark.sql.sources.partitionOverwriteMode")
            == prev_mode
        )

    def test_static_overwrite_would_have_dropped_the_rest(
        self, spark, tmp_path
    ):
        """The contrast that motivates the helper: the same write in
        default STATIC mode deletes every other partition."""
        path = str(tmp_path / "t")
        full = spark.createDataFrame(
            [(d, d) for d in (1, 2, 3)], "day int, v int"
        )
        io.write_table(full, path, partition_by=["day"])
        restated = spark.createDataFrame([(2, 99)], "day int, v int")
        restated.write.mode("overwrite").partitionBy("day").parquet(path)
        days = {r["day"] for r in spark.read.parquet(path).collect()}
        assert days == {2}


class TestSharedBucketedTable:
    """queries.shared_table with ``bucket_by`` (r11): the bucketed
    band-store primitive under the dedup candidate joins — build-once
    semantics, exchange-free self-join on the bucket keys — and the one
    return contract when the store cannot key a request."""

    def _get(self, spark, sf_dir, builder, calls):
        from instacart_medallion_lakehouse_spark import queries as q

        def counted():
            calls.append(1)
            return builder()

        return q.shared_table(
            spark,
            sf_dir,
            "t_bands",
            counted,
            sources=("documents.parquet",),
            token="t1",
            bucket_by=["idx", "val"],
        )

    def test_build_once_and_self_join_has_no_exchange(
        self, spark, src_dir, tmp_path, monkeypatch
    ):
        from instacart_medallion_lakehouse_spark import versioned

        store = tmp_path / "store"
        monkeypatch.setenv("SPARK_GRAFT_SHARED_DIR", str(store))

        def builder():
            return spark.range(300).select(
                F.col("id").alias("_id"),
                (F.col("id") % 4).alias("idx"),
                (F.col("id") % 7).alias("val"),
            )

        calls: list[int] = []
        try:
            bands = self._get(spark, src_dir, builder, calls)
            assert bands is not None and calls == [1]
            again = self._get(spark, src_dir, builder, calls)
            assert calls == [1]  # second request served from the catalog
            prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            try:
                # force SMJ so bucket-side shuffle elimination is observable
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
                j = bands.alias("a").join(
                    again.alias("b"),
                    (F.col("a.idx") == F.col("b.idx"))
                    & (F.col("a.val") == F.col("b.val")),
                )
                plan = j._jdf.queryExecution().executedPlan().toString()
                assert "SortMergeJoin" in plan
                assert "Exchange" not in plan  # co-bucketed: no shuffle
                expect = builder().alias("a").join(
                    builder().alias("b"),
                    (F.col("a.idx") == F.col("b.idx"))
                    & (F.col("a.val") == F.col("b.val")),
                ).count()
                assert j.count() == expect
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        finally:
            for root in store.glob("t_bands-*"):
                data = versioned._manifest(str(root))[1]["data"]
                table = io.bucketed_table(str(root / data))
                spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_fallback_returns_pinned_build(self, spark, tmp_path, monkeypatch):
        """A request the store cannot key (store disabled by '', or
        sources that cannot be fingerprinted) returns the builder's rows,
        pinned and materialized, with or without ``bucket_by``."""
        from instacart_medallion_lakehouse_spark import queries as q
        from instacart_medallion_lakehouse_spark.pins import (
            pinned_count,
            release_pins,
        )

        src = tmp_path / "src"
        src.mkdir()
        (src / "documents.parquet").write_bytes(b"fingerprint me")
        cases = [
            ("", str(src)),  # store disabled ('' disables; unset = default)
            (str(tmp_path / "store"), str(tmp_path / "nope")),  # no sources
        ]
        tables = {t.name for t in spark.catalog.listTables()}
        try:
            for store, sources_dir in cases:
                monkeypatch.setenv("SPARK_GRAFT_SHARED_DIR", store)
                for bucket_by in (None, ["id"]):
                    calls: list[int] = []

                    def builder():
                        calls.append(1)
                        return spark.range(5)

                    for n in (1, 2):
                        before = pinned_count()
                        got = q.shared_table(
                            spark, sources_dir, "t_x", builder,
                            bucket_by=bucket_by,
                        )
                        assert calls == [1] * n  # one build per request
                        assert pinned_count() == before + 1
                        assert got.is_cached
                        assert sorted(r.id for r in got.collect()) == list(
                            range(5)
                        )
            assert {t.name for t in spark.catalog.listTables()} == tables
            assert not (tmp_path / "store").exists()
        finally:
            release_pins()
