"""Tests for the round-4 adversarial-review fixes on the pipeline /
curation / quality / versioned surfaces:

- gate-conditional versioned commit (a staged version's observed
  metrics are readable before publish; one never published stays
  invisible)
- silver null-rate gates observed on the write pass
- lenient inverted duplicate gate for keyless tables (lineitem)
- sessionize tie-break parameterization
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from instacart_medallion_lakehouse_spark import pipeline
from instacart_medallion_lakehouse_spark import versioned as V
from instacart_medallion_lakehouse_spark.operators.windows import sessionize
from instacart_medallion_lakehouse_spark.quality import DataQualityError


class TestGateConditionalCommit:
    @pytest.fixture()
    def region(self, spark):
        # inline, with the driver testdata's region columns, so these
        # run where that testdata is absent
        names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
        return spark.createDataFrame(
            list(enumerate(names)), "r_regionkey int, r_name string"
        )

    def test_unpublished_stage_is_invisible(self, spark, region, tmp_path):
        root = str(tmp_path / "tbl")
        assert V.write_versioned(region, root) == 1
        first = sorted(region.collect())

        staged = V.stage_versioned(region.limit(0), root)
        assert staged.version == 2
        assert staged.read(spark).count() == 0
        # never published (a gate breached): the staged attempt is an
        # orphan, and the version list and latest snapshot are untouched
        assert V.list_versions(root) == [1]
        assert sorted(V.read_versioned(spark, root).collect()) == first

    def test_observed_metrics_readable_before_publish(self, spark, region, tmp_path):
        from pyspark.sql import Observation

        root = str(tmp_path / "tbl")
        obs = Observation("commit_gate")
        staged = V.stage_versioned(
            region.observe(obs, F.count(F.lit(1)).alias("n_rows")), root
        )
        assert int(obs.get["n_rows"]) == region.count()
        assert V.list_versions(root) == []
        assert staged.publish() == 1
        assert V.list_versions(root) == [1]

    def test_empty_gold_mart_not_promoted(self, spark, sf_dir, tmp_path):
        # run_gold over a silver dict whose lineitem is empty: the 0-row
        # fct mart must raise AND leave no readable version behind
        from pyspark import StorageLevel

        res = pipeline.PipelineResult()
        silver = {
            name: spark.read.parquet(f"{sf_dir}/{name}.parquet")
            for name in pipeline.BRONZE_TABLES
        }
        silver["lineitem"] = silver["lineitem"].limit(0)
        with pytest.raises(DataQualityError):
            pipeline.run_gold(spark, silver, str(tmp_path), res)
        assert V.list_versions(str(tmp_path / "gold" / "fct_lineitem")) == []
        # run_gold caches nothing: the caller's silver frames stay
        # uncached, so a failed refresh leaves no storage pinned
        for name in ("lineitem", "orders"):
            assert silver[name].storageLevel == StorageLevel.NONE, name


class TestSilverGates:
    def test_null_rate_gate_fires_on_planted_nulls(self, spark, sf_dir, tmp_path):
        res = pipeline.PipelineResult()
        bronze = pipeline.run_bronze(spark, sf_dir, str(tmp_path), res)
        # null out 20% of the o_custkey FK — far over the 0.1% default
        bronze["orders"] = bronze["orders"].withColumn(
            "o_custkey",
            F.when(F.col("o_orderkey") % 5 == 0, F.lit(None)).otherwise(
                F.col("o_custkey")
            ),
        )
        with pytest.raises(DataQualityError, match="null rate"):
            pipeline.run_silver(spark, bronze, str(tmp_path), res)

    def test_lenient_duplicate_gate_fires_on_total_duplication(
        self, spark, sf_dir, tmp_path
    ):
        res = pipeline.PipelineResult()
        bronze = pipeline.run_bronze(spark, sf_dir, str(tmp_path), res)
        # lineitem has no PK so it is never deduped; a fully-duplicated
        # table (every row in a group of >= 2) must breach the 0.99
        # inverted lenient gate
        bronze["lineitem"] = bronze["lineitem"].union(bronze["lineitem"])
        with pytest.raises(DataQualityError, match="duplicate rate"):
            pipeline.run_silver(spark, bronze, str(tmp_path), res)

    def test_healthy_lineitem_passes_lenient_gate(self, spark, sf_dir, tmp_path):
        # normal line-item multiplicity stays well under 0.99 — the
        # end-to-end fixture (test_pipeline) covers the full run; this
        # pins the specific gate on the real table
        from instacart_medallion_lakehouse_spark.quality import (
            DEFAULT_THRESHOLDS,
            check_duplicate_rate,
        )

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        rate = check_duplicate_rate(
            li,
            pipeline._LENIENT_DUP_KEYS["lineitem"],
            DEFAULT_THRESHOLDS.duplicate_rate_lenient,
            "test",
        )
        assert 0.0 <= rate <= 0.99


class TestSessionizeTieBreak:
    def test_missing_tie_break_column_raises_clearly(self, spark):
        df = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00")], ["user_id", "ts"]
        ).withColumn("ts", F.to_timestamp("ts"))
        with pytest.raises(ValueError, match="tie_break_col"):
            sessionize(df, user_col="user_id", ts_col="ts")

    def test_none_tie_break_orders_by_ts_alone(self, spark):
        df = spark.createDataFrame(
            [
                (1, "2024-01-01 00:00:00"),
                (1, "2024-01-01 00:10:00"),
                (1, "2024-01-01 02:00:00"),
            ],
            ["user_id", "ts"],
        ).withColumn("ts", F.to_timestamp("ts"))
        out = sessionize(
            df, user_col="user_id", ts_col="ts", gap_minutes=30,
            tie_break_col=None,
        )
        seqs = [r["session_seq"] for r in out.orderBy("ts").collect()]
        assert seqs == [1, 1, 2]

    def test_custom_tie_break_column(self, spark, sf_dir):
        events = spark.read.parquet(f"{sf_dir}/events.parquet").withColumnRenamed(
            "event_id", "eid"
        )
        out = sessionize(
            events, user_col="user_id", ts_col="ts", tie_break_col="eid"
        )
        assert out.count() == events.count()


class TestOperatorReviewFixes:
    """Round-4 operator-review regressions: salted_join how validation,
    null-text exact dedup, pq_topk degenerate corpus, bloom name
    handling, recall-safe prefix bound."""

    def test_salted_join_rejects_dim_preserving_how(self, spark, sf_dir):
        from instacart_medallion_lakehouse_spark.operators.skew import salted_join

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumnRenamed(
            "o_orderkey", "l_orderkey"
        )
        with pytest.raises(ValueError, match="fact-preserving"):
            salted_join(li, orders, "l_orderkey", how="full")
        with pytest.raises(ValueError, match="fact-preserving"):
            salted_join(li, orders, "l_orderkey", how="right_outer")

    def test_exact_duplicates_null_text_not_grouped(self, spark):
        from instacart_medallion_lakehouse_spark.operators import dedup

        docs = spark.createDataFrame(
            [(7, None), (42, None), (1, "same"), (2, "same")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in dedup.exact_duplicates(docs).collect()}
        # null-text docs are each their own canonical, never duplicates
        assert rows[7]["canonical_doc_id"] == 7 and not rows[7]["is_duplicate"]
        assert rows[42]["canonical_doc_id"] == 42 and not rows[42]["is_duplicate"]
        # real duplicates still collapse
        assert rows[2]["canonical_doc_id"] == 1 and rows[2]["is_duplicate"]

    def test_pq_topk_empty_on_out_of_range_ids(self, spark):
        from instacart_medallion_lakehouse_spark.operators import vectors

        emb = spark.createDataFrame(
            [(1000 + i, [float(j) for j in range(8)]) for i in range(4)],
            "vec_id long, embedding array<double>",
        )
        out = vectors.pq_topk(emb, m=4, k_codes=8, query_ids_max=10, k=3)
        assert out.count() == 0
        assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rank"]

    def test_bloom_prune_rejects_reserved_column(self, spark, sf_dir):
        from instacart_medallion_lakehouse_spark.operators.bloom import (
            bloom_prune,
            build_bloom,
        )
        from pyspark.sql import functions as F

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        bf = build_bloom(orders.select("o_custkey"), "o_custkey")
        poisoned = orders.withColumn("_bloom_bf", F.lit(1))
        with pytest.raises(ValueError, match="_bloom_bf"):
            bloom_prune(poisoned, "o_custkey", bf)

    def test_prefix_filter_identical_at_adversarial_threshold(self, spark, sf_dir):
        # 0.55 * n hits the IEEE ceil-above-integer case (0.55*100 ->
        # 55.000000000000007); the recall-safe bound must keep the
        # prefix-filtered pair set identical to the naive self-join
        from instacart_medallion_lakehouse_spark.operators import dedup

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        naive = {
            (r["id_a"], r["id_b"])
            for r in dedup.ngram_jaccard_pairs(
                docs, threshold=0.55, prefix_filter=False
            ).collect()
        }
        filtered = {
            (r["id_a"], r["id_b"])
            for r in dedup.ngram_jaccard_pairs(
                docs, threshold=0.55, prefix_filter=True
            ).collect()
        }
        assert filtered == naive


class TestSqlAndIoReviewFixes:
    """Third review batch: decimal-vs-double SQL face, CTAS location
    resolution, as-of torn rows, surrogate-key null parts, multimodal
    null payloads, conf-leak scoping."""

    def test_sql_pct_window_computes_in_double(self, spark):
        # bare 100.0 would make this DECIMAL(38,14): exactly 1.5 at the
        # midpoint -> floor 2; the double faces see 1.4999999999999998
        # -> floor 1. The D-suffixed literals must match the double face.
        row = spark.sql(
            "SELECT CAST(floor(100.0D * 3 / 2000000 * 10000.0D + 0.5)"
            " / 10000.0D AS DOUBLE) AS x"
        ).collect()[0]
        assert row["x"] == 0.0001

    def test_sql_face_pct_column_is_double(self, spark, sf_dir):
        from instacart_medallion_lakehouse_spark import sql_api

        sql_api.ensure_star_views(spark, sf_dir)
        df = sql_api.run_sql(spark, sql_api.REGION_PERFORMANCE_SQL)
        assert dict(df.dtypes)["pct_of_total_items"] == "double"

    def test_as_of_join_carries_whole_right_row(self, spark):
        # latest right row has a NULL x: the output must carry THAT row's
        # (NULL, 9), not a torn (5, 9) mixing two right rows
        from instacart_medallion_lakehouse_spark.operators.joins import as_of_join

        left = spark.createDataFrame([(1, 3, 0)], "k long, ts long, lid long")
        right = spark.createDataFrame(
            [(1, 1, 5, 7), (1, 2, None, 9)],
            "k long, ts long, x long, y long",
        )
        r = as_of_join(
            left, right, on=["k"], ts_col="ts",
            right_cols=["x", "y"], tie_col="lid", right_tie_col="y",
        ).collect()[0]
        assert r["asof_ts"] == 2
        assert r["asof_x"] is None
        assert r["asof_y"] == 9

    def test_surrogate_key_distinguishes_null_positions(self, spark):
        from instacart_medallion_lakehouse_spark.functions.scalar import (
            surrogate_key,
        )

        df = spark.createDataFrame(
            [(1, None, 2), (1, 2, None)], "a long, b long, c long"
        ).select(surrogate_key("a", "b", "c").alias("k"))
        keys = [r["k"] for r in df.collect()]
        assert keys[0] != keys[1]

    def test_media_features_null_payload_row(self, spark):
        from instacart_medallion_lakehouse_spark.operators.multimodal import (
            extract_media_features,
        )

        media = spark.createDataFrame(
            [(1, "image", None), (2, "audio", bytearray(b"RIFFxxxxWAVE"))],
            "doc_id long, media_type string, payload binary",
        )
        rows = {r["doc_id"]: r for r in extract_media_features(media).collect()}
        assert rows[1]["n_bytes"] is None and rows[1]["checksum"] is None
        assert rows[2]["n_bytes"] == 12

    def test_ctas_db_qualified_table_does_not_touch_default(self, spark, sf_dir):
        from instacart_medallion_lakehouse_spark import sql_api

        sql_api.ensure_star_views(spark, sf_dir)
        spark.sql("CREATE DATABASE IF NOT EXISTS ctas_test_db")
        try:
            # a default-db table with the same short name
            sql_api.create_table_as(
                spark, "ctas_probe", "SELECT * FROM region", replace=True
            )
            n_default = spark.table("ctas_probe").count()
            # CTAS the qualified twin TWICE (replace path must resolve the
            # qualified location, not delete default's files)
            for _ in range(2):
                sql_api.create_table_as(
                    spark,
                    "ctas_test_db.ctas_probe",
                    "SELECT * FROM nation",
                    replace=True,
                )
            assert spark.table("ctas_test_db.ctas_probe").count() > 0
            # default-db table data is intact and still readable
            assert spark.table("default.ctas_probe").count() == n_default
        finally:
            spark.sql("DROP TABLE IF EXISTS default.ctas_probe")
            spark.sql("DROP TABLE IF EXISTS ctas_test_db.ctas_probe")
            spark.sql("DROP DATABASE IF EXISTS ctas_test_db")

    def test_read_events_does_not_flip_conf_for_us_timestamps(self, spark, sf_dir):
        import pyarrow.parquet as pq

        from instacart_medallion_lakehouse_spark import io as io_mod

        field = pq.read_schema(f"{sf_dir}/events.parquet").field("ts")
        before = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        io_mod.read_events(spark, sf_dir).count()
        after = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        if str(field.type).startswith("timestamp[ns"):
            assert after == "true"
        else:
            assert after == before


class TestRound7ReviewFixes:
    """Round-6 verdict defects: salted_join 'cross' silently became an
    inner join; the nanos-timestamp footer probe missed partitioned
    (nested) parquet trees; the silver null-rate pipeline gate rounded
    the rate before comparing, letting rate = threshold + epsilon pass."""

    def test_salted_join_rejects_cross(self, spark, sf_dir):
        from instacart_medallion_lakehouse_spark.operators.skew import salted_join

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumnRenamed(
            "o_orderkey", "l_orderkey"
        )
        with pytest.raises(ValueError, match="fact-preserving"):
            salted_join(li, orders, "l_orderkey", how="cross")

    def test_nanos_probe_finds_nested_part_files(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from instacart_medallion_lakehouse_spark.io import _parquet_has_nanos_ts

        tbl = pa.table(
            {"ts": pa.array([0, 1], type=pa.timestamp("ns")), "v": [1, 2]}
        )
        # Hive-partitioned layout: part files live in key=value subdirs,
        # nothing at the top level
        nested = tmp_path / "events" / "day=2024-01-01"
        nested.mkdir(parents=True)
        pq.write_table(tbl, str(nested / "part-00000.parquet"))
        assert _parquet_has_nanos_ts(str(tmp_path / "events"), "ts")
        # micros variant stays negative through the same nested walk
        tbl_us = pa.table(
            {"ts": pa.array([0, 1], type=pa.timestamp("us")), "v": [1, 2]}
        )
        nested2 = tmp_path / "events_us" / "day=2024-01-01"
        nested2.mkdir(parents=True)
        pq.write_table(tbl_us, str(nested2 / "part-00000.parquet"))
        assert not _parquet_has_nanos_ts(str(tmp_path / "events_us"), "ts")
        # empty dir: no footer, no claim
        (tmp_path / "empty").mkdir()
        assert not _parquet_has_nanos_ts(str(tmp_path / "empty"), "ts")

    def test_silver_null_gate_compares_raw_rate(
        self, spark, tmp_path, monkeypatch
    ):
        """rate = 1/3 = 0.333333... vs threshold 0.333333: the rounded
        compare (round(rate, 6) = threshold) passed; the raw compare
        must raise."""
        import dataclasses

        from instacart_medallion_lakehouse_spark import quality

        monkeypatch.setattr(pipeline, "_SILVER_KEYS", {"region": ["r_regionkey"]})
        monkeypatch.setattr(
            pipeline, "_NULL_GATE_COLS", {"region": ["r_regionkey"]}
        )
        monkeypatch.setattr(pipeline, "_RI_EDGES", [])
        bronze = {
            "region": spark.createDataFrame(
                [(1, "A"), (2, "B"), (None, "C")],
                "r_regionkey long, r_name string",
            )
            .withColumn("_ingested_at", F.current_timestamp())
            .withColumn("_source_file", F.lit("t"))
            .withColumn("_bronze_version", F.lit(1))
        }
        result = pipeline.PipelineResult()
        result.bronze_counts["region"] = 3
        thresholds = dataclasses.replace(
            quality.DEFAULT_THRESHOLDS, null_rate_default=0.333333
        )
        with pytest.raises(DataQualityError, match="null rate"):
            pipeline.run_silver(
                spark, bronze, str(tmp_path / "lake"), result, thresholds
            )
        # comfortably under threshold still passes
        ok = dataclasses.replace(
            quality.DEFAULT_THRESHOLDS, null_rate_default=0.5
        )
        out = pipeline.run_silver(
            spark, bronze, str(tmp_path / "lake2"), result, ok
        )
        assert out["region"].count() == 3
