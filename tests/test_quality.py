"""Quality-gate tests — mirrors the reference's pure-Python suite
(tests/test_quality.py semantics, SURVEY.md §5) and adds the
Spark-dependent gates the reference explicitly leaves untested.
"""

from __future__ import annotations

import pytest

from instacart_medallion_lakehouse_spark import quality
from instacart_medallion_lakehouse_spark.quality import DataQualityError
from instacart_medallion_lakehouse_spark.versioned import list_versions, read_versioned


class TestReconcileRowCounts:
    def test_exact_match(self):
        assert quality.reconcile_row_counts(100, 100, 0.001) == 0.0

    def test_within_threshold(self):
        assert quality.reconcile_row_counts(10000, 9995, 0.001) == pytest.approx(0.0005)

    def test_drift_raises(self):
        with pytest.raises(DataQualityError):
            quality.reconcile_row_counts(10000, 9000, 0.001)

    def test_row_explosion_raises(self):
        with pytest.raises(DataQualityError):
            quality.reconcile_row_counts(10000, 11000, 0.001)

    def test_zero_source_zero_target(self):
        assert quality.reconcile_row_counts(0, 0, 0.001) == 0.0

    def test_zero_source_nonzero_target_raises(self):
        with pytest.raises(DataQualityError):
            quality.reconcile_row_counts(0, 5, 0.001)


class TestAssertNonzero:
    def test_nonzero_passes(self):
        quality.assert_row_count_nonzero(1, "t")

    def test_zero_raises(self):
        with pytest.raises(DataQualityError):
            quality.assert_row_count_nonzero(0, "t")


class TestSparkGates:
    def test_null_rate_ok_and_value(self, spark):
        df = spark.createDataFrame([(1,), (None,), (3,), (4,)], "x int")
        rate = quality.check_null_rate(df, "x", threshold=0.5)
        assert rate == 0.25

    def test_null_rate_breach(self, spark):
        df = spark.createDataFrame([(None,), (None,), (3,)], "x int")
        with pytest.raises(DataQualityError):
            quality.check_null_rate(df, "x", threshold=0.1)

    def test_duplicate_rate_counts_all_group_members(self, spark):
        # reference semantics: ALL rows of >1 groups count, not just extras
        df = spark.createDataFrame([(1,), (1,), (2,), (3,)], "k int")
        rate = quality.check_duplicate_rate(df, "k", threshold=0.99)
        assert rate == 0.5  # 2 of 4 rows are in the duplicated group

    def test_duplicate_rate_composite_key(self, spark):
        df = spark.createDataFrame([(1, 1), (1, 2), (1, 1)], "a int, b int")
        rate = quality.check_duplicate_rate(df, ["a", "b"], threshold=0.99)
        assert rate == pytest.approx(2 / 3)

    def test_referential_integrity_orphans(self, spark):
        child = spark.createDataFrame([(1,), (2,), (99,), (None,)], "fk int")
        parent = spark.createDataFrame([(1,), (2,)], "pk int")
        # orphan rate over NON-NULL fks only: 1/3
        with pytest.raises(DataQualityError):
            quality.check_referential_integrity(child, "fk", parent, "pk")
        rate = quality.check_referential_integrity(
            child, "fk", parent, "pk", threshold=0.5
        )
        assert rate == pytest.approx(1 / 3, abs=1e-6)

    def test_ri_on_real_testdata_is_clean(self, spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        assert (
            quality.check_referential_integrity(li, "l_orderkey", orders, "o_orderkey")
            == 0.0
        )


class TestZeroToleranceBreaches:
    """The gates compare the raw rate: a breach smaller than 5e-7 must
    not round to 0.0 and pass a zero threshold."""

    def _frame(self, spark):
        return spark.createDataFrame([(1,)], "k int")

    def test_one_orphan_in_two_million_keys(self, spark):
        df = self._frame(spark)
        gate = quality.referential_integrity_gate(df, "k", df, "k", "L", 0.0)
        with pytest.raises(
            DataQualityError, match=r"^\[L\] orphan rate 0\.000000 \(1/2000000\)"
        ):
            gate.check(2_000_000, 1)

    def test_one_duplicated_pair_in_four_million_rows(self, spark):
        gate = quality.duplicate_rate_gate(self._frame(spark), "k", 0.0, "L")
        with pytest.raises(
            DataQualityError,
            match=r"^\[L\] duplicate rate 0\.000000 \(2/4000000\)",
        ):
            gate.check(4_000_000, 2)

    def test_one_null_in_two_million_rows(self, spark):
        from pyspark.sql import functions as F

        df = spark.range(2_000_000).select(
            F.when(F.col("id") == 0, None).otherwise(F.col("id")).alias("x")
        )
        with pytest.raises(
            DataQualityError, match=r"^\[L\] null rate 0\.000000 \(1/2000000\)"
        ):
            quality.check_null_rate(df, "x", threshold=0.0, layer="L")


class TestObservedGates:
    def test_metrics_match_recomputation_and_no_extra_scan(
        self, spark, sf_dir, tmp_path
    ):
        from pyspark.sql import functions as F

        from instacart_medallion_lakehouse_spark import quality

        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        out = str(tmp_path / "obs")
        metrics = quality.write_with_observed_gates(
            df, out, null_rate_columns={"o_custkey": 0.5}, layer="test"
        )
        assert metrics["n_rows"] == df.count()
        want_nulls = df.filter(F.col("o_custkey").isNull()).count()
        assert metrics["nulls_o_custkey"] == want_nulls
        # the write itself landed intact
        assert read_versioned(spark, out).count() == metrics["n_rows"]

    def test_threshold_breach_raises_after_write(self, spark, tmp_path):
        from instacart_medallion_lakehouse_spark import quality

        df = spark.createDataFrame(
            [(1, None), (2, None), (3, "x")], "id long, v string"
        )
        out = str(tmp_path / "bad")
        import pytest as _pytest

        with _pytest.raises(quality.DataQualityError, match="null rate"):
            quality.write_with_observed_gates(
                df, out, null_rate_columns={"v": 0.5}, layer="test"
            )
        # the gate fails after the data write but before the manifest
        # publish: nothing becomes readable
        assert list_versions(out) == []

    def test_empty_write_rejected(self, spark, sf_dir, tmp_path):
        from instacart_medallion_lakehouse_spark import quality

        df = spark.read.parquet(f"{sf_dir}/region.parquet").filter("1=0")
        import pytest as _pytest

        with _pytest.raises(quality.DataQualityError, match="0 rows"):
            quality.write_with_observed_gates(
                df, str(tmp_path / "empty"), layer="test"
            )
