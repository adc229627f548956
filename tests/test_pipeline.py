"""End-to-end medallion pipeline test: bronze → silver → gold on
sf0.001, with reconciliation, gate enforcement, and idempotent re-run.
"""

from __future__ import annotations

import pytest

from instacart_medallion_lakehouse_spark import pipeline, versioned
from instacart_medallion_lakehouse_spark.quality import DataQualityError


import os

CONFIG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "configs",
    "pipeline_config.yml",
)


@pytest.fixture(scope="module")
def result(spark, sf_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("medallion")
    # drive the run through the externalized YAML config so the file ->
    # thresholds -> gates path is what the end-to-end suite exercises
    res = pipeline.run_medallion(spark, sf_dir, str(out), config_path=CONFIG)
    return out, res


class TestMedallion:
    def test_layer_counts_reconcile(self, spark, sf_dir, result):
        _, res = result
        for name in (t.name for t in pipeline.STAR_TABLES):
            src = spark.read.parquet(f"{sf_dir}/{name}.parquet").count()
            assert res.bronze_counts[name] == src
            # testdata has no PK dups, so silver == bronze
            assert res.silver_counts[name] == src

    def test_gold_marts_written_nonzero(self, spark, result):
        out, res = result
        assert set(res.gold_counts) == {
            "fct_lineitem",
            "dim_customers",
            "dim_parts",
            "mart_region_performance",
            "mart_return_velocity",
        }
        assert all(n > 0 for n in res.gold_counts.values())
        # fact table is disk-partitioned for partition pruning
        fct = out / "gold" / "fct_lineitem"
        parts = [
            p.name
            for p in (fct / versioned.history(str(fct))[-1]["data"]).iterdir()
            if p.name.startswith("l_returnflag=")
        ]
        assert len(parts) >= 2

    def test_dim_grain(self, spark, sf_dir, result):
        out, _ = result
        dim = versioned.read_versioned(spark, str(out / "gold" / "dim_customers"))
        custs = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
        # one row per customer that has orders; grain is unique
        assert dim.count() == dim.select("o_custkey").distinct().count()
        assert dim.count() <= custs

    def test_rerun_is_idempotent(self, spark, sf_dir, result):
        out, first = result
        second = pipeline.run_medallion(spark, sf_dir, str(out))
        assert second.bronze_counts == first.bronze_counts
        assert second.silver_counts == first.silver_counts
        assert second.gold_counts == first.gold_counts

    def test_silver_dedups_planted_duplicates(self, spark, sf_dir, tmp_path):
        # double every bronze orders row: silver dedup must collapse the
        # duplicates back to the original PK-unique row set
        res = pipeline.PipelineResult()
        bronze = pipeline.run_bronze(spark, sf_dir, str(tmp_path), res)
        n_orig = res.bronze_counts["orders"]
        bronze["orders"] = bronze["orders"].union(bronze["orders"])
        silver = pipeline.run_silver(spark, bronze, str(tmp_path), res)
        assert res.silver_counts["orders"] == n_orig
        assert silver["orders"].count() == n_orig

    def test_reconciliation_gate_fires_on_row_loss(self, spark, sf_dir, tmp_path):
        # claim bronze had 2x the rows → silver reconciliation must flag
        # the 50% "loss" and halt the pipeline
        res = pipeline.PipelineResult()
        bronze = pipeline.run_bronze(spark, sf_dir, str(tmp_path), res)
        res.bronze_counts["orders"] *= 2
        with pytest.raises(DataQualityError):
            pipeline.run_silver(spark, bronze, str(tmp_path), res)
