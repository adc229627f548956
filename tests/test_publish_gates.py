"""Gates that run before publish: a refresh whose non-empty, null-rate
or reconcile gate trips must leave the previous version of the gated table as the
latest, readable with the previous run's rows. The star inputs come
from the benchmark's generator, so these run without the driver
testdata."""

from __future__ import annotations

import importlib.util
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from instacart_medallion_lakehouse_spark import pipeline
from instacart_medallion_lakehouse_spark.quality import DataQualityError
from instacart_medallion_lakehouse_spark.versioned import list_versions, read_versioned

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.fixture(scope="module")
def star(spark, tmp_path_factory):
    """Generated inputs, a good input set with one table emptied and one
    with 20 % null order FKs, and one good refresh to copy per case."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_datagen", os.path.join(ROOT, "perfbench", "datagen.py")
    )
    datagen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(datagen)
    tables = datagen.star_tables(0.001, np.random.default_rng(0))
    dirs = {n: str(tmp_path_factory.mktemp(n)) for n in ("good", "empty", "nulls")}
    datagen.write_tables(dirs["good"], tables)
    empty_region = {**tables, "region": tables["region"].slice(0, 0)}
    datagen.write_tables(dirs["empty"], empty_region)
    orders = tables["orders"]
    custkey = orders.column("o_custkey")
    mask = pa.array(np.arange(orders.num_rows) % 5 == 0)
    orders = orders.set_column(
        orders.schema.get_field_index("o_custkey"),
        "o_custkey",
        pc.if_else(mask, pa.scalar(None, custkey.type), custkey),
    )
    datagen.write_tables(dirs["nulls"], {**tables, "orders": orders})

    refreshed = str(tmp_path_factory.mktemp("refreshed"))
    pipeline.run_medallion(spark, dirs["good"], refreshed)
    return dirs, refreshed


def _bronze(spark, dirs, out):
    pipeline.run_medallion(spark, dirs["empty"], out)


def _silver(spark, dirs, out):
    pipeline.run_medallion(spark, dirs["nulls"], out)


def _silver_reconcile(spark, dirs, out):
    res = pipeline.PipelineResult()
    bronze = pipeline.run_bronze(spark, dirs["good"], out, res)
    res.bronze_counts["region"] *= 2
    pipeline.run_silver(spark, bronze, out, res)


def _gold(spark, dirs, out):
    silver = {
        name: read_versioned(spark, f"{out}/silver/{name}")
        for name in pipeline.BRONZE_TABLES
    }
    silver["lineitem"] = silver["lineitem"].limit(0)
    pipeline.run_gold(spark, silver, out, pipeline.PipelineResult())


@pytest.mark.parametrize(
    "trip, table, message",
    [
        (_bronze, "bronze/region", "0 rows"),
        (_silver, "silver/orders", "null rate"),
        (_silver_reconcile, "silver/region", "row-count drift"),
        (_gold, "gold/fct_lineitem", "0 rows"),
    ],
    ids=["bronze_nonempty", "silver_null_rate", "silver_reconcile", "gold_nonempty"],
)
def test_tripped_gate_keeps_previous_version(
    spark, star, tmp_path, trip, table, message
):
    dirs, refreshed = star
    out = str(tmp_path / "out")
    shutil.copytree(refreshed, out)
    path = f"{out}/{table}"
    versions = list_versions(path)
    first = _rows(read_versioned(spark, path))
    assert versions and first

    with pytest.raises(DataQualityError, match=message):
        trip(spark, dirs, out)
    assert list_versions(path) == versions
    assert _rows(read_versioned(spark, path)) == first
