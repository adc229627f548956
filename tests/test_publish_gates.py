"""Gates that run before publish: a refresh whose non-empty, null-rate,
reconcile, duplicate or RI gate trips must leave the previous version of
the gated table as the latest, readable with the previous run's rows. A
layer stages its tables concurrently, checks every gate, and only then
publishes: a trip anywhere in it leaves every table of the layer, and
every later layer, as it was. The star inputs come from the benchmark's
generator, so these run without the driver testdata."""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys
import threading
import time

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
    """Generated inputs: a good input set, sets with region, lineitem,
    or orders and lineitem emptied, one with 20 % null order FKs, and
    one good refresh to copy per case."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_datagen", os.path.join(ROOT, "perfbench", "datagen.py")
    )
    datagen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(datagen)
    tables = datagen.star_tables(0.001, np.random.default_rng(0))
    names = ("good", "empty", "empty_lineitem", "empty_orders_lineitem", "nulls")
    dirs = {n: str(tmp_path_factory.mktemp(n)) for n in names}
    datagen.write_tables(dirs["good"], tables)

    def emptied(*names):
        return {**tables, **{n: tables[n].slice(0, 0) for n in names}}

    datagen.write_tables(dirs["empty"], emptied("region"))
    datagen.write_tables(dirs["empty_lineitem"], emptied("lineitem"))
    datagen.write_tables(dirs["empty_orders_lineitem"], emptied("orders", "lineitem"))
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


def _layer_state(spark, out, layer):
    """Per table of ``layer``: its versions and its latest rows."""
    return {
        name: (list_versions(path), _rows(read_versioned(spark, path)))
        for name in sorted(os.listdir(f"{out}/{layer}"))
        for path in [f"{out}/{layer}/{name}"]
    }


def _layer_versions(out, layer):
    return {
        name: list_versions(f"{out}/{layer}/{name}")
        for name in sorted(os.listdir(f"{out}/{layer}"))
    }


def _bronze_last_table(spark, dirs, out):
    pipeline.run_medallion(spark, dirs["empty_lineitem"], out)


def _silver_from_bronze(change):
    """Bronze from the good inputs, ``change`` applied to its frames,
    then silver over them."""

    def trip(spark, dirs, out):
        res = pipeline.PipelineResult()
        bronze = pipeline.run_bronze(spark, dirs["good"], out, res)
        change(bronze)
        pipeline.run_silver(spark, bronze, out, res)

    return trip


def _orphan_order_keys(bronze):
    from pyspark.sql import functions as F

    key = F.col("l_orderkey")
    # a shift far past every order key keeps (l_orderkey, l_linenumber)
    # unique and the row count unchanged: only the RI gate can trip
    bronze["lineitem"] = bronze["lineitem"].withColumn(
        "l_orderkey", F.when(key % 7 == 0, key + 10**12).otherwise(key)
    )


def _doubled_lineitem(bronze):
    # every row twice: lineitem's lenient duplicate gate trips, and so
    # does its reconcile gate, which ranks after it
    bronze["lineitem"] = bronze["lineitem"].unionByName(bronze["lineitem"])


def _gold_later_mart(spark, dirs, out):
    silver = {
        name: read_versioned(spark, f"{out}/silver/{name}")
        for name in pipeline.BRONZE_TABLES
    }
    silver["region"] = silver["region"].limit(0)
    pipeline.run_gold(spark, silver, out, pipeline.PipelineResult())


LAYERS = ("bronze", "silver", "gold")


@pytest.mark.parametrize(
    "trip, layer, message",
    [
        (_bronze_last_table, "bronze", r"\[bronze\.lineitem\] has 0 rows"),
        (_silver, "silver", r"\[silver\.orders\] null rate"),
        (_gold_later_mart, "gold", r"\[gold\.mart_region_performance\] has 0 rows"),
        (
            _silver_from_bronze(_orphan_order_keys),
            "silver",
            r"^\[silver\.lineitem\] orphan rate .* on 'l_orderkey'",
        ),
        (
            _silver_from_bronze(_doubled_lineitem),
            "silver",
            r"^\[silver\.lineitem\] duplicate rate",
        ),
    ],
    ids=[*LAYERS, "silver_ri", "silver_duplicate"],
)
def test_tripped_gate_publishes_no_table_of_its_layer(
    spark, star, tmp_path, trip, layer, message
):
    """Each case trips a table that is not its layer's first, so a
    layer that committed table by table would have published the
    tables before it. Silver's duplicate and RI gates read the staged
    tables and are checked before any of them publishes."""
    dirs, refreshed = star
    out = str(tmp_path / "out")
    shutil.copytree(refreshed, out)
    before = _layer_state(spark, out, layer)
    later = LAYERS[LAYERS.index(layer) + 1 :]
    later_versions = {lay: _layer_versions(out, lay) for lay in later}

    with pytest.raises(DataQualityError, match=message):
        trip(spark, dirs, out)
    assert _layer_state(spark, out, layer) == before
    assert {lay: _layer_versions(out, lay) for lay in later} == later_versions


def test_two_tripped_tables_raise_the_earlier_ones_error(spark, star, tmp_path):
    dirs, refreshed = star
    out = str(tmp_path / "out")
    shutil.copytree(refreshed, out)
    before = _layer_versions(out, "bronze")

    with pytest.raises(DataQualityError, match=r"^\[bronze\.orders\] has 0 rows$"):
        pipeline.run_bronze(
            spark, dirs["empty_orders_lineitem"], out, pipeline.PipelineResult()
        )
    assert _layer_versions(out, "bronze") == before


def test_layer_threads_run_their_jobs_in_the_callers_job_group(
    spark, star, tmp_path
):
    """Every Spark job a layer's commit threads start belongs to the
    caller's job group: none is left without a group."""
    dirs, _ = star
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("bronze_refresh", "run_bronze under a job group")
    try:
        pipeline.run_bronze(spark, dirs["good"], str(tmp_path), pipeline.PipelineResult())
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert len(tracker.getJobIdsForGroup("bronze_refresh")) >= len(pipeline.BRONZE_TABLES)


class _FakeStaged:
    def __init__(self, name, published):
        self.name, self.published = name, published

    def publish(self):
        self.published.append(self.name)

    def read(self, spark):
        return self.name


def _run_layer(spark, tables, stage) -> dict:
    """``_commit_layer`` on a thread joined with a timeout, so a layer
    whose staging threads never finish fails the test instead of
    hanging it."""
    outcome: dict = {"counts": {}}

    def call():
        try:
            outcome["results"] = pipeline._commit_layer(
                spark, "test", tables, stage, outcome["counts"]
            )
        except Exception as e:  # the outcome the test asserts on
            outcome["error"] = e

    t = threading.Thread(target=call)
    t.start()
    t.join(timeout=60)
    assert not t.is_alive(), "a layer's commits never finished"
    return outcome


def test_commit_layer_is_all_or_nothing_and_raises_in_table_order(spark):
    """More staging threads than cores, switching often: every table
    publishes and the results come back in table order; with two tables
    failing to stage, none publishes and the earlier table's error is
    raised even though the later one fails first; a table whose gates
    breach after every table staged stops every table publishing."""
    tables = [f"t{i:02d}" for i in range(12)]
    published = []

    def stager(fail_stage=(), fail_gate=()):
        def stage(name):
            if name in fail_stage:
                if name == "t03":
                    time.sleep(0.2)  # fails after t09
                raise ValueError(name)

            def enforce():
                if name in fail_gate:
                    raise DataQualityError(name)
                return {"n_rows": int(name[1:])}

            return _FakeStaged(name, published), enforce

        return stage

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        ok = _run_layer(spark, tables, stager())
        assert published == tables
        published.clear()
        failed = _run_layer(spark, tables, stager(fail_stage=("t03", "t09")))
        breached = _run_layer(spark, tables, stager(fail_gate=("t11",)))
    finally:
        sys.setswitchinterval(interval)
    assert list(ok["results"].items()) == [(n, n) for n in tables]
    assert list(ok["counts"].items()) == [(n, i) for i, n in enumerate(tables)]
    assert isinstance(failed["error"], ValueError)
    assert str(failed["error"]) == "t03"
    assert isinstance(breached["error"], DataQualityError)
    assert published == []
