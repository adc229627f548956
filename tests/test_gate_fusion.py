"""Fused duplicate-rate and referential-integrity gates
(quality.run_gates): the one-aggregate gates give the same rates as the
reference's two-action formulas, a batch raises its first breach in list
order, and silver evaluates all its duplicate and RI gates in one Spark
action. Inline data only."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from instacart_medallion_lakehouse_spark import pipeline, quality
from instacart_medallion_lakehouse_spark.quality import DataQualityError


def _two_action_duplicate_rate(df, cols):
    """The reference shape: count(), then a grouped aggregate."""
    total = df.count()
    if total == 0:
        return 0.0
    dups = (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("d"))
        .collect()[0]["d"]
    )
    return round(dups / total, 6)


def _two_action_orphan_rate(child, fk, parent, pk):
    """The reference shape: count(), then a left_anti join count()."""
    non_null = child.filter(F.col(fk).isNotNull())
    total = non_null.count()
    if total == 0:
        return 0.0
    orphans = non_null.join(
        parent.select(F.col(pk).alias("__pk")).distinct(),
        on=F.col(fk) == F.col("__pk"),
        how="left_anti",
    ).count()
    return round(orphans / total, 6)


@pytest.fixture(scope="module")
def frames(spark):
    mk = spark.createDataFrame
    return {
        "null_keys": (mk([(1,), (1,), (None,), (None,), (2,)], "k int"), ["k"]),
        "composite": (
            mk(
                [(1, 1), (1, 2), (1, 1), (2, None), (2, None), (3, 3)],
                "a int, b int",
            ),
            ["a", "b"],
        ),
        "no_dups": (mk([(1,), (2,), (3,)], "k int"), ["k"]),
        "empty": (mk([], "k int"), ["k"]),
    }


@pytest.fixture(scope="module")
def edges(spark):
    mk = spark.createDataFrame
    parent = mk([(1,), (2,), (2,), (None,)], "pk int")
    return {
        "null_fks": (mk([(1,), (2,), (99,), (None,), (None,)], "fk int"), parent),
        "dup_and_null_parent_keys": (
            mk([(1,), (1,), (2,), (3,), (3,)], "fk int"),
            parent,
        ),
        "all_null_fks": (mk([(None,), (None,)], "fk int"), parent),
        "empty_child": (mk([], "fk int"), parent),
        "empty_parent": (mk([(5,), (6,)], "fk int"), mk([], "pk int")),
    }


def test_rates_match_two_action_formulas(frames, edges):
    dup = sorted(frames)
    ri = sorted(edges)
    gates = [quality.duplicate_rate_gate(*frames[n], threshold=1.0) for n in dup]
    gates += [
        quality.referential_integrity_gate(c, "fk", p, "pk", threshold=1.0)
        for c, p in (edges[n] for n in ri)
    ]
    got = quality.run_gates(gates)
    want = [_two_action_duplicate_rate(*frames[n]) for n in dup]
    want += [_two_action_orphan_rate(c, "fk", p, "pk") for c, p in (edges[n] for n in ri)]
    assert got == want
    # the crafted frames exercise non-trivial rates, not only zeros
    by_name = dict(zip(dup + ri, got))
    assert by_name["null_keys"] == pytest.approx(4 / 5)
    assert by_name["composite"] == pytest.approx(4 / 6)
    assert by_name["null_fks"] == pytest.approx(1 / 3)
    assert by_name["dup_and_null_parent_keys"] == pytest.approx(2 / 5)
    assert by_name["empty_parent"] == 1.0
    assert by_name["empty"] == by_name["empty_child"] == by_name["all_null_fks"] == 0.0


def test_wrappers_return_the_same_rates(frames, edges):
    for name, (df, cols) in frames.items():
        assert quality.check_duplicate_rate(df, cols, 1.0) == (
            _two_action_duplicate_rate(df, cols)
        ), name
    for name, (child, parent) in edges.items():
        assert quality.check_referential_integrity(
            child, "fk", parent, "pk", threshold=1.0
        ) == _two_action_orphan_rate(child, "fk", parent, "pk"), name


def test_first_breach_in_list_order_raises(frames, edges):
    ok = quality.duplicate_rate_gate(*frames["no_dups"], threshold=0.0)
    dup = quality.duplicate_rate_gate(*frames["null_keys"], threshold=0.0, layer="L")
    child, parent = edges["null_fks"]
    ri = quality.referential_integrity_gate(child, "fk", parent, "pk", "L")
    with pytest.raises(DataQualityError, match=r"^\[L\] duplicate rate 0\.800000"):
        quality.run_gates([ok, dup, ri])
    with pytest.raises(DataQualityError, match=r"^\[L\] orphan rate 0\.333333 \(1/3\)"):
        quality.run_gates([ok, ri, dup])
    assert quality.run_gates([]) == []


def _bronze(spark):
    """Seven tiny healthy bronze tables with the lineage columns."""
    rows = {
        "region": ("r_regionkey int, r_name string", [(0, "A"), (1, "B")]),
        "nation": (
            "n_nationkey int, n_regionkey int",
            [(0, 0), (1, 1), (2, 1)],
        ),
        "customer": ("c_custkey int, c_nationkey int", [(1, 0), (2, 2), (3, 1)]),
        "supplier": ("s_suppkey int, s_nationkey int", [(1, 0), (2, 1)]),
        "part": ("p_partkey int, p_name string", [(1, "x"), (2, "y")]),
        "orders": ("o_orderkey int, o_custkey int", [(10, 1), (11, 2), (12, 1)]),
        "lineitem": (
            "l_orderkey int, l_partkey int, l_linenumber int",
            [(10, 1, 1), (10, 2, 2), (11, 1, 1), (12, 2, 1)],
        ),
    }
    return {
        name: spark.createDataFrame(data, schema).withColumns(
            {
                "_ingested_at": F.current_timestamp(),
                "_source_file": F.lit(f"{name}.parquet"),
                "_bronze_version": F.lit(pipeline.BRONZE_VERSION),
            }
        )
        for name, (schema, data) in rows.items()
    }


def test_run_silver_evaluates_its_gates_in_one_action(spark, tmp_path, monkeypatch):
    bronze = _bronze(spark)
    res = pipeline.PipelineResult()
    res.bronze_counts = {name: len(df.collect()) for name, df in bronze.items()}

    actions = []
    cls = type(bronze["region"])
    for method in ("collect", "count"):
        orig = getattr(cls, method)

        def counted(self, *args, _orig=orig, _name=method, **kwargs):
            actions.append(_name)
            return _orig(self, *args, **kwargs)

        monkeypatch.setattr(cls, method, counted)
    batches = []
    run_gates = quality.run_gates
    monkeypatch.setattr(
        quality, "run_gates", lambda gates: batches.append(len(gates)) or run_gates(gates)
    )

    pipeline.run_silver(spark, bronze, str(tmp_path), res)
    # 7 duplicate gates (6 PK + lineitem's lenient one) and 4 RI edges
    assert batches == [11]
    assert actions == ["collect"]
    assert res.silver_counts == res.bronze_counts
