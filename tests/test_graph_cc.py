"""Convergent connected components (operators/graph.py
connected_components): pointer-jumping correctness on shapes the
fixed-k label_propagation cannot label in few rounds (long chains),
multi-component graphs, and convergence detection."""

from __future__ import annotations

import pytest

from instacart_medallion_lakehouse_spark.operators.graph import (
    connected_components,
    label_propagation,
)
from instacart_medallion_lakehouse_spark import queries as q


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = {
        r.node: r.component
        for r in connected_components(df, **kw).collect()
    }
    q.release_pins()
    return out


class TestConnectedComponents:
    def test_long_chain_converges(self, spark):
        # path 0-1-2-...-40: diameter 40. Fixed k=3 propagation CANNOT
        # label this; pointer jumping must (in ~log2(40) rounds).
        n = 41
        edges = [(i, i + 1) for i in range(n - 1)]
        out = _cc(spark, edges, edges_unique=True)
        assert out == {i: 0 for i in range(n)}
        # contrast: 3 rounds of plain propagation provably have not
        # reached the far end
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        approx = {
            r.node: r.component
            for r in label_propagation(df, iterations=3).collect()
        }
        q.release_pins()
        assert approx[n - 1] != 0

    def test_multiple_components_and_tie_shapes(self, spark):
        edges = [
            (10, 11), (11, 12),          # chain
            (20, 21), (21, 22), (22, 20),  # triangle
            (30, 31),                     # pair
        ]
        out = _cc(spark, edges, edges_unique=True)
        assert out == {
            10: 10, 11: 10, 12: 10,
            20: 20, 21: 20, 22: 20,
            30: 30, 31: 30,
        }
        # a 30-edge chain beside a short path, with and without the
        # broadcast label table
        edges = [(i, i + 1) for i in range(30)] + [(50, 51), (51, 52)]
        expected = {i: 0 for i in range(31)}
        expected.update({50: 50, 51: 50, 52: 50})
        assert _cc(spark, edges, edges_unique=True) == expected
        assert _cc(spark, edges, edges_unique=True, broadcast_labels=True) == expected

    def test_duplicate_edges_without_unique_claim(self, spark):
        edges = [(1, 2), (2, 1), (1, 2), (2, 3)]
        out = _cc(spark, edges, edges_unique=False)
        assert out == {1: 1, 2: 1, 3: 1}

    def test_star_graph_one_round(self, spark):
        edges = [(0, i) for i in range(1, 12)]
        out = _cc(spark, edges, edges_unique=True)
        assert set(out.values()) == {0}

    def test_cap_raises_loudly(self, spark):
        # max_rounds=0 can never converge-check a chain: loud error,
        # not silently-partial labels
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(8)], "id_a long, id_b long"
        )
        with pytest.raises(RuntimeError, match="no convergence"):
            connected_components(df, max_rounds=0, edges_unique=True)
        # the error path must release its own pins (ADVICE r9) — the
        # post-sweep cache-leak gate would flag a leaked label table
        from instacart_medallion_lakehouse_spark.pins import pinned_count

        assert pinned_count() == 0
        q.release_pins()
