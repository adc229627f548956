"""Scalar function surface (SURVEY.md §2.8 F1-F9).

All built-in Catalyst expressions — everything here stays inside
whole-stage codegen; no Python executes per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dround(col: Column, digits: int) -> Column:
    """Deterministic cross-engine rounding: floor(x*10^d + 0.5) / 10^d.

    Spark's ``F.round`` rounds HALF_UP on the shortest decimal string of
    the double while DuckDB rounds the binary value — they disagree on
    exact decimal midpoints (e.g. avg=0.29375 → 0.2938 vs 0.2937). This
    explicit formula runs bit-identically on both engines (the oracle SQL
    uses the same ``floor(x*10^d + 0.5)/10^d`` text), so rounded
    aggregates hash-match. Positive-value semantics = HALF_UP.
    """
    f = float(10**digits)
    return (F.floor(col * F.lit(f) + F.lit(0.5)) / F.lit(f)).cast("double")


def surrogate_key(*cols: Column | str, sep: str = "_") -> Column:
    """F3: deterministic MD5 surrogate key over concatenated key parts.

    md5(concat_ws(sep, cast(c as string)...)) — reference
    notebooks/03_gold_metrics.py:85-88. Deterministic, so safe for
    idempotent re-runs and cross-engine comparison (unlike
    monotonically_increasing_id).

    NULL parts coalesce to a ``<NULL>`` sentinel: concat_ws silently
    SKIPS null arguments, so without it (1, NULL, 2) and (1, 2, NULL)
    would both concatenate to ``1_2`` and collide on the same surrogate
    — distinct business keys silently merged. (A literal key part equal
    to the sentinel string can still collide — keys are expected to be
    ids/codes, not free text.)
    """
    parts = [
        F.coalesce(
            (F.col(c) if isinstance(c, str) else c).cast("string"),
            F.lit("<NULL>"),
        )
        for c in cols
    ]
    return F.md5(F.concat_ws(sep, *parts))


def case_chain(pairs: list[tuple[Column, str]], default: str) -> Column:
    """F4: build a when/when/.../otherwise chain from (condition, label) pairs."""
    expr = F.when(pairs[0][0], pairs[0][1])
    for cond, label in pairs[1:]:
        expr = expr.when(cond, label)
    return expr.otherwise(default)


def customer_segment(total_orders: Column) -> Column:
    """3-way segmentation case chain (reference dim_users segments,
    03_gold_metrics.py:138-146 transposed to testdata order volumes)."""
    return case_chain(
        [(total_orders >= 15, "power"), (total_orders >= 8, "regular")],
        "casual",
    )


def popularity_tier(times_ordered: Column) -> Column:
    """4-way popularity tier (reference dim_products, 03_gold_metrics.py:207-209)."""
    return case_chain(
        [
            (times_ordered >= 100, "top"),
            (times_ordered >= 50, "high"),
            (times_ordered >= 20, "medium"),
        ],
        "long_tail",
    )


def position_bucket(rank: Column) -> Column:
    """Purchase-position bucket (reference reorder velocity,
    03_gold_metrics.py:311-317)."""
    return case_chain(
        [
            (rank == 1, "1_first"),
            (rank <= 3, "2_early"),
            (rank <= 10, "3_developing"),
        ],
        "4_habitual",
    )
