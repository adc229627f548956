"""Join operators: star enrichment, as-of join, broadcast policy.

Reference parity (SURVEY.md §2.3):
- J1 multi-way star join  — notebooks/03_gold_metrics.py:53-58
- J3 left outer           — 03_gold_metrics.py:124,198,205
- J4 left anti (orphans)  — utils/quality.py:111-115; counted in
  ``quality.orphan_counts`` as a left join to the parent's distinct keys
- J6 broadcast for small dims — configs/pipeline_config.yml:28-29

Scale posture: the fact table is joined LAST against pre-projected,
explicitly broadcast dimensions. At 100 TB the fact side never shuffles
for dimension joins — every dim join is a broadcast-hash join over the
fact scan, so the whole enrichment is one stage with zero exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def enriched_lineitem(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """The engine's flagship 5-way star join on the testdata schema.

    lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region — the testdata
    transposition of order_products ⋈ orders ⋈ products ⋈ aisles ⋈
    departments (reference 03_gold_metrics.py:53-71). Dimension chain
    customer→nation→region plays the products→aisles→departments role.

    orders at sf0.1 is 150K rows (~10 MB) — still broadcastable; at a true
    100 TB scale orders stops being a dim and that join becomes a
    sort-merge on l_orderkey, which AQE selects automatically once it
    exceeds the broadcast threshold. We broadcast only the genuinely
    small dims explicitly and let AQE decide for orders.
    """
    return (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"),
            lineitem["l_orderkey"] == F.col("o_orderkey"),
            "inner",
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
            "inner",
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "inner",
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
            "inner",
        )
    )


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str,
    right_cols: list[str],
    tie_col: str,
    right_tie_col: str | None = None,
) -> DataFrame:
    """Backward as-of join: for each left row, the latest right row with
    ``right.ts <= left.ts`` within the same ``on`` keys (nulls if none).

    Spark has no native as-of join; the scalable formulation is the
    UNION + running ``last(ignorenulls)`` window:

      1. tag right rows side=0 carrying ``right_cols``, left rows side=1
         carrying their payload, union them (schema-aligned)
      2. one window per key ordered by (ts, side, tie_col): the running
         last non-null right value is exactly "the most recent right row
         at or before me" (side=0 sorts before side=1 at equal ts, so
         ties are inclusive)
      3. keep side=1 rows

    One shuffle on the key columns and a single sort — same cost shape
    as sessionization, and immune to the row-explosion a range-join
    (l.ts BETWEEN ...) would risk. ``tie_col`` must make the order total
    (SURVEY.md §4.3.1 determinism rule); among equal-ts right rows the
    greatest tie value wins. ``tie_col`` names the left side's
    tie-breaker; ``right_tie_col`` the right side's (defaults to the
    same name).
    """
    right_tie = right_tie_col or tie_col
    carried = [f"_asof_{c}" for c in right_cols]
    r = right.select(
        *on,
        F.col(ts_col),
        F.lit(0).alias("_side"),
        F.col(right_tie).alias("_tie"),
        *[F.col(c).alias(a) for c, a in zip(right_cols, carried)],
    )
    left_payload = [c for c in left.columns if c not in set(on) | {ts_col}]
    l = left.select(  # noqa: E741
        *on,
        F.col(ts_col),
        F.lit(1).alias("_side"),
        F.col(tie_col).alias("_tie"),
        *[F.lit(None).cast(r.schema[a].dataType).alias(a) for a in carried],
        *left_payload,
    )
    r = r.select(
        *on, ts_col, "_side", "_tie", *carried,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_payload],
    )
    u = l.unionByName(r)
    w = (
        Window.partitionBy(*on)
        .orderBy(ts_col, "_side", "_tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # carry the ENTIRE right payload as one struct: independent
    # last(col, ignorenulls) per column would skip a NULL field of the
    # latest right row and back-fill it from an OLDER row — a torn
    # output row that exists in no right row. The struct is NULL as a
    # whole for left-side rows (which is all ignorenulls must skip),
    # while NULL fields INSIDE the latest right row's struct survive.
    asof_struct = F.when(
        F.col("_side") == 0,
        F.struct(
            F.col(ts_col).alias("_asof_ts"),
            *[F.col(a) for a in carried],
        ),
    )
    out = (
        u.withColumn("_r", asof_struct)
        .select(
            *on,
            ts_col,
            "_side",
            *left_payload,
            F.last("_r", ignorenulls=True).over(w).alias("_rlast"),
        )
        .select(
            *on,
            ts_col,
            "_side",
            *left_payload,
            F.col("_rlast._asof_ts").alias(f"asof_{ts_col}"),
            *[
                F.col(f"_rlast.{a}").alias(f"asof_{c}")
                for c, a in zip(right_cols, carried)
            ],
        )
    )
    return out.filter(F.col("_side") == 1).drop("_side")
