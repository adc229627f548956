"""Window operators: sequence ranks, lag, sessionization.

Reference parity (SURVEY.md §2.5):
- W2 sequence rank — notebooks/03_gold_metrics.py:298-306 (purchase rank
  per (user, product) by order_number)
- W3 lag — 03_gold_metrics.py:303 (sessionize's inter-arrival gap)
- W4 count-over-partition — utils/quality.py:74-76

Scale note: every ``Window.partitionBy`` is a full-row shuffle on the
partition keys. Rank/lag windows here partition on composite keys with
high cardinality ((custkey, partkey), (user_id)) so partitions stay small;
never window-partition on a low-cardinality column at scale — use
groupBy aggregation instead (see quality.check_duplicate_rate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sequence_rank(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column | str],
    rank_col: str = "sequence_rank",
) -> DataFrame:
    """W2: 1-based rank of each row within its partition under order_by.

    The order_by MUST be a deterministic total order within each partition
    (SURVEY.md §4.3.1) — callers pass a unique tie-breaker column.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w))


def global_row_number(
    df: DataFrame,
    order_by: list[Column | str],
    rank_col: str = "_grank",
    num_partitions: int | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """Distributed global row_number: two-pass cutpoint-bucketed rank
    instead of a single-partition ``Window.orderBy``.

    A partitionless window funnels the whole input through ONE task —
    the classic global-sort straggler at scale. This operator gets the
    identical result distributed:

      1. collect approximate percentile CUTPOINTS of the leading order
         key ONCE to the driver (bounded: n_buckets-1 scalars — the
         same driver-held bounds a RangePartitioner keeps) and bucket
         every row against them as literals. Literal cutpoints make
         the bucketing a pure value function, so the rank branch and
         the counts branch below agree BY CONSTRUCTION — unlike
         ``repartitionByRange``, whose sampled bounds are seeded per
         evaluation and only line up across branches while exchange
         reuse happens to kick in;
      2. per-bucket local row_number (one hash exchange on the bucket
         id);
      3. per-bucket row counts (n_buckets rows — driver-scale)
         → exclusive prefix sums via a broadcast inequality self-join
         (O(b²) pairs of the b-row count table; NO single-partition
         stage anywhere) → broadcast back as offsets;
         global rank = local rank + bucket offset.

    ``order_by`` must be a deterministic TOTAL order (pass a unique
    tie-break column) with a NUMERIC leading key — the same contract
    as every rank in this module. Ascending order only; wrap
    descending needs as ascending on a negated/complemented key.
    ``total_col``: optionally attach the global row count as a column,
    derived from the (tiny) bucket-count table — callers needing n for
    ntile/percent_rank math then pay NO extra scan of the input.
    """
    spark = df.sparkSession
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    first = cols[0]
    n_buckets = num_partitions or spark.sparkContext.defaultParallelism
    cuts: list = []
    if n_buckets > 1:
        fracs = [i / n_buckets for i in range(1, n_buckets)]
        got = df.select(
            F.percentile_approx(first, fracs, 10_000).alias("_c")
        ).first()["_c"]
        cuts = sorted(set(got)) if got else []
    bucket = F.lit(0)
    for c in cuts:
        bucket = bucket + (first > F.lit(c)).cast("int")
    # null leading keys sort FIRST under ascending order → lowest bucket
    bucket = F.when(first.isNull(), F.lit(-1)).otherwise(bucket)
    local = df.withColumn("_b", bucket).withColumn(
        "_lrn",
        F.row_number().over(Window.partitionBy("_b").orderBy(*cols)),
    )
    counts = local.groupBy("_b").agg(F.count(F.lit(1)).alias("_cnt"))
    prior = counts.select(
        F.col("_b").alias("_pb"), F.col("_cnt").alias("_pcnt")
    )
    offsets = (
        counts.join(
            F.broadcast(prior), F.col("_pb") < F.col("_b"), "left"
        )
        .groupBy("_b")
        .agg(F.coalesce(F.sum("_pcnt"), F.lit(0)).alias("_off"))
    )
    out = (
        local.join(F.broadcast(offsets), "_b")
        .withColumn(rank_col, F.col("_lrn") + F.col("_off"))
        .drop("_b", "_lrn", "_off")
    )
    if total_col is not None:
        total = counts.agg(F.sum("_cnt").alias(total_col))
        out = out.crossJoin(F.broadcast(total))
    return out


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tie_break_col: str | None = "event_id",
) -> DataFrame:
    """Batch gaps-and-islands sessionization over an event stream.

    New session when the gap to the previous event of the same user
    exceeds ``gap_minutes``; session_id = running count of session starts.
    Two stacked windows over the SAME (partition, order) → one shuffle,
    one sort, both computed in a single window physical operator.

    ``tie_break_col`` makes the ordering total when two events share a
    timestamp (default matches the events table's ``event_id``); pass
    ``None`` to order by timestamp alone — then equal-timestamp rows
    within a user order nondeterministically.

    This is the batch twin of Structured Streaming session windows
    (``F.session_window`` — see streaming/events.py); the batch form is
    DuckDB-oracle-checkable, the streaming form is rows-only.
    """
    if tie_break_col is not None and tie_break_col not in df.columns:
        raise ValueError(
            f"sessionize: tie_break_col '{tie_break_col}' not in input "
            f"columns {df.columns}; pass tie_break_col=None to order by "
            f"'{ts_col}' alone (nondeterministic for tied timestamps)"
        )
    order = [ts_col] + ([tie_break_col] if tie_break_col is not None else [])
    ts = F.col(ts_col)
    w = Window.partitionBy(user_col).orderBy(*order)
    gap_sec = F.unix_timestamp(ts) - F.unix_timestamp(F.lag(ts_col, 1).over(w))
    is_new = F.when(
        gap_sec.isNull() | (gap_sec > gap_minutes * 60), 1
    ).otherwise(0)
    running = Window.partitionBy(user_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("_new_session", is_new).withColumn(
        "session_seq", F.sum("_new_session").over(running)
    ).drop("_new_session")


def sliding_distinct_count(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    days: int = 7,
    out_col: str = "n_distinct",
) -> DataFrame:
    """EXACT distinct count over a trailing ``days``-day window per day
    (e.g. trailing-7d active users) — the metric window frames cannot
    express: ``count(DISTINCT x) OVER (RANGE ...)`` is unsupported in
    Spark (and needs per-frame set state anywhere).

    Contribution expansion instead: dedup to (key, day) pairs, explode
    each pair to the ``days`` trailing window-end days it contributes
    to, and countDistinct per window end. The expansion factor is the
    window length over the DEDUPED daily grain — at 100 TB the
    (key, day) dedup collapses the event stream (typically 100-1000x)
    BEFORE the xN explode, so the shuffled volume is days x daily-actives,
    not days x events. Output keeps only window ends that are observed
    activity days (a day with zero events has no row, matching the raw
    daily rollup's domain).
    """
    if days < 1:
        # F.sequence with stop < start silently generates a DESCENDING
        # sequence — days=0 would attribute activity to the PAST instead
        # of raising (same guard class as band_join's delta validation)
        raise ValueError(f"days must be >= 1, got {days}")
    day = F.to_date(F.col(ts_col))
    pairs = df.select(day.alias("_d"), F.col(key_col).alias("_k")).distinct()
    observed = pairs.select(F.col("_d").alias("_day")).distinct()
    contrib = pairs.select(
        "_k",
        F.explode(
            F.sequence(F.col("_d"), F.date_add(F.col("_d"), days - 1))
        ).alias("_day"),
    )
    return (
        contrib.join(F.broadcast(observed), "_day", "semi")
        .groupBy(F.col("_day").alias("day"))
        .agg(F.countDistinct("_k").alias(out_col))
    )
