"""Query registry, part 5 (round 3): event analytics + ops diagnostics.

Product-analytics operators over the events stream (sequential funnel,
interval-containment joins, rolling anomaly detection) and the skew
diagnostics an operator of a 1000-executor cluster actually runs before
tuning a join. Same lockstep oracle invariants as queries.py.

Determinism techniques used here (building on queries.py's notes):
- every windowed sum is a dround'd aggregate of dround'd day totals, so
  downstream arithmetic ((x-mean)/std, sqrt) runs on IDENTICAL doubles
  in both engines — IEEE +,-,*,/,sqrt are exactly rounded, so identical
  inputs give bit-identical outputs; only multi-operand summation order
  and transcendentals can diverge, and both are rounded away first.
- ordered windows always carry a unique tie-break column (event_id) —
  ties on ts alone would make lag()/row_number() engine-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.scalar import dround
from .queries import _register, _t

# ---------------------------------------------------------------------------
# Sequential conversion funnel
# ---------------------------------------------------------------------------


_FUNNEL_SEC = 86400  # each step must follow the previous within 24h


@_register(
    "funnel_steps",
    f"""
    WITH s1 AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t_view
      FROM events
    ),
    s2 AS (
      SELECT *,
             min(CASE WHEN event_type = 'click' AND ts >= t_view
                       AND date_diff('second', t_view, ts) <= {_FUNNEL_SEC}
                 THEN ts END)
               OVER (PARTITION BY user_id) AS t_click
      FROM s1
    ),
    s3 AS (
      SELECT *,
             min(CASE WHEN event_type = 'purchase' AND ts >= t_click
                       AND date_diff('second', t_click, ts) <= {_FUNNEL_SEC}
                 THEN ts END)
               OVER (PARTITION BY user_id) AS t_purchase
      FROM s2
    ),
    per_user AS (
      SELECT user_id, max(t_view) AS t_view, max(t_click) AS t_click,
             max(t_purchase) AS t_purchase
      FROM s3 GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           count(t_view) AS n_view,
           count(t_click) AS n_view_click,
           count(t_purchase) AS n_full_funnel
    FROM per_user
    """,
)
def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict sequential funnel: users who viewed, then clicked within
    24h at-or-after their first view, then purchased within 24h of that
    click. Order matters — a purchase BEFORE the first view does not
    convert — which is what separates a funnel from three independent
    counts; the step deadline is what separates a funnel from
    eventually-did-everything.

    Expressed as three stacked min-over-partition windows (each step's
    threshold feeds the next step's CASE) on the SAME user partitioning:
    one shuffle, one window operator pass per step, no self-joins of the
    event log and no per-user collect. At 100 TB the event log shuffles
    once on user_id and every step is partition-local."""
    w = Window.partitionBy("user_id")
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s1 = ev.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    def within(earlier, later):
        return (F.unix_timestamp(later) - F.unix_timestamp(earlier)) <= (
            _FUNNEL_SEC
        )

    s2 = s1.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") >= F.col("t_view"))
                & within(F.col("t_view"), F.col("ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") >= F.col("t_click"))
                & within(F.col("t_click"), F.col("ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = s3.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_view_click"),
        F.count("t_purchase").alias("n_full_funnel"),
    )


# ---------------------------------------------------------------------------
# Interval-containment join: errors attributed to sessions
# ---------------------------------------------------------------------------

_GAP_MIN = 30


@_register(
    "errors_in_sessions",
    f"""
    WITH base AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type <> 'error'
    ),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts)
                          > {_GAP_MIN * 60}
                  THEN 1 ELSE 0 END AS is_new
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS session_seq
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, session_seq,
             min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events
      FROM numbered GROUP BY user_id, session_seq
    ),
    err AS (
      SELECT user_id, ts FROM events WHERE event_type = 'error'
    )
    SELECT s.user_id,
           CAST(s.session_seq AS BIGINT) AS session_seq,
           s.n_events,
           count(e.ts) AS n_errors
    FROM sessions s
    LEFT JOIN err e
      ON e.user_id = s.user_id
     AND e.ts >= s.session_start AND e.ts <= s.session_end
    GROUP BY s.user_id, s.session_seq, s.n_events
    """,
)
def errors_in_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join: sessionize the non-error event stream
    (30-min gaps-and-islands), then attribute each error event to the
    session interval that contains it. The join is an EQUI-join on
    user_id with the containment check as a residual predicate — both
    sides co-partition on the user, so at 100 TB nothing degenerates
    into a broadcast-nested-loop over the full event log (the failure
    mode of writing the range condition without the equality key).
    Errors between sessions attribute nowhere, by design."""
    ev = _t(spark, sf_dir, "events")
    base = ev.filter(F.col("event_type") != "error").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_sec = F.unix_timestamp(F.col("ts")) - F.unix_timestamp(
        F.lag("ts", 1).over(w)
    )
    flagged = base.withColumn(
        "is_new",
        F.when(gap_sec.isNull() | (gap_sec > _GAP_MIN * 60), 1).otherwise(0),
    )
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = flagged.withColumn(
        "session_seq", F.sum("is_new").over(running)
    )
    sessions = numbered.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    )
    joined = sessions.join(
        err,
        (F.col("e_user") == F.col("user_id"))
        & (F.col("e_ts") >= F.col("session_start"))
        & (F.col("e_ts") <= F.col("session_end")),
        "left",
    )
    return joined.groupBy("user_id", "session_seq", "n_events").agg(
        F.count("e_ts").alias("n_errors")
    ).select(
        "user_id",
        F.col("session_seq").cast("bigint").alias("session_seq"),
        "n_events",
        "n_errors",
    )


# ---------------------------------------------------------------------------
# Rolling z-score anomaly detection
# ---------------------------------------------------------------------------

_ANOM_DAYS = 28


@_register(
    "revenue_anomalies",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             round(sum(o_totalprice), 2) AS day_revenue
      FROM orders GROUP BY 1
    ),
    framed AS (
      SELECT day, day_revenue,
             round(sum(day_revenue) OVER w, 2) AS r_sum,
             round(sum(day_revenue * day_revenue) OVER w, 2) AS r_sumsq,
             count(*) OVER w AS n
      FROM daily
      WINDOW w AS (ORDER BY day
                   RANGE BETWEEN INTERVAL {_ANOM_DAYS} DAY PRECEDING
                            AND INTERVAL 1 DAY PRECEDING)
    )
    SELECT day, day_revenue,
           round(r_sum / n, 2) AS mean_rev,
           round((day_revenue - r_sum / n)
                 / sqrt((r_sumsq - r_sum * r_sum / n) / (n - 1)), 3) AS z,
           CASE WHEN abs(round((day_revenue - r_sum / n)
                   / sqrt((r_sumsq - r_sum * r_sum / n) / (n - 1)), 3)) > 2.0
                THEN 1 ELSE 0 END AS is_anomaly
    FROM framed
    WHERE n >= 7 AND (r_sumsq - r_sum * r_sum / n) / (n - 1) > 0
    """,
)
def revenue_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each day's revenue against
    the TRAILING {28}-day window (current day excluded — including it
    would let the outlier dilute its own baseline). Mean and variance
    come from windowed sum/sumsq that are ROUNDED FIRST in both
    engines, so the z arithmetic (including sqrt, exactly rounded per
    IEEE) is bit-identical cross-engine — no stddev_samp, whose
    summation order is engine-dependent.

    Scale shape: the window runs over the DAILY aggregate (bounded:
    one row per day), not the order log — the heavy lifting is the
    one groupBy(day); a global date-ordered window over a few thousand
    rows is driver-trivial at any corpus size. Warm-up days (fewer
    than 7 observations) and zero-variance frames are excluded."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(dround(F.sum("o_totalprice"), 2).alias("day_revenue"))
    w = (
        Window.orderBy(F.col("day").cast("timestamp").cast("long"))
        .rangeBetween(-_ANOM_DAYS * 86400, -86400)
    )
    framed = daily.select(
        "day",
        "day_revenue",
        dround(F.sum("day_revenue").over(w), 2).alias("r_sum"),
        dround(
            F.sum(F.col("day_revenue") * F.col("day_revenue")).over(w), 2
        ).alias("r_sumsq"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    var = (F.col("r_sumsq") - F.col("r_sum") * F.col("r_sum") / F.col("n")) / (
        F.col("n") - 1
    )
    z = dround(
        (F.col("day_revenue") - F.col("r_sum") / F.col("n")) / F.sqrt(var), 3
    )
    return (
        framed.filter((F.col("n") >= 7) & (var > 0))
        .select(
            "day",
            "day_revenue",
            dround(F.col("r_sum") / F.col("n"), 2).alias("mean_rev"),
            z.alias("z"),
            F.when(F.abs(z) > 2.0, 1).otherwise(0).alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# Join-key skew diagnostics
# ---------------------------------------------------------------------------


@_register(
    "key_skew_profile",
    """
    WITH counts AS (
      SELECT l_suppkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1
    ),
    stats AS (
      SELECT count(*) AS n_keys, sum(cnt) AS total, max(cnt) AS max_cnt
      FROM counts
    ),
    ranked AS (
      SELECT key, cnt,
             row_number() OVER (ORDER BY cnt DESC, key) AS rnk
      FROM counts
    )
    SELECT r.rnk, r.key, r.cnt,
           round(r.cnt * 1.0 / s.total, 6) AS share,
           round(s.max_cnt * s.n_keys * 1.0 / s.total, 3) AS skew_factor
    FROM ranked r CROSS JOIN stats s
    WHERE r.rnk <= 5
    """,
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics: the top-5 heaviest l_suppkey values
    with their row share, plus the table-wide skew factor
    (max key count / mean key count) — >~5 is the signal to reach for
    salting (operators/skew.salted_join) or AQE skew-join before
    running the real join. One aggregate over the fact table, a tiny
    top-k window over the per-key counts, and a broadcast of the
    1-row stats — the diagnostic costs one shuffle, which is the
    cheapest insurance a 100 TB join can buy."""
    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("total"),
        F.max("cnt").alias("max_cnt"),
    )
    ranked = counts.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.col("cnt").desc(), "key"))
    ).filter(F.col("rnk") <= 5)
    return ranked.crossJoin(F.broadcast(stats)).select(
        "rnk",
        "key",
        "cnt",
        dround(F.col("cnt") * F.lit(1.0) / F.col("total"), 6).alias("share"),
        dround(
            F.col("max_cnt") * F.col("n_keys") * F.lit(1.0) / F.col("total"), 3
        ).alias("skew_factor"),
    )


# ---------------------------------------------------------------------------
# Percentile-cutpoint bucket assignment (broadcast range join)
# ---------------------------------------------------------------------------

_N_BUCKETS = 10


def _decile_sql() -> str:
    cut_cols = ",\n             ".join(
        f"round(quantile_cont(o_totalprice, {i / 10}), 2) AS c{i}"
        for i in range(1, _N_BUCKETS)
    )
    bucket = " + ".join(
        f"(CASE WHEN o_totalprice > c{i} THEN 1 ELSE 0 END)"
        for i in range(1, _N_BUCKETS)
    )
    return f"""
    WITH cuts AS (
      SELECT {cut_cols}
      FROM orders
    )
    SELECT CAST(1 + {bucket} AS INT) AS decile,
           count(*) AS n_orders,
           round(min(o_totalprice), 2) AS lo_price,
           round(max(o_totalprice), 2) AS hi_price
    FROM orders CROSS JOIN cuts
    GROUP BY 1
    """


@_register("decile_buckets", _decile_sql())
def decile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-height bucket assignment via percentile CUTPOINTS + a
    broadcast range comparison — the 100 TB alternative to
    customer_quartiles' single-reducer ntile(): the cutpoint aggregate
    reduces to ONE tiny row (exact type-7 percentiles here;
    percentile_approx is the drop-in at extreme scale), that row
    broadcasts, and bucket assignment becomes a codegen'd sum of nine
    scalar comparisons inside the scan — no global sort, no single
    partition, no shuffle beyond the final per-bucket rollup.

    Boundary determinism: cutpoints are rounded to cents BEFORE the
    comparisons in both engines, so a price can never straddle a
    cutpoint differently across engines."""
    orders = _t(spark, sf_dir, "orders")
    # ONE array-form percentile aggregate: nine scalar percentile()
    # calls would each buffer the full column in the agg (9x memory,
    # 9x sort work); the array form buffers and sorts once and reads
    # all nine cutpoints out of it
    fracs = ", ".join(str(i / 10) for i in range(1, _N_BUCKETS))
    cuts = orders.agg(
        F.expr(f"percentile(o_totalprice, array({fracs}))").alias("_cs")
    ).select(
        *[
            dround(F.col("_cs")[i - 1], 2).alias(f"c{i}")
            for i in range(1, _N_BUCKETS)
        ]
    )
    decile = F.lit(1)
    for i in range(1, _N_BUCKETS):
        decile = decile + F.when(
            F.col("o_totalprice") > F.col(f"c{i}"), 1
        ).otherwise(0)
    return (
        orders.crossJoin(F.broadcast(cuts))
        .select(decile.cast("int").alias("decile"), "o_totalprice")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dround(F.min("o_totalprice"), 2).alias("lo_price"),
            dround(F.max("o_totalprice"), 2).alias("hi_price"),
        )
    )


# ---------------------------------------------------------------------------
# Stream-static broadcast enrichment
# ---------------------------------------------------------------------------


@_register(
    "stream_enriched_totals",
    """
    SELECT c.c_mktsegment AS segment,
           e.event_type,
           count(*) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_enriched_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join, drained to batch: the readStream event flow
    is enriched against the static customer dimension via a per-batch
    broadcast hash join (no join state store — only the downstream
    per-segment aggregate keeps state), then rolled up. Must equal the
    plain batch join+rollup byte for byte, which is exactly what the
    oracle checks."""
    from .streaming.events import (
        drain_to_batch,
        enriched_totals_stream,
        read_events_stream,
    )

    stream = read_events_stream(spark, sf_dir)
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return drain_to_batch(
        enriched_totals_stream(stream, dim), output_mode="complete"
    )


# ---------------------------------------------------------------------------
# Multimodal planning stages (codec-free, header-parse-driven)
# ---------------------------------------------------------------------------


@_register(
    "media_resize_plan",
    """
    WITH img AS (
      SELECT doc_id,
             CASE WHEN doc_id % 6 = 0 THEN 'png' ELSE 'jpeg' END AS format,
             CASE WHEN doc_id % 6 = 0 THEN 1 + doc_id % 640
                  ELSE 1 + doc_id % 512 END AS w,
             CASE WHEN doc_id % 6 = 0 THEN 1 + doc_id % 480
                  ELSE 1 + doc_id % 384 END AS h
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT doc_id, format,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(greatest(1, floor(w * least(CAST(128 AS DOUBLE) / w,
                                            CAST(128 AS DOUBLE) / h,
                                            CAST(1 AS DOUBLE)))) AS INT)
             AS target_w,
           CAST(greatest(1, floor(h * least(CAST(128 AS DOUBLE) / w,
                                            CAST(128 AS DOUBLE) / h,
                                            CAST(1 AS DOUBLE)))) AS INT)
             AS target_h
    FROM img
    """,
)
def media_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail sizing over REAL parsed image headers: fabricate the
    media column (with_media), struct-parse each PNG IHDR / JPEG SOF0
    inside the Arrow batcher, and compute aspect-preserving
    fit-in-128x128 target dimensions. The oracle re-derives width and
    height arithmetically from doc_id and replays the identical
    double-precision scale computation — a header-parse bug or a
    float-semantics drift is a hash mismatch. Python's int() truncation
    equals floor here (positive scales), and every division is
    exact-rounded IEEE on both engines."""
    from .operators.multimodal import plan_thumbnails, with_media

    docs = _t(spark, sf_dir, "documents")
    return plan_thumbnails(with_media(docs), max_w=128, max_h=128)


@_register(
    "media_frame_samples",
    """
    WITH v AS (
      SELECT doc_id, CAST(1 + doc_id % 12 AS INT) AS n_frames
      FROM documents WHERE doc_id % 3 = 2
    )
    SELECT doc_id, n_frames,
           CAST(unnest(range(0, n_frames, 5)) AS INT) AS frame_idx
    FROM v
    """,
)
def media_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan: one output row per sampled frame index
    (every 5th) of each video payload — the one-row-in/many-rows-out
    batch-explode contract of a real frame extractor, run through
    mapInPandas. Since round 8 the video payloads are complete
    YUV4MPEG2 streams, so the probe is a REAL container walk
    (parse_media_header counts actual FRAME units) and the oracle
    recomputes the same 1 + doc_id%12 count arithmetically."""
    from .operators.multimodal import plan_frame_samples, with_media

    docs = _t(spark, sf_dir, "documents")
    return plan_frame_samples(with_media(docs), every_n=5)


# ---------------------------------------------------------------------------
# Point-in-time feature join (leakage-safe as-of features)
# ---------------------------------------------------------------------------


@_register(
    "pit_features_at_purchase",
    """
    WITH feats AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             count(*) AS feat_events,
             round(sum(value), 2) AS feat_value
      FROM events GROUP BY 1, 2
    ),
    u AS (
      SELECT user_id,
             CAST(day + INTERVAL 1 DAY AS TIMESTAMP) AS ts,
             0 AS side, CAST(-1 AS BIGINT) AS event_id,
             day AS feat_day, feat_events, feat_value
      FROM feats
      UNION ALL
      SELECT user_id, ts, 1 AS side, event_id,
             CAST(NULL AS DATE) AS feat_day,
             CAST(NULL AS BIGINT) AS feat_events,
             CAST(NULL AS DOUBLE) AS feat_value
      FROM events WHERE event_type = 'purchase'
    ),
    w AS (
      SELECT *,
             last_value(feat_day IGNORE NULLS) OVER win AS f_day,
             last_value(feat_events IGNORE NULLS) OVER win AS f_events,
             last_value(feat_value IGNORE NULLS) OVER win AS f_value
      FROM u
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, event_id
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id, user_id, ts AS purchase_ts,
           f_day AS feat_day, f_events AS feat_events, f_value AS feat_value
    FROM w WHERE side = 1
    """,
)
def pit_features_at_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature retrieval (the feature-store read):
    each purchase event gets the latest DAILY user features computed
    from days STRICTLY BEFORE its own day — a feature row becomes
    effective at its day's end, so same-day activity (including the
    purchase itself) can never leak into the features that describe it.

    Shape: the union + last_value(IGNORE NULLS) running-window as-of
    join (operators/joins.as_of_join's formulation) — one shuffle on
    user_id, one ordered window pass, no per-purchase subquery and no
    range self-join. The tie rule is explicit: at equal timestamps the
    feature row sorts first (side 0), so a midnight purchase sees the
    just-closed day."""
    ev = _t(spark, sf_dir, "events")
    feats = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("feat_events"),
        dround(F.sum("value"), 2).alias("feat_value"),
    )
    f_side = feats.select(
        "user_id",
        F.date_add(F.col("day"), 1).cast("timestamp").alias("ts"),
        F.lit(0).alias("side"),
        F.lit(-1).cast("bigint").alias("event_id"),
        F.col("day").alias("feat_day"),
        "feat_events",
        "feat_value",
    )
    p_side = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        "event_id",
        F.lit(None).cast("date").alias("feat_day"),
        F.lit(None).cast("bigint").alias("feat_events"),
        F.lit(None).cast("double").alias("feat_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = f_side.unionByName(p_side).select(
        "*",
        F.last("feat_day", ignorenulls=True).over(w).alias("f_day"),
        F.last("feat_events", ignorenulls=True).over(w).alias("f_events"),
        F.last("feat_value", ignorenulls=True).over(w).alias("f_value"),
    )
    return joined.filter(F.col("side") == 1).select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("f_day").alias("feat_day"),
        F.col("f_events").alias("feat_events"),
        F.col("f_value").alias("feat_value"),
    )


# ---------------------------------------------------------------------------
# Time-hierarchy rollup
# ---------------------------------------------------------------------------


@_register(
    "time_rollup_revenue",
    """
    WITH t AS (
      SELECT CAST(year(o_orderdate) AS INT) AS y,
             CAST(quarter(o_orderdate) AS INT) AS q,
             o_totalprice
      FROM orders
    )
    SELECT coalesce(y, -1) AS year,
           coalesce(q, -1) AS quarter,
           CAST(grouping(y) * 2 + grouping(q) AS INT) AS grain,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM t
    GROUP BY ROLLUP (y, q)
    """,
)
def time_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-hierarchy rollup: revenue at (year, quarter), per-year
    subtotal, and grand total from ONE shuffle via ROLLUP — the time
    twin of the geo rollup_revenue, exercising the date-part functions
    (year/quarter are engine-identical on date inputs). The grain
    bitmask disambiguates rolled-up nulls; coalesce(-1) keeps the
    output columns typed INT rather than nullable-with-meaning."""
    orders = _t(spark, sf_dir, "orders")
    t = orders.select(
        F.year("o_orderdate").cast("int").alias("y"),
        F.quarter("o_orderdate").cast("int").alias("q"),
        "o_totalprice",
    )
    return (
        t.rollup("y", "q")
        .agg(
            (F.grouping("y") * 2 + F.grouping("q")).cast("int").alias("grain"),
            F.count(F.lit(1)).alias("n_orders"),
            dround(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select(
            F.coalesce(F.col("y"), F.lit(-1)).alias("year"),
            F.coalesce(F.col("q"), F.lit(-1)).alias("quarter"),
            "grain",
            "n_orders",
            "revenue",
        )
    )


# ---------------------------------------------------------------------------
# Cohort retention
# ---------------------------------------------------------------------------


@_register(
    "cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS first_day FROM events
      GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             CAST(floor(date_diff('day', DATE '2024-01-01', f.first_day)
                        / 7) AS INT) AS cohort_week,
             CAST(floor(date_diff('day', f.first_day, CAST(e.ts AS DATE))
                        / 7) AS INT) AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_offset,
           count(*) AS n_active
    FROM activity
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted as active in each subsequent week offset — THE
    product-analytics retention table. Two aggregates over one user_id
    partitioning: first-activity via min(ts) per user, then distinct
    (user, cohort, offset) membership rolled up; the per-user first day
    joins back co-partitioned, so the event log shuffles once.

    Weeks anchor on the corpus epoch (2024-01-01) for the cohort axis
    and on each user's own first day for the offset axis — integer day
    arithmetic on DATEs, identical across engines."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("first_day")
    )
    epoch = F.lit("2024-01-01").cast("date")
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            F.floor(F.datediff(F.col("first_day"), epoch) / 7)
            .cast("int")
            .alias("cohort_week"),
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("first_day")) / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )


# ---------------------------------------------------------------------------
# Unpivot / melt (wide -> long)
# ---------------------------------------------------------------------------


@_register(
    "unpivot_part_metrics",
    """
    WITH u AS (
      SELECT p_partkey, 'p_size' AS metric,
             CAST(p_size AS DOUBLE) AS value FROM part
      UNION ALL
      SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
    )
    SELECT metric,
           count(*) AS n_parts,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value,
           round(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) * 1.0
                 / count(value) / 100.0, 4) AS avg_value
    FROM u
    GROUP BY metric
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the part table's numeric metric columns turned
    into (key, metric, value) rows via the native DataFrame.unpivot —
    ONE expression per row expansion inside the scan (the Expand
    operator), not a UNION of N self-reads that would scan the table
    once per metric — then profiled per metric. The long layout is what
    generic profilers and metric stores consume. Averages use the
    fixed-point cent-sum form so summation order cannot drift the
    hash."""
    from .operators.aggs import avg_fixedpoint

    part = _t(spark, sf_dir, "part")
    long = part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    ).unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    )
    return long.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n_parts"),
        dround(F.min("value"), 2).alias("min_value"),
        dround(F.max("value"), 2).alias("max_value"),
        avg_fixedpoint(F.col("value"), 100, 4).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# Vector normalization profile
# ---------------------------------------------------------------------------


@_register(
    "embedding_norms",
    """
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
                            x -> floor(CAST(x AS DOUBLE) * 1000 + 0.5)) AS e
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, label,
             len(e) AS n_dims,
             list_dot_product(e, e) AS sq,
             list_max(list_transform(e, x -> abs(x))) AS max_abs
      FROM q
    )
    SELECT CAST(label AS INT) AS label,
           count(*) AS n_vecs,
           round(avg(round(sqrt(sq), 4)), 4) AS avg_norm,
           round(max(round(sqrt(sq), 4)), 4) AS max_norm,
           CAST(max(max_abs) AS BIGINT) AS max_abs_component,
           CAST(min(n_dims) AS INT) AS n_dims
    FROM n
    GROUP BY label
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm profile of the embedding corpus — the sanity
    pass before any cosine machinery (un-normalized or zero vectors
    break cosine assumptions silently). Vectors are quantized to
    integer-valued doubles FIRST (the same x1000 lattice every vector
    operator here uses), so dot products are exact in any order; sqrt
    is exactly rounded per IEEE, and each norm is rounded before the
    avg/max so both engines aggregate identical doubles.

    The per-vector math is aggregate/transform higher-order functions —
    interpreted, not codegen'd, which is acceptable for a profile query
    (one pass, 64 elements/row); the hot GEMM paths live in
    operators/vectors.py as Arrow-batched numpy."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)),
    )
    q = emb.select("vec_id", "label", e.alias("e"))
    sq = F.aggregate(
        F.zip_with("e", "e", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = q.select(
        "label",
        F.size("e").alias("n_dims"),
        sq.alias("sq"),
        F.array_max(F.transform("e", lambda x: F.abs(x))).alias("max_abs"),
    )
    norm4 = dround(F.sqrt(F.col("sq")), 4)
    return n.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        dround(F.avg(norm4), 4).alias("avg_norm"),
        dround(F.max(norm4), 4).alias("max_norm"),
        F.max("max_abs").cast("bigint").alias("max_abs_component"),
        F.min("n_dims").cast("int").alias("n_dims"),
    )


# ---------------------------------------------------------------------------
# Left-semi join (EXISTS semantics)
# ---------------------------------------------------------------------------


@_register(
    "urgent_customers_by_segment",
    """
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_customers,
           round(sum(c.c_acctbal), 2) AS total_acctbal
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderpriority = '1-URGENT'
    )
    GROUP BY 1
    """,
)
def urgent_customers_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS semantics as a LEFT SEMI join: customers with at least
    one urgent order, rolled up per market segment — the semi join
    emits each matching customer ONCE regardless of how many urgent
    orders they placed (an inner join + distinct would pay an extra
    dedup shuffle for the same answer).
    The probe side carries only the join key through the shuffle, and
    the priority filter pushes into the orders scan."""
    cust = _t(spark, sf_dir, "customer")
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        cust.join(urgent, cust["c_custkey"] == urgent["o_custkey"], "left_semi")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dround(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# SCD-2 state history (consecutive-state compression into intervals)
# ---------------------------------------------------------------------------


@_register(
    "scd2_user_states",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
      SELECT user_id, ts, event_id, event_type
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id,
           event_type AS state,
           ts AS valid_from,
           lead(ts) OVER w2 AS valid_to,
           CASE WHEN lead(ts) OVER w2 IS NULL THEN 1 ELSE 0 END AS is_current
    FROM changes
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_user_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 build from an event stream: consecutive events of the
    same type collapse into ONE state row with a validity interval
    [valid_from, valid_to) — valid_to NULL marks the current state.
    This is the standard dimension-history construction (change-point
    detection via lag, interval close via lead), and the output is the
    table as-of joins and point-in-time reads consume.

    Two stacked windows over the SAME (user, ts, event_id) ordering:
    one shuffle, one sort, change detection and interval close both
    partition-local. The event_id tie-break keeps equal-timestamp
    ordering engine-identical (the ordered-window rule this module's
    header states)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = ordered.filter(
        F.col("prev_type").isNull()
        | (F.col("event_type") != F.col("prev_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.when(F.lead("ts").over(w2).isNull(), 1).otherwise(0).alias(
            "is_current"
        ),
    )


# ---------------------------------------------------------------------------
# Closed-form OLS revenue trend (round 3b)
# ---------------------------------------------------------------------------


@_register(
    "revenue_trend_by_nation",
    """
    WITH daily AS (
      SELECT c.c_nationkey AS nk,
             CAST(date_diff('day', TIMESTAMP '1995-01-01',
                            o.o_orderdate) AS BIGINT) AS x,
             sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
               AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY 1, 2
    )
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_days,
           round((count(*) * sum(x * cents) - sum(x) * sum(cents)) * 1.0
                 / (count(*) * sum(x * x) - sum(x) * sum(x)) / 100.0, 6)
             AS slope_per_day,
           round(sum(cents) / 100.0 / count(*), 2) AS mean_daily_revenue
    FROM daily
    JOIN nation n ON daily.nk = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def revenue_trend_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend for 1996 — closed-form OLS slope of
    daily revenue over the day index, computed ENTIRELY in integer
    arithmetic: revenue is quantized to cents (BIGINT), the day index
    is an integer, so n·Σxy − ΣxΣy and n·Σx² − (Σx)² are exact in both
    engines regardless of partial-aggregation order; the ONLY float
    ops are the final divide + round. This is the pattern for any
    per-group regression/trend at 100 TB: two stacked hash aggregates
    (day grain, then nation grain), no window, no model object, no
    driver round-trip — a million groups fit the same plan. Guards at
    the edge: every nation has >1 distinct day in a year of data, so
    the denominator cannot be zero."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), F.col("n_name").alias("nation")
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    daily = (
        o.join(F.broadcast(cust), o["o_custkey"] == cust["c_custkey"])
        .select(
            F.col("c_nationkey").alias("nk"),
            F.datediff(
                F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
            )
            .cast("long")
            .alias("x"),
            F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5))
            .cast("long")
            .alias("c0"),
        )
        .groupBy("nk", "x")
        .agg(F.sum("c0").alias("cents"))
    )
    n = F.count(F.lit(1))
    sx = F.sum("x")
    sy = F.sum("cents")
    sxy = F.sum(F.col("x") * F.col("cents"))
    sxx = F.sum(F.col("x") * F.col("x"))
    return (
        daily.join(F.broadcast(nat), "nk")
        .groupBy("nation")
        .agg(
            n.alias("n_days"),
            dround(
                (n * sxy - sx * sy) * F.lit(1.0) / (n * sxx - sx * sx)
                / F.lit(100.0),
                6,
            ).alias("slope_per_day"),
            dround(F.sum("cents") / F.lit(100.0) / n, 2).alias(
                "mean_daily_revenue"
            ),
        )
        .orderBy("nation")
    )


@_register(
    "forward_fill_values",
    """
    WITH gapped AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_id % 4 = 0 THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT event_id, user_id,
           (v IS NULL) AS was_gap,
           round(last_value(v IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 2) AS filled_value
    FROM gapped
    """,
)
def forward_fill_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (last observation carried forward) — the gap-repair
    primitive for sensor/metric streams. The corpus has no NULLs, so
    the query plants them deterministically (every event_id % 4 = 0)
    and repairs them with last-non-null over a (user, time) window;
    leading gaps stay NULL by contract. The window orders by (ts,
    event_id) — the unique tie-break that keeps IGNORE-NULLS
    last_value engine-independent when timestamps collide. One shuffle
    on user_id; state per row is O(1), so the plan is
    size-independent."""
    from .io import read_events

    ev = read_events(spark, sf_dir)
    gapped = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 4 == 0, None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return gapped.select(
        "event_id",
        "user_id",
        F.col("v").isNull().alias("was_gap"),
        dround(F.last("v", ignorenulls=True).over(w), 2).alias(
            "filled_value"
        ),
    )


@_register(
    "daily_count_revenue_corr",
    """
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(count(*) AS BIGINT) AS x,
             sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS y
      FROM orders GROUP BY o_orderdate
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round((count(*) * sum(x * y) - sum(x) * sum(y)) * 1.0
                 / sqrt((count(*) * sum(x * x) - sum(x) * sum(x)) * 1.0
                        * (count(*) * sum(y * y) - sum(y) * sum(y))), 6)
             AS pearson_r
    FROM daily
    """,
)
def daily_count_revenue_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of daily order count vs daily revenue — the
    profiling statistic behind 'is volume driving revenue'. Same
    exact-integer discipline as the OLS trend: counts and cent-
    quantized sums are BIGINTs, so every term in the correlation
    formula is exact regardless of aggregation order; the only float
    ops are the final sqrt + divide + round (correctly rounded IEEE,
    identical cross-engine). Two stacked hash aggregates; the second
    is a single-row reduce. Built-in F.corr would be the one-liner but
    computes running float moments whose summation order varies per
    partitioning — exactly the nondeterminism this engine rounds
    away."""
    o = _t(spark, sf_dir, "orders")
    # decimal(38,0): the y*y sums overflow int64 at scale; DuckDB
    # auto-promotes BIGINT sums to HUGEINT, Spark's exact analog is
    # decimal128 — still integer-exact and order-independent
    daily = (
        o.groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("x"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("decimal(38,0)")
            .alias("y"),
        )
    )
    n = F.count(F.lit(1))
    sx, sy = F.sum("x"), F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sxx = F.sum(F.col("x") * F.col("x"))
    syy = F.sum(F.col("y") * F.col("y"))
    return daily.agg(
        n.alias("n_days"),
        dround(
            (n * sxy - sx * sy)
            * F.lit(1.0)
            / F.sqrt(
                (n * sxx - sx * sx) * F.lit(1.0) * (n * syy - sy * sy)
            ),
            6,
        ).alias("pearson_r"),
    )


@_register(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    )
    SELECT src, dst,
           CAST(count(*) AS BIGINT) AS n,
           round(count(*) * 1.0
                 / sum(count(*)) OVER (PARTITION BY src), 6) AS p
    FROM seq WHERE dst IS NOT NULL
    GROUP BY src, dst
    ORDER BY src, dst
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream:
    counts and row-normalized probabilities of event_type -> next
    event_type per user. lead() with the (ts, event_id) unique
    tie-break gives deterministic successors; the per-source
    normalization is a window over the AGGREGATED matrix (|types|^2
    rows), not the fact — the in-plan share pattern (A6), no second
    scan, no driver round trip. One fact-sized shuffle (user window),
    one tiny one (matrix agg)."""
    from .io import read_events

    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    counts = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    wsrc = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        "n",
        dround(F.col("n") * F.lit(1.0) / F.sum("n").over(wsrc), 6).alias(
            "p"
        ),
    ).orderBy("src", "dst")


@_register(
    "revenue_gini",
    """
    WITH cust AS (
      SELECT o_custkey,
             sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS i
      FROM cust
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           round(2.0 * sum(CAST(i AS HUGEINT) * cents)
                 / (count(*) * sum(cents))
                 - (count(*) + 1.0) / count(*), 6) AS gini
    FROM ranked
    """,
)
def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the
    inequality statistic behind 'what share of revenue do the top
    customers hold'. Exact-integer discipline: per-customer cents are
    BIGINT, rank-weighted sums run in HUGEINT (DuckDB) / decimal128
    (Spark) so the classic G = 2*sum(i*y)/(n*sum(y)) - (n+1)/n formula
    is order-independent until the final float divide. The global
    rank sorts the CUSTOMER-grain aggregate, never the fact, and runs
    as the two-pass range-partitioned global_row_number (no single-
    reducer window — the straggler a partitionless Window.orderBy
    becomes at 10⁸ customers); ties on equal revenue break by custkey
    so both engines rank identically (Gini itself is tie-order
    invariant, the determinism is for the replay)."""
    from .operators.windows import global_row_number

    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
        ).alias("cents")
    )
    ranked = global_row_number(cust, ["cents", "o_custkey"], "i").select(
        F.col("cents").cast("decimal(38,0)").alias("cents"),
        F.col("i").cast("decimal(38,0)").alias("i"),
    )
    n = F.count(F.lit(1))
    return ranked.agg(
        n.alias("n_customers"),
        dround(
            F.lit(2.0) * F.sum(F.col("i") * F.col("cents"))
            / (n * F.sum("cents"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


@_register(
    "user_burstiness",
    """
    WITH gaps AS (
      SELECT user_id,
             CAST(date_diff('second',
                            lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id),
                            ts) AS BIGINT) AS gap
      FROM events
    ),
    stats AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(gap) AS HUGEINT) AS s1,
             CAST(sum(gap * gap) AS HUGEINT) AS s2
      FROM gaps WHERE gap IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id, n_gaps,
           round(s1 * 1.0 / n_gaps, 2) AS mean_gap_s,
           round(sqrt((n_gaps * s2 - s1 * s1) * 1.0) / s1, 4) AS cv
    FROM stats WHERE n_gaps >= 5 AND s1 > 0
    ORDER BY user_id
    """,
)
def user_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per user: coefficient of variation of
    the gaps between consecutive events (CV ~ 0 = metronome, ~1 =
    Poisson, >1 = bursty) — the behavioral signal session/anomaly
    pipelines threshold on. Gaps are exact integer seconds from a
    lag() window with the (ts, event_id) tie-break; sums and squared
    sums run in HUGEINT / decimal128 so the variance numerator
    n*s2 - s1^2 is exact at any parallelism, and
    CV = sqrt(n*s2 - s1^2) / s1 (the 1/n factors cancel) touches
    floats only in the final sqrt + divide + round. One fact shuffle
    (user window) + one user-grain aggregate."""
    from .io import read_events

    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    stats = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap").cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("gap") * F.col("gap")).cast("decimal(38,0)").alias("s2"),
    )
    return (
        stats.filter((F.col("n_gaps") >= 5) & (F.col("s1") > 0))
        .select(
            "user_id",
            "n_gaps",
            dround(F.col("s1") * F.lit(1.0) / F.col("n_gaps"), 2).alias(
                "mean_gap_s"
            ),
            dround(
                F.sqrt(
                    (
                        F.col("n_gaps") * F.col("s2")
                        - F.col("s1") * F.col("s1")
                    )
                    * F.lit(1.0)
                )
                / F.col("s1"),
                4,
            ).alias("cv"),
        )
        .orderBy("user_id")
    )


@_register(
    "events_near_errors",
    """
    SELECT e.event_id, e.user_id,
           CAST(count(c.ts) AS BIGINT) AS n_near_clicks,
           min(abs(epoch_us(c.ts) - epoch_us(e.ts))) AS min_gap_us
    FROM events e
    LEFT JOIN events c
      ON c.user_id = e.user_id AND c.event_type = 'click'
     AND abs(epoch_us(c.ts) - epoch_us(e.ts)) <= 14400000000
    WHERE e.event_type = 'error'
    GROUP BY 1, 2
    ORDER BY e.event_id
    """,
)
def events_near_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (range) join: for every error event, how many clicks the
    same user made within +/-4 hours, and the gap to the nearest one —
    the telemetry-correlation query that motivates a scalable range
    join. The oracle is the textbook inequality LEFT JOIN; the engine
    runs operators/rangejoin.py's bucketized band_join (3x bounded
    explode + equi-shuffle on (user_id, 4h bin) + exact integer-us
    residual — no per-key quadratics, no nested-loop join), then
    re-attaches zero-match errors with a left join against the
    error-grain counts. Gaps compare in integer microseconds, so the
    min and the band cut are exact on both engines."""
    from .operators.rangejoin import band_join

    ev = _t(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    delta_us = 4 * 3600 * 1_000_000
    pairs = band_join(
        err, clk, on=["user_id"], left_ts="ts", right_ts="c_ts",
        delta_us=delta_us,
    )
    gaps = (
        pairs.withColumn(
            "_gap",
            F.abs(F.unix_micros(F.col("c_ts")) - F.unix_micros(F.col("ts"))),
        )
        .groupBy("event_id")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min("_gap").alias("_min_gap"),
        )
    )
    return (
        err.join(gaps, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias(
                "n_near_clicks"
            ),
            F.col("_min_gap").alias("min_gap_us"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Grouped top-k with OTHER rollup
# ---------------------------------------------------------------------------


@_register(
    "top_brands_per_nation",
    """
    WITH rev AS (
      SELECT n.n_name AS nation_name, p.p_brand AS brand,
             CAST(floor(sum(l.l_extendedprice * (1 - l.l_discount))
                        * 100.0 + 0.5) / 100.0 AS DOUBLE) AS brand_revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY nation_name
                                   ORDER BY brand_revenue DESC, brand) AS rk
      FROM rev
    )
    SELECT nation_name,
           CASE WHEN rk <= 3 THEN brand ELSE 'OTHER' END AS brand_label,
           CAST(count(*) AS BIGINT) AS n_brands,
           CAST(floor(sum(brand_revenue) * 100.0 + 0.5) / 100.0 AS DOUBLE)
             AS revenue
    FROM ranked
    GROUP BY 1, 2
    ORDER BY nation_name, revenue DESC, brand_label
    """,
)
def top_brands_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation top-3 part brands by revenue, with every remaining
    brand rolled into one 'OTHER' row — the standard reporting shape
    (bounded rows per group, nothing silently dropped: the OTHER bucket
    keeps the grand total reconcilable against ungrouped revenue).

    Plan: one star join (nation/part broadcast under AQE), one
    (nation, brand)-keyed aggregate, a per-nation row_number over the
    ALREADY-AGGREGATED brand grain (25 nations x |brands| rows — never
    the fact table), then a regroup on the capped label. Ranking runs
    on the dround'd per-brand revenue so rank ties resolve identically
    in both engines (raw double sums can differ in the last ulp across
    summation orders, which would flip rank order and move a brand in/
    out of OTHER); the final revenue re-rounds the sum of those exact
    2-dp values.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    part = _t(spark, sf_dir, "part")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.col("p_brand").alias("brand"),
        )
        .agg(
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("brand_revenue")
        )
    )
    w = Window.partitionBy("nation_name").orderBy(
        F.col("brand_revenue").desc(), "brand"
    )
    ranked = rev.withColumn("rk", F.row_number().over(w))
    label = F.when(F.col("rk") <= 3, F.col("brand")).otherwise(
        F.lit("OTHER")
    )
    return (
        ranked.groupBy("nation_name", label.alias("brand_label"))
        .agg(
            F.count(F.lit(1)).alias("n_brands"),
            dround(F.sum("brand_revenue"), 2).alias("revenue"),
        )
        .orderBy("nation_name", F.col("revenue").desc(), "brand_label")
    )


# ---------------------------------------------------------------------------
# Sliding-window distinct aggregation
# ---------------------------------------------------------------------------


@_register(
    "rolling_active_users",
    """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    observed AS (SELECT DISTINCT d AS day FROM du),
    contrib AS (
      SELECT du.user_id, CAST(du.d + (t.i * INTERVAL 1 DAY) AS DATE) AS day
      FROM du, range(0, 7) t(i)
    )
    SELECT c.day, count(DISTINCT c.user_id) AS active_users_7d
    FROM contrib c JOIN observed o ON c.day = o.day
    GROUP BY c.day
    ORDER BY c.day
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the sliding
    DISTINCT aggregation window frames cannot express (count(DISTINCT)
    OVER RANGE is unsupported; per-frame set state would be needed).
    Uses operators/windows.sliding_distinct_count: dedup to (user, day),
    explode each pair to the 7 window ends it feeds, countDistinct per
    end — shuffle volume is 7 x daily-actives after the dedup collapse,
    never 7 x raw events."""
    from .operators.windows import sliding_distinct_count

    ev = _t(spark, sf_dir, "events")
    return (
        sliding_distinct_count(
            ev, "ts", "user_id", days=7, out_col="active_users_7d"
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Robust statistics: winsorized means
# ---------------------------------------------------------------------------


@_register(
    "winsorized_order_stats",
    """
    WITH q AS (
      SELECT o_orderstatus,
             quantile_cont(o_totalprice, 0.05) AS lo,
             quantile_cont(o_totalprice, 0.95) AS hi
      FROM orders GROUP BY o_orderstatus
    ),
    clipped AS (
      SELECT o.o_orderstatus,
             greatest(least(o.o_totalprice, q.hi), q.lo) AS w
      FROM orders o JOIN q ON o.o_orderstatus = q.o_orderstatus
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(CAST(floor(w * 100.0 + 0.5) AS BIGINT)) * 1.0
                 / count(w) / 100.0, 4) AS winsorized_mean
    FROM clipped
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def winsorized_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust per-group mean: clip order totals to the group's
    exact [p05, p95] (type-7 interpolated percentile — Spark
    ``percentile`` and DuckDB ``quantile_cont`` agree bit for bit on
    identical inputs), then take the fixed-point mean of the clipped
    values. Winsorizing is the data-cleaning step that keeps a fat-tail
    sale or a corrupt price row from dragging a per-segment KPI; the
    fixed-point mean (cents-quantized exact integer sum) is what makes
    the result order-independent and therefore oracle-comparable.

    Plan: one percentile aggregate per group (tiny), broadcast back to
    the fact scan, clip in-row, one fixed-point aggregate — two
    shuffles, no window, no sort of the fact table.
    """
    from .operators.aggs import avg_fixedpoint

    orders = _t(spark, sf_dir, "orders")
    q = orders.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, array(0.05, 0.95))").alias("_q")
    ).select(
        "o_orderstatus",
        F.col("_q")[0].alias("_lo"),
        F.col("_q")[1].alias("_hi"),
    )
    clipped = orders.join(F.broadcast(q), "o_orderstatus").select(
        "o_orderstatus",
        F.greatest(F.least(F.col("o_totalprice"), F.col("_hi")), F.col("_lo")).alias(
            "_w"
        ),
    )
    return (
        clipped.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            avg_fixedpoint(F.col("_w"), 100, 4).alias("winsorized_mean"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Recursive CTE + snapshot reconciliation (round-10 extension)
# ---------------------------------------------------------------------------


def decayed_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE recursion through Spark 4's iterative WITH RECURSIVE
    execution (UnionLoop): an exponential-decay running revenue,
    w(t) = w(t-1) DIV 2 + revenue(t) over the month sequence, in EXACT
    integer cents. The integer floor-division makes the recurrence
    non-associative — no window-function closed form exists (unlike a
    float EWMA, which unrolls to sum(rev_i * d^(t-i))), so this is the
    class of sequential computation that genuinely needs the recursive
    operator rather than a window.

    DELIBERATELY NOT a registry/bench entry: it verified against its
    DuckDB recursive-CTE twin at sf0.001/0.01/0.1 during development
    (hash-equal at all three), but Spark 4.1's UnionLoopExec schedules
    every iteration as its own job — measured ~0.9s/iteration on
    local[32] EVEN when the recursion input is a cached or local
    12-row month table and regardless of broadcast hints — so an
    80-month recursion is a ~40s bench entry that times the scheduler
    floor, not the plan. The capability stays covered by the
    known-answer replay test (tests/test_reconcile_recursive.py); at
    real cluster scale the same caveat applies: prefer the recursive
    operator for depth-bounded calendars and pointer-jumping
    (operators/graph.py) for deep chains. Scale shape of THIS query:
    the recursion runs over the month table (one row per month), never
    the fact table; depth = month count (~80 here), inside Spark's
    default 100-level CTE recursion budget."""
    # self-registered single view (not ensure_star_views): the query
    # touches only orders, and the recursive SQL face must stay usable
    # on a bare orders table (tests feed hand-built snapshots)
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_dmr_orders")
    return spark.sql(
        """
        WITH RECURSIVE months AS (
          SELECT month, rev_cents,
                 row_number() OVER (ORDER BY month) AS i
          FROM (SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
                       sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                         AS rev_cents
                FROM _dmr_orders
                GROUP BY date_format(o_orderdate, 'yyyy-MM'))
        ),
        w(i, month, w_cents) AS (
          SELECT i, month, rev_cents FROM months WHERE i = 1
          UNION ALL
          SELECT m.i, m.month, (p.w_cents DIV 2) + m.rev_cents
          FROM w p JOIN months m ON m.i = p.i + 1
        )
        SELECT month, w_cents FROM w
        """
    )


@_register(
    "snapshot_reconcile_diff",
    """
    WITH o AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    a AS (SELECT o_orderkey, cents AS old_cents FROM o
          WHERE o_orderkey % 97 <> 0),
    b AS (SELECT o_orderkey,
                 CASE WHEN o_orderkey % 89 = 0 THEN cents + 150
                      ELSE cents END AS new_cents
          FROM o WHERE o_orderkey % 101 <> 0)
    SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change,
           a.old_cents, b.new_cents
    FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.old_cents <> b.new_cents
    """,
)
def snapshot_reconcile_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation via FULL OUTER join — the diff report a
    lakehouse runs when a source restates data between loads: yesterday
    (key-gated subset standing in for the pre-restatement snapshot) vs
    today (a second gate drops some rows, a third bumps some prices),
    classified added / removed / changed with both sides' values;
    unchanged rows are filtered out so the report is the diff, not the
    table. The full outer join is the one join shape the registry's
    star marts never need but reconciliation always does. Scale shape:
    both sides shuffle once on the join key (a full outer cannot
    broadcast); the diff filter runs in-join-output before anything
    else, so the report never materializes the unchanged majority."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    a = o.filter(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("_ka"), F.col("cents").alias("old_cents")
    )
    b = o.filter(F.col("o_orderkey") % 101 != 0).select(
        F.col("o_orderkey").alias("_kb"),
        F.when(F.col("o_orderkey") % 89 == 0, F.col("cents") + 150)
        .otherwise(F.col("cents"))
        .alias("new_cents"),
    )
    j = a.join(b, a["_ka"] == b["_kb"], "full_outer")
    return j.filter(
        F.col("_ka").isNull()
        | F.col("_kb").isNull()
        | (F.col("old_cents") != F.col("new_cents"))
    ).select(
        F.coalesce(F.col("_ka"), F.col("_kb")).alias("o_orderkey"),
        F.when(F.col("_ka").isNull(), "added")
        .when(F.col("_kb").isNull(), "removed")
        .otherwise("changed")
        .alias("change"),
        "old_cents",
        "new_cents",
    )
