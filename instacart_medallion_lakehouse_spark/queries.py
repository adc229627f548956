"""Query registry: every operator exposed as (spark, sf_dir) -> DataFrame,
with an exact ANSI-SQL twin for the DuckDB oracle.

This is the engine's public query surface, one entry per operator family
from SURVEY.md §2 / §7.3. INVARIANT: the Spark implementation and the
oracle SQL produce identical column names, identical rounding, and
deterministic ordering-independent row sets — the driver hash-compares
them at sf0.01 (row-count + schema + order-insensitive value hash).

Cross-engine semantics notes (discovered empirically, enforced here):
- always ``trim`` before regex-splitting text: DuckDB keeps trailing empty
  tokens, Spark (Java split) drops them.
- Spark ``dayofweek`` is 1=Sunday..7=Saturday; DuckDB ``dayofweek`` is
  0=Sunday..6=Saturday — both normalized to ISO (1=Monday) explicitly.
- session timezone is UTC on both engines (session.py).
- every aggregate over doubles is rounded (2-6 dp) in BOTH engines so FP
  summation order cannot flip the hash.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.scalar import dround
from .io import read_events
from .operators.aggs import avg_fixedpoint
from .operators.cleanse import dedup_keep_first, enrich_events_time
from .operators.joins import enriched_lineitem
from .operators.windows import sessionize
from .pins import release_pins  # noqa: F401  (re-export: harness/tests)
from .plans import marts
from .quality import duplicate_counts, null_counts, orphan_counts

QueryFn = Callable[[SparkSession, str], DataFrame]

# registry filled at import time by @_register
_QUERIES: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}


def _rewrite_rounds(sql: str) -> str:
    """Rewrite every ``round(EXPR, d)`` in oracle SQL to the explicit
    ``floor((EXPR) * 10^d + 0.5) / 10^d`` formula.

    Spark ``F.round`` (HALF_UP on the decimal string) and DuckDB ``round``
    (on the binary double) disagree on exact decimal midpoints, so BOTH
    sides use this one formula instead: the Spark implementations call
    ``functions.scalar.dround`` and the oracle text is rewritten here —
    written once, guaranteed in lockstep for every registered query.
    """
    out: list[str] = []
    i = 0
    low = sql.lower()
    while True:
        j = low.find("round(", i)
        while j > 0 and (sql[j - 1].isalnum() or sql[j - 1] == "_"):
            j = low.find("round(", j + 1)
        if j == -1:
            out.append(sql[i:])
            break
        out.append(sql[i:j])
        k = j + 5  # index of '('
        depth = 0
        while True:
            c = sql[k]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        inner = sql[j + 6 : k]
        depth2, split = 0, -1
        for idx, c in enumerate(inner):
            if c == "(":
                depth2 += 1
            elif c == ")":
                depth2 -= 1
            elif c == "," and depth2 == 0:
                split = idx
        expr, digits = inner[:split], int(inner[split + 1 :].strip())
        f = float(10**digits)
        out.append(f"(floor(({expr}) * {f} + 0.5) / {f})")
        i = k + 1
    return "".join(out)


def _register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        import functools

        from .pins import release_pins

        @functools.wraps(fn)
        def registry_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Release the cache pins left by PREVIOUSLY-run queries: a
            # sequential sweep then holds at most one query's pins in
            # executor storage (pins.py documents why release must
            # happen on the NEXT query's entry, not this one's exit).
            # Only the registry face is wrapped — direct module-level
            # calls between queries (composition) never release.
            release_pins()
            return fn(spark, sf_dir)

        _QUERIES[name] = registry_entry
        if oracle is not None:
            _ORACLE[name] = _rewrite_rounds(oracle)
        return fn

    return deco


# The external correctness harness cross-checks the FIRST 50 entries of
# ``queries()`` (dict order) against the DuckDB oracle each round. With 100+
# registered queries, registration order would leave the same tail unchecked
# every round. ``_WINDOW_PRIORITY`` pins the window to the queries where a
# hard cross-engine signal is most valuable THIS round: everything that was
# outside last round's window (so every oracle-twinned query earns a green
# driver row at least once), everything rewritten this round (vectors GEMM
# paths, label propagation, multimodal decode, nation_segments), and the
# hash-sensitive dedup/ANN/curation/streaming families. Queries pushed past
# slot 50 are the simplest, already-driver-green scans/rollups plus exact
# duplicates of in-window plans (stream_windowed_events ≡ windowed_events,
# region_performance_sql ≡ region_performance) and the no-oracle entries —
# the WHOLE registry stays gated locally by tools/check_oracle.py
# regardless of order.
_WINDOW_PRIORITY: tuple[str, ...] = (
    # =========== ROUND 12 WINDOW ===========
    # Priority per the r11 rotation plan (VERDICT r11 #1/#8): (1) the
    # two queries whose oracles failed the r11 driver gate (HUGEINT
    # sums, fixed this round — the window must PROVE the fix); (2)
    # every query whose PLAN round 12 rewrote — the bucketed span-run
    # and shingle stores and their consumers, the single-asset
    # audio/video builds, the shared TWS drain, the simhash
    # ReuseExchange form, the double pointer-jump CC — builds before
    # consumers in derived-table DAG order; (3) the r7 cohort
    # remainder per the recorded plan. Everything rotated out passed
    # in r11 (CORRECTNESS_r11: queries_newly_failing=[]); the WHOLE
    # registry stays gated locally by tools/check_oracle.py.
    # --- (1) the r11 gate-breakers, fixed in r12 ---
    "k_anonymity_profile",
    "stream_window_topk",
    # --- (2a) store BUILD entries, DAG order (ALL of them — builds
    # must precede their consumers in bench execution order, or the
    # window rotation silently re-attributes build costs) ---
    "shingle_index_table",
    "minhash_signature_table",
    "scored_docs_table",
    "doc_repetition_table",
    "contamination_flags_table",
    "span_run_index",
    "token_table",
    "boilerplate_phrases",
    "image_dhash_table",
    "audio_fp_table",
    "video_fp_table",
    # --- (2b) consumers of the r12-bucketed stores ---
    "ngram_jaccard_dedup",
    "ngram_jaccard_dedup_capped",
    "containment_pairs",
    "benchmark_contamination",
    "cross_source_dup_matrix",
    "minhash_lsh_dedup",
    "lsh_bucket_profile",
    "minhash_estimate_error",
    "incremental_minhash_dedup",
    "dedup_clusters",
    "cluster_canonicals",
    "curated_docs_v2",
    "long_run_overlap",
    "span_dup_clusters",
    "dup_span_coverage",
    "dedup_spans_text",
    "incremental_span_dedup",
    "image_dhash_dedup",
    "incremental_image_dedup",
    "audio_fp_dedup",
    "video_fp_dedup",
    # --- (2c) other r12-rewritten plans ---
    "simhash_dedup",
    "name_components_converged",
    "stream_tws_final_state",
    "ann_pq_topk",
    # --- (3) r7 cohort remainder (12 slots). ROTATION PLAN for the
    # next round, in priority order: (a) anything that round
    # rewrites, (b) the r7 remainder (top_brands_per_nation,
    # winsorized_order_stats, zipf_slope, then the q1..q22 TPC-H
    # members), (c) the r8 cohort, alphabetical. ---
    "pivot_status_revenue",
    "quality_score",
    "region_performance",
    "region_performance_sql",
    "repetition_ratio",
    "return_velocity",
    "ri_orphans",
    "rolling_active_users",
    "rollup_revenue",
    "sessionize",
    "source_quality_profile",
    "stream_hopping_events",
)


def _windowed(reg: dict) -> dict:
    missing = [n for n in _WINDOW_PRIORITY if n not in _QUERIES]
    if missing:  # fail loudly: a rename must update the priority list
        raise KeyError(f"_WINDOW_PRIORITY names unknown queries: {missing}")
    ordered = [n for n in _WINDOW_PRIORITY if n in reg]
    rest = [n for n in reg if n not in _WINDOW_PRIORITY]
    return {n: reg[n] for n in (*ordered, *rest)}


def queries() -> dict[str, QueryFn]:
    return _windowed(dict(_QUERIES))


def oracle_sql() -> dict[str, str]:
    return _windowed(dict(_ORACLE))


# ---------------------------------------------------------------------------
# Persisted derived-table store ("signature layer").
#
# Expensive derived layers (shingle index, MinHash signatures and bands,
# run index, media fingerprints, scoring passes) are consumed by several
# queries. At 100 TB you do not recompute a corpus signature pass per
# query: you persist it ONCE as a table asset and every consumer scans
# it. ``shared_table`` is the one entry point, with one contract: it
# always returns a DataFrame a consumer may read from several join sides
# without deciding anything.
#
# - Store on and sources fingerprintable: a STORED SCAN of a versioned
#   table (versioned.py) in the store directory, committed once by the
#   one versioned write. With a ``bucket_by`` key list the snapshot is
#   hash-bucketed and read as an external catalog table, so joins and
#   aggregates on those keys skip their exchange, in this session or a
#   later one. Stored scans are never pinned: re-reading a compact
#   columnar asset beats writing it into executor cache first.
# - Otherwise (store disabled by SPARK_GRAFT_SHARED_DIR='', or sources
#   that cannot be fingerprinted, e.g. synthetic test inputs): the fresh
#   build, pinned and materialized with one count(), so its
#   explode/aggregate chain runs once whatever the consumer does with
#   it. The pin is released on the next registry call (pins.py).
#
# Assets are keyed by (source files' identity, layer name, builder
# token) and re-read on every later request, across queries AND
# sessions. Invalidation is by source fingerprint (path+mtime+size), so
# a testdata regeneration rebuilds automatically.
# ---------------------------------------------------------------------------


def _shared_dir() -> str | None:
    import tempfile

    d = os.environ.get("SPARK_GRAFT_SHARED_DIR")
    if d == "":
        return None
    return d or os.path.join(tempfile.gettempdir(), "spark_graft_shared")


def clear_shared_store() -> None:
    """Drop every persisted derived table (bench calls this between
    passes so each pass pays the build exactly once — honest timing),
    and, through the active session if there is one, the catalog table
    over each bucketed data dir it deletes."""
    import glob
    import shutil

    from . import io

    d = _shared_dir()
    if not (d and os.path.isdir(d)):
        return
    spark = SparkSession.getActiveSession()
    if spark is not None:
        for data in glob.glob(os.path.join(glob.escape(d), "*", "_data", "v*")):
            spark.sql(f"DROP TABLE IF EXISTS {io.bucketed_table(data)}")
    shutil.rmtree(d, ignore_errors=True)


# Buckets of a bucketed store asset: the tasks per join of its
# consumers. 8 fits the sub-100k-row band and index tables at bench
# scale; a cluster sizes it once per corpus (write-time contract, see
# io.write_bucketed).
_STORE_BUCKETS = 8


def _store_fingerprint(
    sf_dir: str, sources: tuple[str, ...], token: str
) -> str | None:
    """Store key for a derived asset: ``sf_dir``, the builder ``token``
    and each source file's mtime+size, hashed. ``None`` when a source
    file is missing (nothing to key on)."""
    import hashlib

    fp = hashlib.md5()
    fp.update(sf_dir.encode())
    fp.update(f"|{token}|".encode())
    for s in sources:
        try:
            st = os.stat(os.path.join(sf_dir, s))
        except FileNotFoundError:
            return None
        fp.update(f"{s}:{st.st_mtime_ns}:{st.st_size}".encode())
    return fp.hexdigest()[:16]


def shared_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    builder: Callable[[], DataFrame],
    sources: tuple[str, ...] = ("documents.parquet",),
    token: str = "v1",
    bucket_by: list[str] | None = None,
) -> DataFrame:
    """Return the derived table ``name`` for ``sf_dir``: a stored scan
    whenever the store can key it, else ``pin(builder())`` materialized
    with one ``count()`` (the contract in the header above). Never
    ``None``; every consumer may read the result from several join
    sides.

    A stored asset is the versioned table ``{store}/{name}-{fingerprint}``
    (versioned.py), read with ``read_versioned``. A request that finds
    no committed version builds it and commits version 1; a concurrent
    builder that loses the publish race reads the winner's version.

    ``bucket_by=[...]`` commits it HASH-BUCKETED (``io.write_bucketed``,
    _STORE_BUCKETS buckets, sorted on the same keys) and the read is an
    external catalog table over the committed data dir: every later
    self-join or aggregate whose keys start with ``bucket_by`` then runs
    with NO exchange on the stored side — the shuffle happened ONCE at
    write time. The manifest records the layout, so a session whose
    catalog never saw the table registers it again instead of
    rebuilding.

    ``token`` versions the BUILDER LOGIC in the cache key: the store
    outlives the process, so a code change to anything the builder
    depends on (hash seeds, tokenization, shingle size, ...) would
    otherwise keep serving the stale pre-change table across sessions.
    Bump the caller's token whenever the builder's semantics change.
    """
    from . import io, versioned
    from .pins import pin

    root = _shared_dir()
    fp = None if root is None else _store_fingerprint(sf_dir, sources, token)
    if fp is None:
        built = pin(builder())
        built.count()
        return built
    path = os.path.join(root, f"{name}-{fp}")
    if not versioned.list_versions(path):
        layout = (bucket_by, _STORE_BUCKETS) if bucket_by else None
        # base 0: an asset has one version, whoever builds it; the loser
        # of a publish race reads the winner's, and drops the catalog
        # table over its own staged dir
        staged = None
        try:
            staged = versioned._stage(builder(), path, 0, bucket_by=layout)
            staged.publish()
        except versioned.CommitRace:
            if staged is not None and layout:
                data = os.path.join(path, staged.manifest["data"])
                spark.sql(f"DROP TABLE IF EXISTS {io.bucketed_table(data)}")
    return versioned.read_versioned(spark, path)


# Kept only because perfbench/instrument.py patches this name; ROADMAP
# item 4 (the benchmark reads engine telemetry) removes it.
shared_bucketed_table = shared_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return read_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# S1/S2/P1/F2 — bronze scan with literal metadata columns
# (reference 01_bronze_ingest.py:89-93; current_timestamp excluded from the
#  comparison surface per SURVEY.md §4.3.2)
# ---------------------------------------------------------------------------


@_register(
    "bronze_meta_scan",
    """
    SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice,
           l_returnflag, l_linestatus,
           'lineitem.parquet' AS _source_file,
           'bronze_v1' AS _bronze_version
    FROM lineitem
    """,
)
def bronze_meta_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
        "l_linestatus",
        F.lit("lineitem.parquet").alias("_source_file"),
        F.lit("bronze_v1").alias("_bronze_version"),
    )


# ---------------------------------------------------------------------------
# U1 — union all (reference 01_bronze_ingest.py:130-139)
# ---------------------------------------------------------------------------


@_register(
    "union_all",
    """
    WITH unioned AS (
      SELECT * FROM orders WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT * FROM orders WHERE o_orderstatus <> 'F'
    )
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM unioned GROUP BY o_orderstatus
    """,
)
def union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    unioned = orders.filter(F.col("o_orderstatus") == "F").union(
        orders.filter(F.col("o_orderstatus") != "F")
    )
    return unioned.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dround(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# W1/P4 — deterministic dedup keep-first (reference 02_silver_transform.py:
# 50-56/110-116, with the nondeterministic tie-break FIXED per §4.3.1)
# ---------------------------------------------------------------------------


@_register(
    "dedup_first",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type ORDER BY ts, event_id) AS _rn
      FROM events
    ) WHERE _rn = 1
    """,
)
def dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return dedup_keep_first(
        events, keys=["user_id", "event_type"], order_by=["ts", "event_id"]
    ).select("event_id", "ts", "user_id", "event_type", "value")


# ---------------------------------------------------------------------------
# F4/P8 — case-chain enrichment (reference 02_silver_transform.py:71-85)
# ---------------------------------------------------------------------------


@_register(
    "enrich_case",
    """
    SELECT event_id,
           hour(ts) AS event_hour,
           CASE WHEN hour(ts) BETWEEN 5 AND 11 THEN 'morning'
                WHEN hour(ts) BETWEEN 12 AND 16 THEN 'afternoon'
                WHEN hour(ts) BETWEEN 17 AND 20 THEN 'evening'
                ELSE 'night' END AS event_time_bucket,
           CASE iso_dow WHEN 1 THEN 'Monday' WHEN 2 THEN 'Tuesday'
                WHEN 3 THEN 'Wednesday' WHEN 4 THEN 'Thursday'
                WHEN 5 THEN 'Friday' WHEN 6 THEN 'Saturday'
                WHEN 7 THEN 'Sunday' ELSE 'unknown' END AS event_day_name
    FROM (SELECT *, CASE WHEN dayofweek(ts) = 0 THEN 7 ELSE dayofweek(ts) END
          AS iso_dow FROM events)
    """,
)
def enrich_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return enrich_events_time(events).select(
        "event_id", "event_hour", "event_time_bucket", "event_day_name"
    )


# ---------------------------------------------------------------------------
# Quality gates as 1-row DataFrames (reference utils/quality.py; SURVEY §2.11):
# each projects the engine gate's own counts aggregate (quality.*_counts)
# ---------------------------------------------------------------------------


@_register(
    "null_rate",
    """
    SELECT count(*) AS total,
           CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
           round(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS null_rate
    FROM events
    """,
)
def null_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = null_counts(_t(spark, sf_dir, "events"), "props")
    return counts.select(
        "total",
        F.col("bad").alias("nulls"),
        dround(F.col("bad") * F.lit(1.0) / F.col("total"), 6).alias("null_rate"),
    )


@_register(
    "duplicate_rate",
    """
    WITH grp AS (SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY l_orderkey)
    SELECT (SELECT count(*) FROM lineitem) AS total,
           CAST(COALESCE((SELECT sum(n) FROM grp WHERE n > 1), 0) AS BIGINT)
             AS dup_rows,
           round(COALESCE((SELECT sum(n) FROM grp WHERE n > 1), 0) * 1.0
                 / (SELECT count(*) FROM lineitem), 6) AS duplicate_rate
    """,
)
def duplicate_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference semantics: count ALL members of >1-sized key groups
    (utils/quality.py:65-94), via groupBy partial agg — not a window."""
    counts = duplicate_counts(_t(spark, sf_dir, "lineitem"), ["l_orderkey"])
    return counts.select(
        "total",
        F.col("bad").alias("dup_rows"),
        dround(F.col("bad") * F.lit(1.0) / F.col("total"), 6).alias("duplicate_rate"),
    )


@_register(
    "ri_orphans",
    """
    SELECT count(*) AS orphan_rows,
           (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL)
             AS child_rows
    FROM lineitem l
    WHERE l.l_orderkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    """,
)
def ri_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = orphan_counts(
        _t(spark, sf_dir, "lineitem"), "l_orderkey",
        _t(spark, sf_dir, "orders"), "o_orderkey",
    )
    return counts.select(
        F.col("bad").alias("orphan_rows"), F.col("total").alias("child_rows")
    )


# ---------------------------------------------------------------------------
# J1/P3 — 5-way star enrichment projection (reference 03_gold_metrics.py:53-71)
# ---------------------------------------------------------------------------


@_register(
    "star_enriched",
    """
    SELECT l.l_orderkey, l.l_partkey, l.l_linenumber, l.l_quantity,
           l.l_extendedprice, l.l_returnflag,
           o.o_custkey, o.o_orderstatus,
           c.c_name AS customer_name, c.c_mktsegment AS mktsegment,
           n.n_name AS nation_name, r.r_name AS region_name
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def star_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = lambda n: _t(spark, sf_dir, n)  # noqa: E731
    return enriched_lineitem(
        t("lineitem"), t("orders"), t("customer"), t("nation"), t("region")
    ).select(
        "l_orderkey",
        "l_partkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
        "o_custkey",
        "o_orderstatus",
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("n_name").alias("nation_name"),
        F.col("r_name").alias("region_name"),
    )


# ---------------------------------------------------------------------------
# F3 — deterministic MD5 surrogate key (reference 03_gold_metrics.py:85-88)
# ---------------------------------------------------------------------------


@_register(
    "fct_surrogate_key",
    """
    SELECT md5(concat_ws('_', COALESCE(CAST(l_orderkey AS VARCHAR), '<NULL>'),
                              COALESCE(CAST(l_partkey AS VARCHAR), '<NULL>'),
                              COALESCE(CAST(l_linenumber AS VARCHAR), '<NULL>')))
             AS line_key,
           l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_returnflag, l_linestatus
    FROM lineitem
    """,
)
def fct_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    return marts.fct_lineitem(_t(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# A1/A2/F4/F6/J3 — per-customer rollup (reference dim_users 03:104-157)
# ---------------------------------------------------------------------------


@_register(
    "dim_customers_rollup",
    """
    WITH order_stats AS (
      SELECT l_orderkey,
             count(*) AS basket_size,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS return_items,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
               * 100000000 // count(*) AS return_rate_e8
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_custkey,
           count(*) AS total_orders,
           CAST(COALESCE(sum(s.basket_size), 0) AS BIGINT) AS total_items,
           max(s.basket_size) AS max_basket_size,
           round(avg(s.basket_size), 2) AS avg_basket_size,
           round(sum(s.return_rate_e8) * 1.0 / count(s.return_rate_e8)
                 / 100000000.0, 4) AS avg_return_rate,
           round(sum(o.o_totalprice), 2) AS lifetime_value,
           CASE WHEN count(*) >= 15 THEN 'power'
                WHEN count(*) >= 8 THEN 'regular'
                ELSE 'casual' END AS customer_segment
    FROM orders o LEFT JOIN order_stats s ON o.o_orderkey = s.l_orderkey
    GROUP BY o.o_custkey
    """,
)
def dim_customers_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return marts.dim_customers(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )


# ---------------------------------------------------------------------------
# A3/A4/A8/J3 — per-part rollup (reference dim_products 03:161-228)
# ---------------------------------------------------------------------------


@_register(
    "dim_parts_rollup",
    """
    WITH stats AS (
      SELECT l.l_partkey,
             count(*) AS times_ordered,
             CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
               AS return_count,
             round(avg(CASE WHEN l.l_returnflag = 'R' THEN 1.0 ELSE 0.0 END), 4)
               AS return_rate,
             round(avg(CAST(l.l_linenumber AS DOUBLE)), 2) AS avg_cart_position,
             count(DISTINCT o.o_custkey) AS unique_customers
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY l.l_partkey
    )
    SELECT p.p_partkey, p.p_name, p.p_brand, p.p_type, p.p_retailprice,
           COALESCE(s.times_ordered, 0) AS times_ordered,
           COALESCE(s.return_count, 0) AS return_count,
           COALESCE(s.return_rate, 0.0) AS return_rate,
           s.avg_cart_position,
           COALESCE(s.unique_customers, 0) AS unique_customers,
           CASE WHEN COALESCE(s.times_ordered, 0) >= 100 THEN 'top'
                WHEN COALESCE(s.times_ordered, 0) >= 50 THEN 'high'
                WHEN COALESCE(s.times_ordered, 0) >= 20 THEN 'medium'
                ELSE 'long_tail' END AS popularity_tier
    FROM part p LEFT JOIN stats s ON p.p_partkey = s.l_partkey
    """,
)
def dim_parts_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return marts.dim_parts(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "part"),
    )


# ---------------------------------------------------------------------------
# J1/A4/A5/A6/O1 — flagship KPI mart (reference mart_dept_performance)
# ---------------------------------------------------------------------------


@_register(
    "region_performance",
    """
    WITH agg AS (
      SELECT r.r_name AS region_name, n.n_name AS nation_name,
             count(*) AS total_line_items,
             count(DISTINCT l.l_orderkey) AS unique_orders,
             count(DISTINCT o.o_custkey) AS unique_customers,
             count(DISTINCT l.l_partkey) AS unique_parts,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
             round(avg(l.l_quantity), 2) AS avg_quantity,
             round(avg(CASE WHEN l.l_returnflag = 'R' THEN 1.0 ELSE 0.0 END), 4)
               AS return_share,
             round(avg(CASE WHEN l.l_discount >= 0.05 THEN 1.0 ELSE 0.0 END), 4)
               AS promo_share
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY r.r_name, n.n_name
    )
    SELECT *, round(100.0 * total_line_items
                    / sum(total_line_items) OVER (), 4) AS pct_of_total_items
    FROM agg
    """,
)
def region_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = lambda n: _t(spark, sf_dir, n)  # noqa: E731
    return marts.region_performance(
        t("lineitem"), t("orders"), t("customer"), t("nation"), t("region")
    )


# ---------------------------------------------------------------------------
# W2/W3/F4/A7 — purchase-position velocity (reference mart_reorder_velocity)
# ---------------------------------------------------------------------------


@_register(
    "return_velocity",
    """
    WITH ranked AS (
      SELECT o.o_custkey, l.l_partkey,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS is_return,
             row_number() OVER (PARTITION BY o.o_custkey, l.l_partkey
                                ORDER BY o.o_orderdate, o.o_orderkey,
                                         l.l_linenumber) AS purchase_rank
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    )
    SELECT CASE WHEN purchase_rank = 1 THEN '1_first'
                WHEN purchase_rank <= 3 THEN '2_early'
                WHEN purchase_rank <= 10 THEN '3_developing'
                ELSE '4_habitual' END AS order_position_bucket,
           count(*) AS purchase_count,
           round(avg(CAST(is_return AS DOUBLE)), 4) AS return_rate
    FROM ranked
    GROUP BY 1
    HAVING count(*) >= 50
    """,
)
def return_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return marts.return_velocity(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )


# ---------------------------------------------------------------------------
# O3 — deterministic top-k (reference serverless verification queries)
# ---------------------------------------------------------------------------


@_register(
    "top_k",
    """
    WITH stats AS (
      SELECT l_partkey, count(*) AS times_ordered,
             round(avg(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END), 4)
               AS return_rate
      FROM lineitem GROUP BY l_partkey HAVING count(*) >= 20
    )
    SELECT p.p_partkey, p.p_name, s.times_ordered, s.return_rate
    FROM stats s JOIN part p ON s.l_partkey = p.p_partkey
    ORDER BY s.return_rate DESC, p.p_partkey
    LIMIT 10
    """,
)
def top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    return marts.top_returned_parts(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"), k=10
    )


# ---------------------------------------------------------------------------
# TPC-H Q1 shape — the classic pricing summary (scan+filter+agg benchmark
# headline; exercises A1-class agg without joins)
# ---------------------------------------------------------------------------


@_register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
             AS sum_charge,
           round(avg(l_quantity), 2) AS avg_qty,
           round(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) * 1.0
                 / count(l_extendedprice) / 100.0, 2) AS avg_price,
           round(sum(CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)) * 1.0
                 / count(l_discount) / 100.0, 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dround(F.sum("l_quantity"), 2).alias("sum_qty"),
        dround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        dround(F.sum(disc_price), 2).alias("sum_disc_price"),
        dround(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        dround(F.avg("l_quantity"), 2).alias("avg_qty"),
        # price/discount are 2-dp-discrete: use exact fixed-point averaging
        # so the oracle hash cannot flip on a summation-order ulp (see
        # operators.aggs.avg_fixedpoint)
        avg_fixedpoint(F.col("l_extendedprice"), 100, 2).alias("avg_price"),
        avg_fixedpoint(F.col("l_discount"), 100, 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ---------------------------------------------------------------------------
# Time windows over events — batch twin of the streaming surface
# ---------------------------------------------------------------------------


@_register(
    "windowed_events",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           round(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) * 1.0
                 / count(value) / 100.0, 4) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour aggregation. ``F.window`` aligns buckets to the
    epoch in the session timezone (UTC here) — identical to DuckDB
    time_bucket. The streaming twin (streaming/events.py) runs the same
    plan over readStream with a watermark."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 2).alias("total_value"),
            avg_fixedpoint(F.col("value"), 100, 4).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "avg_value",
        )
    )


@_register(
    "sessionize",
    """
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS _new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT *, CAST(sum(_new_session) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id
                                             ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end,
           round(sum(value), 2) AS session_value
    FROM sessions GROUP BY user_id, session_seq
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gaps-and-islands sessionization (30-min gap) — the
    DuckDB-checkable twin of streaming session windows."""
    events = _t(spark, sf_dir, "events")
    sessions = sessionize(events, user_col="user_id", ts_col="ts", gap_minutes=30)
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dround(F.sum("value"), 2).alias("session_value"),
    )


# ---------------------------------------------------------------------------
# JSON extraction over events.props (testdata extension surface — the
# reference has no JSON columns; SURVEY.md §2.8 note)
# ---------------------------------------------------------------------------


@_register(
    "json_extract",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
             AS sum_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4)
             AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        dround(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@_register(
    "variant_extract",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
                AS BIGINT) AS sum_k,
           max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
           CAST(count(DISTINCT CAST(json_extract_string(props, '$.k')
                AS INTEGER)) AS BIGINT) AS n_distinct_k,
           CAST(sum(CASE WHEN json_extract_string(props, '$.missing')
                         IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_extra
    FROM events
    GROUP BY event_type
    """,
)
def variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type:
    parse_json ONCE into the binary variant encoding, then typed
    try_variant_get path extractions — the modern engine path for
    semi-structured columns at scale (the JSON string is decoded a
    single time per row into a navigable binary form, where the
    get_json_object form of json_extract re-parses the string once PER
    PATH; with one path they tie, with k paths variant wins k-fold).
    try_variant_get on an absent path returns NULL instead of raising —
    the n_no_extra column pins that behavior cross-engine. The DuckDB
    twin runs its own string-path extraction over the same JSON; values
    must agree exactly (all-integer outputs, no float surface)."""
    events = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    missing = F.try_variant_get(v, "$.missing", "string")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
        F.countDistinct(k).alias("n_distinct_k"),
        F.sum(F.when(missing.isNull(), 1).otherwise(0)).alias("n_no_extra"),
    )


# --- parts 2+3 of the registry: text/dedup/similarity, multimodal, streaming
# (imported last for their @_register side effects; they use _register/_t)
from . import queries_text  # noqa: E402,F401
from . import queries_ext  # noqa: E402,F401
from . import queries_train  # noqa: E402,F401
from . import queries_analytics  # noqa: E402,F401
from . import queries_llm  # noqa: E402,F401
from . import queries_tpch  # noqa: E402,F401
