"""Medallion pipeline orchestration: bronze → silver → gold.

The reference's three notebooks as one idempotent, quality-gated
library function (01_bronze_ingest.py / 02_silver_transform.py /
03_gold_metrics.py re-expressed over the testdata star schema).

Layer contract (reference parity, SURVEY.md §1.1/§3):
- Bronze: raw scan + lineage metadata columns (_ingested_at,
  _source_file, _bronze_version — 01_bronze_ingest.py:89-93), non-zero
  row gate.
- Silver: deterministic PK dedup (the reference's nondeterministic
  monotonically_increasing_id tie-break FIXED per SURVEY.md §4.3.1),
  bronze-metadata drop, quality gates (null rate / duplicate rate /
  referential integrity), reconciliation against bronze counts.
- Gold: star-join marts (fct + dims + KPI marts), fact table
  disk-partitioned for downstream partition pruning
  (03_gold_metrics.py:96).

Every table commits as the next version of a versioned table
(versioned.py manifest protocol, through
quality.write_with_observed_gates): the non-empty and null-rate gates
run before the manifest publish, and readers never see a half-written
table — the atomic overwrite the reference gets from Delta (01:95-102).
Silver's reconcile gate runs there too.

A layer commits its tables concurrently, one thread per table
(``_commit_layer``; the threads inherit the caller's Spark job group),
and all or nothing for gate failures: each table's pre-publish hook
runs its own gates and then waits until every table of the layer has
passed them. A failure in any table (a gate or a Spark error) stops
every table of the layer from publishing, and the next layer never
runs; the error raised is the first in table order. (A failure AFTER
that barrier, e.g. a lost publish race, can still leave the layer
mixed; a refresh manifest over all layers is ROADMAP item 2.)

Silver's seven duplicate-rate and four referential-integrity gates read
the committed tables and run together as ONE Spark action
(``quality.run_gates``) once all seven silver tables have committed: a
breach raises with all seven new silver versions published (and before
gold runs). Gate precedence is as before: when a pre-publish gate of
table k trips, the duplicate gates of tables 1..k run first on their
unpublished frames, in one action, and raise if any breaches. Re-runs
give identical results and append history, reachable by time travel;
``versioned.vacuum`` reclaims it.

Scale notes: each layer is a separate job chain, its tables' jobs
running side by side. At small inputs a refresh costs fixed planning
and commit work per table, not data, so the concurrent commits fill
cores a serial loop leaves idle. The fact table, lineitem, is keyless
and never deduped: silver reads all of it in the fused gate action, in
its lenient duplicate gate (a group-by) and in the lineitem → orders RI
join. The PK dedup windows shuffle only the keyed tables. Gold does NOT
cache the silver lineitem and orders frames (the reference caches its
enriched base, 03:42-44,73): every mart re-reads the committed silver
tables, because concurrent marts racing to fill one lazy cache ran a
varying number of jobs from run to run, while uncached they run a
fixed, smaller number.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import quality
from .operators.cleanse import dedup_keep_first
from .plans import marts

BRONZE_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
]

# (table → primary key columns). lineitem is None: the synthetic data has
# NO unique natural key there (even (l_orderkey, l_partkey, l_linenumber)
# repeats), mirroring the reference's line-item table where multiple rows
# per key are normal — it gets the inverted lenient duplicate gate
# (reference 02_silver_transform.py:121 uses threshold=0.99) instead of
# dedup.
_SILVER_KEYS: dict[str, list[str] | None] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": None,
}

# Keyless tables still get the lenient inverted duplicate gate on their
# densest natural key: duplication is expected, but a near-totally
# duplicated table (rate > duplicate_rate_lenient) means an upstream
# fan-out bug, not normal line-item multiplicity.
_LENIENT_DUP_KEYS: dict[str, list[str]] = {
    "lineitem": ["l_orderkey", "l_partkey", "l_linenumber"],
}

# Null-rate gates enforced at silver, observed on the write pass itself
# (zero extra scans). PK/FK columns must never be null in healthy data;
# threshold is GateThresholds.null_rate_default. (The reference's
# days_since_prior-style lenient threshold applies to genuinely-nullable
# business columns — the star schema has none, so only the default-rate
# gate is wired here; from_yaml still validates both keys.)
_NULL_GATE_COLS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey", "n_regionkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey"],
}

# FK → parent PK edges gated at silver (reference 02_silver_transform.py:59-68)
_RI_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]

BRONZE_VERSION = "bronze_v1"


@dataclass
class PipelineResult:
    """Per-layer row counts + gate outcomes for reconciliation/reporting."""

    bronze_counts: dict[str, int] = field(default_factory=dict)
    silver_counts: dict[str, int] = field(default_factory=dict)
    gold_counts: dict[str, int] = field(default_factory=dict)


def _commit_layer(
    spark: SparkSession,
    tables: list[str],
    commit: Callable[[str, Callable[[], object]], dict],
) -> dict[str, dict]:
    """Run ``commit(name, before_publish)`` for every table of one layer
    at once, one thread per table, and return the results by name.

    Each commit passes ``before_publish`` to
    ``quality.write_with_observed_gates``, whose pre-publish hook calls
    it after the table's own gates: a barrier that opens once every
    table has passed its gates. A failure in any table (a gate or a
    Spark error) breaks the barrier, so no table of the layer
    publishes. Once every thread has finished, the first real error in
    table order is raised (the others' ``BrokenBarrierError`` is only
    the echo of it). Threads inherit the caller's job group and tags;
    the results come back in table order.
    """
    barrier = threading.Barrier(len(tables))
    results: dict[str, dict] = {}
    errors: dict[str, BaseException] = {}

    def run(name: str) -> None:
        try:
            results[name] = commit(name, barrier.wait)
        except BaseException as e:  # re-raised below, in table order
            errors[name] = e
            barrier.abort()

    # each thread starts with its own copy of the caller's local
    # properties (job group, description) and tags
    threads = [InheritableThread(run, args=(name,), session=spark) for name in tables]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for name in tables:
        if name in errors and not isinstance(
            errors[name], threading.BrokenBarrierError
        ):
            raise errors[name]
    return {name: results[name] for name in tables}


def run_bronze(
    spark: SparkSession, sf_dir: str, out_dir: str, result: PipelineResult
) -> dict[str, DataFrame]:
    """Raw → bronze: scan, stamp lineage metadata, gate non-empty, write."""

    def commit(name: str, before_publish: Callable[[], object]) -> dict:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet").withColumns(
            {
                "_ingested_at": F.current_timestamp(),
                "_source_file": F.lit(f"{name}.parquet"),
                "_bronze_version": F.lit(BRONZE_VERSION),
            }
        )
        # the non-empty gate is observed on the write pass itself — no
        # post-write re-scan job per table
        return quality.write_with_observed_gates(
            df,
            f"{out_dir}/bronze/{name}",
            layer=f"bronze.{name}",
            _before_publish=before_publish,
        )

    written = _commit_layer(spark, BRONZE_TABLES, commit)
    for name in BRONZE_TABLES:
        n = written[name]["n_rows"]
        quality.log_layer_stats("bronze", name, n)
        result.bronze_counts[name] = n
    return {name: w["table"] for name, w in written.items()}


def run_silver(
    spark: SparkSession,
    bronze: dict[str, DataFrame],
    out_dir: str,
    result: PipelineResult,
    thresholds: quality.GateThresholds = quality.DEFAULT_THRESHOLDS,
) -> dict[str, DataFrame]:
    """Bronze → silver: deterministic dedup, drop lineage cols, gate, write."""

    def duplicate_gate(name: str, df: DataFrame) -> list[quality.Gate]:
        keys = _SILVER_KEYS[name]
        layer = f"silver.{name}"
        if keys is not None:
            return [
                quality.duplicate_rate_gate(df, keys, thresholds.duplicate_rate, layer)
            ]
        if name in _LENIENT_DUP_KEYS:
            return [
                quality.duplicate_rate_gate(
                    df,
                    _LENIENT_DUP_KEYS[name],
                    thresholds.duplicate_rate_lenient,
                    layer,
                )
            ]
        return []

    cleaned: dict[str, DataFrame] = {}
    for name, keys in _SILVER_KEYS.items():
        df = bronze[name]
        if keys is not None:
            # Tie-break duplicate PK groups by a content hash of the
            # payload columns: _ingested_at is current_timestamp() (one
            # value per run) and the keys are constant within the window
            # partition, so neither totally orders a group — ordering by
            # them alone would make the survivor depend on partition
            # layout when duplicate PKs carry different payloads (the
            # exact nondeterminism SURVEY §4.3.1 exists to prevent).
            # Identical hashes mean identical rows, where any survivor
            # is the same row.
            payload = [
                c
                for c in df.columns
                if c not in keys
                and c not in ("_ingested_at", "_source_file", "_bronze_version")
            ]
            content_hash = F.md5(
                F.concat_ws(
                    "\x1f",
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                        for c in payload
                    ],
                )
            )
            df = dedup_keep_first(
                df, keys=keys, order_by=[F.col("_ingested_at"), content_hash]
            )
        cleaned[name] = df.drop("_ingested_at", "_source_file", "_bronze_version")

    tripped: set[str] = set()

    def commit(name: str, before_publish: Callable[[], object]) -> dict:
        # null-rate and reconcile gates ride the write-pass observation
        # with the row count and run before publish — zero extra scans
        try:
            return quality.write_with_observed_gates(
                cleaned[name],
                f"{out_dir}/silver/{name}",
                null_rate_columns={
                    c: thresholds.null_rate_default
                    for c in _NULL_GATE_COLS.get(name, [])
                },
                require_nonzero=False,
                layer=f"silver.{name}",
                reconcile=(result.bronze_counts[name], thresholds.reconcile_drift),
                _before_publish=before_publish,
            )
        except quality.DataQualityError:
            tripped.add(name)
            raise

    tables = list(cleaned)
    try:
        written = _commit_layer(spark, tables, commit)
    except quality.DataQualityError:
        # a table's duplicate gate precedes its reconcile gate, and
        # earlier tables' gates precede both: on a pre-publish breach at
        # table k, the duplicate gates of tables 1..k (on their
        # unpublished frames) raise first, in one action
        k = next(i for i, name in enumerate(tables) if name in tripped)
        quality.run_gates(
            [g for name in tables[: k + 1] for g in duplicate_gate(name, cleaned[name])]
        )
        raise
    out = {name: w["table"] for name, w in written.items()}
    for name in tables:
        result.silver_counts[name] = written[name]["n_rows"]

    gates = [g for name in tables for g in duplicate_gate(name, out[name])]
    gates += [
        quality.referential_integrity_gate(
            out[child], fk, out[parent], pk, f"silver.{child}", thresholds.referential_integrity
        )
        for child, fk, parent, pk in _RI_EDGES
    ]
    # every duplicate and RI gate in one Spark action
    quality.run_gates(gates)
    for name, n in result.silver_counts.items():
        quality.log_layer_stats("silver", name, n)
    return out


def run_gold(
    spark: SparkSession,
    silver: dict[str, DataFrame],
    out_dir: str,
    result: PipelineResult,
) -> dict[str, DataFrame]:
    """Silver → gold: star marts, fact disk-partitioned, each committed
    as a new version of its table."""
    li, orders = silver["lineitem"], silver["orders"]
    gold: dict[str, tuple[DataFrame, list[str] | None]] = {
        "fct_lineitem": (marts.fct_lineitem(li), ["l_returnflag"]),
        "dim_customers": (marts.dim_customers(li, orders), None),
        "dim_parts": (marts.dim_parts(li, orders, silver["part"]), None),
        "mart_region_performance": (
            marts.region_performance(
                li, orders, silver["customer"], silver["nation"], silver["region"]
            ),
            None,
        ),
        "mart_return_velocity": (marts.return_velocity(li, orders), None),
    }

    def commit(name: str, before_publish: Callable[[], object]) -> dict:
        df, part_by = gold[name]
        # the non-empty gate runs before the manifest publish, so a
        # 0-row mart raises and never becomes the latest version
        return quality.write_with_observed_gates(
            df,
            f"{out_dir}/gold/{name}",
            layer=f"gold.{name}",
            partition_by=part_by,
            _before_publish=before_publish,
        )

    written = _commit_layer(spark, list(gold), commit)
    for name in gold:
        n = written[name]["n_rows"]
        quality.log_layer_stats("gold", name, n)
        result.gold_counts[name] = n
    return {name: w["table"] for name, w in written.items()}


def run_medallion(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    config_path: str | None = None,
    versioned_gold: bool = True,  # ignored; a benchmark change removes it
) -> PipelineResult:
    """Full bronze→silver→gold run; raises DataQualityError on gate breach.

    ``config_path`` points at a pipeline_config.yml (reference
    configs/pipeline_config.yml shape); omitted → library defaults.
    """
    thresholds = (
        quality.GateThresholds.from_yaml(config_path)
        if config_path
        else quality.DEFAULT_THRESHOLDS
    )
    result = PipelineResult()
    bronze = run_bronze(spark, sf_dir, out_dir, result)
    silver = run_silver(spark, bronze, out_dir, result, thresholds=thresholds)
    run_gold(spark, silver, out_dir, result)
    return result
