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
(versioned.py manifest protocol), and every layer commits in one shape,
``_commit_layer``: STAGE, CHECK, PUBLISH. Each table is staged on its
own thread (the threads inherit the caller's Spark job group): its data
written, nothing published, with its non-empty, null-rate and reconcile
gates observed on that write pass
(``quality.stage_with_observed_gates``). Every gate of the layer is then
checked, and only when all pass does every table publish. A gate breach
or a Spark error anywhere in a layer therefore publishes no table of
that layer, and the next layer never runs — the atomic overwrite and
gate-halts-the-refresh the reference gets from Delta (01:95-102). (A
failure between two tables' publishes, e.g. a lost publish race, can
still leave the layer mixed; a refresh manifest over all layers is
ROADMAP item 2.)

The error raised is the first in this order: a staging error, in table
order; then, table by table, silver's duplicate gate and the table's
observed gates, in that order; then silver's referential-integrity
edges. Silver's seven duplicate-rate and four RI gates read the staged
tables and run as ONE Spark action (``quality.run_gates``).
Re-runs give identical results and append history, reachable by time
travel; ``versioned.vacuum`` reclaims it.

Scale notes: each layer is a separate job chain, its tables' jobs
running side by side. At small inputs a refresh costs fixed planning
and commit work per table, not data, so the concurrent staging writes
fill cores a serial loop leaves idle. The fact table, lineitem, is
keyless and never deduped: silver reads all of it in the fused gate
action, in its lenient duplicate gate (a group-by) and in the
lineitem → orders RI join. The PK dedup windows shuffle only the keyed
tables. Gold does NOT cache the silver lineitem and orders frames (the
reference caches its enriched base, 03:42-44,73): every mart re-reads
the silver tables' files, because concurrent marts racing to fill one
lazy cache ran a varying number of jobs from run to run, while uncached
they run a fixed, smaller number.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import partial

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import quality
from .operators.cleanse import dedup_keep_first
from .plans import marts
from .versioned import Staged

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

# a staged table and the check of its observed gates
# (quality.stage_with_observed_gates)
_Stage = tuple[Staged, Callable[[], dict]]


@dataclass
class PipelineResult:
    """Per-layer row counts of the published tables, for reconciliation
    and reporting."""

    bronze_counts: dict[str, int] = field(default_factory=dict)
    silver_counts: dict[str, int] = field(default_factory=dict)
    gold_counts: dict[str, int] = field(default_factory=dict)


def _commit_layer(
    spark: SparkSession,
    layer: str,
    tables: list[str],
    stage: Callable[[str], _Stage],
    counts: dict[str, int],
    gates: Callable[
        [dict[str, DataFrame], Callable[[str], None]], list[quality.Gate]
    ] = lambda frames, enforce: [],
) -> dict[str, DataFrame]:
    """Stage, check, then publish the ``layer`` tables ``tables`` (see
    the module docstring); return the staged frames by name, in table
    order.

    ``stage(name)`` builds a table's frame and stages it; it runs on one
    thread per table. The checks run on the caller's thread:
    ``gates(frames, enforce)`` gives the layer's batched gates over the
    staged frames, run as one Spark action, and may chain a table's
    observed gates into them with ``Gate.then(partial(enforce, name))``;
    the observed gates no batched gate ran follow in table order. Once every table has published,
    ``counts`` gets each table's row count and its LAYER_COMPLETE line
    is logged.
    """
    staged: dict[str, _Stage] = {}
    errors: dict[str, BaseException] = {}

    def run(name: str) -> None:
        try:
            staged[name] = stage(name)
        except BaseException as e:  # re-raised below, in table order
            errors[name] = e

    # each thread starts with its own copy of the caller's local
    # properties (job group, description) and tags
    threads = [InheritableThread(run, args=(name,), session=spark) for name in tables]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for name in tables:
        if name in errors:
            raise errors[name]

    frames = {name: staged[name][0].read(spark) for name in tables}
    observed: dict[str, dict] = {}

    def enforce(name: str) -> None:
        if name not in observed:
            observed[name] = staged[name][1]()

    quality.run_gates(gates(frames, enforce))
    for name in tables:  # the observed gates no batched gate ran
        enforce(name)
    for name in tables:
        staged[name][0].publish()
    for name in tables:
        counts[name] = observed[name]["n_rows"]
        quality.log_layer_stats(layer, name, counts[name])
    return frames


def run_bronze(
    spark: SparkSession, sf_dir: str, out_dir: str, result: PipelineResult
) -> dict[str, DataFrame]:
    """Raw → bronze: scan, stamp lineage metadata, gate non-empty, write."""

    def stage(name: str) -> _Stage:
        # the scan is planned on the table's own thread, so the seven
        # tables' scan set-up runs side by side
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet").withColumns(
            {
                "_ingested_at": F.current_timestamp(),
                "_source_file": F.lit(f"{name}.parquet"),
                "_bronze_version": F.lit(BRONZE_VERSION),
            }
        )
        # the non-empty gate is observed on the write pass itself — no
        # post-write re-scan job per table
        return quality.stage_with_observed_gates(
            df, f"{out_dir}/bronze/{name}", layer=f"bronze.{name}"
        )

    return _commit_layer(spark, "bronze", BRONZE_TABLES, stage, result.bronze_counts)


def run_silver(
    spark: SparkSession,
    bronze: dict[str, DataFrame],
    out_dir: str,
    result: PipelineResult,
    thresholds: quality.GateThresholds = quality.DEFAULT_THRESHOLDS,
) -> dict[str, DataFrame]:
    """Bronze → silver: deterministic dedup, drop lineage cols, gate, write."""
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

    def stage(name: str) -> _Stage:
        # null-rate and reconcile gates ride the write-pass observation
        # with the row count — zero extra scans
        return quality.stage_with_observed_gates(
            cleaned[name],
            f"{out_dir}/silver/{name}",
            null_rate_columns={
                c: thresholds.null_rate_default for c in _NULL_GATE_COLS.get(name, [])
            },
            require_nonzero=False,
            layer=f"silver.{name}",
            reconcile=(result.bronze_counts[name], thresholds.reconcile_drift),
        )

    def gates(
        frames: dict[str, DataFrame], enforce: Callable[[str], None]
    ) -> list[quality.Gate]:
        # each table's duplicate gate, then its observed gates; then the
        # RI edges — every duplicate and RI gate in one Spark action
        checks = []
        for name, df in frames.items():
            keys, threshold = _SILVER_KEYS[name], thresholds.duplicate_rate
            if keys is None:  # keyless: the lenient inverted gate
                keys = _LENIENT_DUP_KEYS[name]
                threshold = thresholds.duplicate_rate_lenient
            dup = quality.duplicate_rate_gate(df, keys, threshold, f"silver.{name}")
            checks.append(dup.then(partial(enforce, name)))
        return checks + [
            quality.referential_integrity_gate(
                frames[child], fk, frames[parent], pk, f"silver.{child}",
                thresholds.referential_integrity,
            )
            for child, fk, parent, pk in _RI_EDGES
        ]

    return _commit_layer(
        spark, "silver", list(cleaned), stage, result.silver_counts, gates
    )


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

    def stage(name: str) -> _Stage:
        df, part_by = gold[name]
        # the non-empty gate is checked before the layer publishes, so a
        # 0-row mart raises and never becomes the latest version
        return quality.stage_with_observed_gates(
            df, f"{out_dir}/gold/{name}", layer=f"gold.{name}", partition_by=part_by
        )

    return _commit_layer(spark, "gold", list(gold), stage, result.gold_counts)


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
