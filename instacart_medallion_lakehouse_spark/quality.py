"""Data-quality gates — the reference's distinctive API surface.

Same contract as reference utils/quality.py (SURVEY.md §2.11): driver-side
Python functions that take DataFrames, compose *built-in* operators, and
raise ``DataQualityError`` on breach. Zero row-level Python UDFs.

Scale-first deviations from the reference implementation (same semantics,
better plans at 100 TB):
- ``check_null_rate`` uses ONE conditional aggregation pass instead of two
  full scans (reference utils/quality.py:28-62 runs ``df.count()`` and a
  second ``filter(isNull).count()``).
- ``check_duplicate_rate`` uses ``groupBy(pk).count()`` with map-side
  partial aggregation instead of a count-over-partition window
  (reference utils/quality.py:74-79) — a window shuffles every full row,
  the groupBy shuffles only (key, partial-count) pairs.
- every duplicate and referential-integrity gate is ONE aggregate that
  yields its total and its breach count together; the reference runs a
  ``df.count()`` and then a second action per gate. The RI gate is a
  left join of the non-null foreign keys to the parent's DISTINCT keys
  (count the unmatched), not a ``left_anti`` join plus a ``count()``.
- ``run_gates`` batches any number of those aggregates into one Spark
  action (a union of one-row frames, one ``collect()``) and then checks
  them in list order; ``check_duplicate_rate`` and
  ``check_referential_integrity`` are its one-gate form.
- composite keys are supported directly (the reference dedups composite
  keys but gates only single columns).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .logging_util import get_logger
from .versioned import read_versioned, write_versioned

logger = get_logger("quality")


class DataQualityError(Exception):
    """Raised when a quality gate breaches its threshold.

    Exception propagation is the pipeline's halt mechanism (reference
    utils/quality.py:21-23, README.md:78).
    """


@dataclass(frozen=True)
class GateThresholds:
    """Centralized thresholds (reference configs/pipeline_config.yml:12-25).

    The file form lives in ``configs/pipeline_config.yml`` (the ops
    surface: change a threshold without touching code); these defaults
    mirror it for config-less library use.
    """

    null_rate_default: float = 0.001  # 0.1%
    null_rate_days_since_prior: float = 0.07  # 7% — nulls valid for first orders
    duplicate_rate: float = 0.0
    # Inverted lenient gate for tables with NO unique natural key (the
    # reference runs lineitem-style tables through threshold=0.99,
    # 02_silver_transform.py:121): duplication is normal, but a table
    # that is ~entirely duplicate groups signals an upstream fan-out bug.
    duplicate_rate_lenient: float = 0.99
    reconcile_drift: float = 0.001  # 0.1%
    referential_integrity: float = 0.0

    @classmethod
    def from_yaml(cls, path: str) -> "GateThresholds":
        """Load thresholds from a pipeline_config.yml (reference
        configs/pipeline_config.yml:12-25 shape: a ``quality_thresholds``
        mapping). Unknown keys fail fast — a typo'd threshold name must
        not silently fall back to a default."""
        import yaml

        with open(path) as f:
            cfg = yaml.safe_load(f) or {}
        # `or {}` also covers a PRESENT-but-empty section (YAML null):
        # every threshold commented out must mean "all defaults", not a
        # TypeError from iterating None
        section = cfg.get("quality_thresholds") or {}
        known = set(cls.__dataclass_fields__)
        unknown = set(section) - known
        if unknown:
            raise ValueError(
                f"unknown quality_thresholds keys in {path}: {sorted(unknown)}"
            )
        return cls(**{k: float(v) for k, v in section.items()})


DEFAULT_THRESHOLDS = GateThresholds()


def load_pipeline_config(path: str) -> dict:
    """Full parsed pipeline_config.yml (paths/spark/tables sections)."""
    import yaml

    with open(path) as f:
        return yaml.safe_load(f) or {}


def check_null_rate(
    df: DataFrame, column: str, threshold: float, layer: str = ""
) -> float:
    """null_rate = nulls/total (0 if total=0); raise if > threshold.

    Semantics: reference utils/quality.py:28-62. Single aggregation job.
    The raw rate is compared, so one null in millions of rows still
    breaches a 0.0 threshold; the rate returned and logged is rounded
    to 6 dp.
    """
    row = df.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col(column).isNull(), 1).otherwise(0)).alias("nulls"),
    ).collect()[0]
    total, nulls = row["total"], row["nulls"] or 0
    rate = nulls / total if total else 0.0
    if rate > threshold:
        raise DataQualityError(
            f"[{layer}] null rate {rate:.6f} ({nulls}/{total}) on '{column}' "
            f"exceeds threshold {threshold}"
        )
    logger.info("NULL_RATE_OK layer=%s column=%s rate=%.6f", layer, column, rate)
    return round(rate, 6)


@dataclass(frozen=True)
class Gate:
    """One gate for ``run_gates``: ``counts`` is a one-row frame of
    ``total`` and ``bad`` (longs); ``check(total, bad)`` returns the rate
    or raises ``DataQualityError``. Checks compare the raw rate with
    the threshold and return it rounded to 6 dp."""

    counts: DataFrame
    check: Callable[[int, int], float]


def duplicate_rate_gate(
    df: DataFrame, columns: str | list[str], threshold: float, layer: str = ""
) -> Gate:
    """Fraction of rows belonging to any key-group of size > 1.

    Counts ALL members of duplicate groups, not just the extras — the
    reference's exact definition (utils/quality.py:65-94). Null keys
    group together, as in any ``groupBy``.
    """
    cols = [columns] if isinstance(columns, str) else list(columns)
    n = F.col("_grp_n")
    counts = (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("_grp_n"))
        .agg(
            F.coalesce(F.sum(n), F.lit(0)).alias("total"),
            F.coalesce(F.sum(F.when(n > 1, n)), F.lit(0)).alias("bad"),
        )
    )

    def check(total: int, bad: int) -> float:
        if total == 0:
            return 0.0
        rate = bad / total
        if rate > threshold:
            raise DataQualityError(
                f"[{layer}] duplicate rate {rate:.6f} ({bad}/{total}) on {cols} "
                f"exceeds threshold {threshold}"
            )
        logger.info("DUPLICATE_RATE_OK layer=%s columns=%s rate=%.6f", layer, cols, rate)
        return round(rate, 6)

    return Gate(counts, check)


def referential_integrity_gate(
    child: DataFrame,
    fk: str,
    parent: DataFrame,
    pk: str,
    layer: str = "",
    threshold: float = 0.0,
) -> Gate:
    """orphan_rate over non-null FK rows; default zero tolerance.

    Semantics: reference utils/quality.py:97-130. The parent is projected
    to its distinct key column FIRST, so only keys shuffle (or broadcast
    when small) and the left join cannot fan out; a null parent key
    matches nothing.
    """
    keys = parent.select(F.col(pk).alias("__pk")).distinct()
    counts = (
        child.select(F.col(fk).alias("__fk"))
        .filter(F.col("__fk").isNotNull())
        .join(keys, F.col("__fk") == F.col("__pk"), "left")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(F.col("__pk").isNull(), 1)).alias("bad"),
        )
    )

    def check(total: int, orphans: int) -> float:
        if total == 0:
            return 0.0
        rate = orphans / total
        if rate > threshold:
            raise DataQualityError(
                f"[{layer}] orphan rate {rate:.6f} ({orphans}/{total}) on '{fk}' "
                f"exceeds threshold {threshold}"
            )
        logger.info("RI_OK layer=%s fk=%s rate=%.6f", layer, fk, rate)
        return round(rate, 6)

    return Gate(counts, check)


def run_gates(gates: list[Gate]) -> list[float]:
    """Evaluate every gate's counts in ONE Spark action, then check the
    gates in list order: the first breach raises, each passing gate logs
    its OK line, and the rates come back in list order."""
    if not gates:
        return []
    tagged = [
        g.counts.select(F.lit(i).alias("gate"), "total", "bad")
        for i, g in enumerate(gates)
    ]
    rows = {r["gate"]: r for r in reduce(lambda a, b: a.union(b), tagged).collect()}
    return [g.check(rows[i]["total"], rows[i]["bad"]) for i, g in enumerate(gates)]


def check_duplicate_rate(
    df: DataFrame, columns: str | list[str], threshold: float, layer: str = ""
) -> float:
    """``duplicate_rate_gate`` evaluated alone: one Spark action."""
    return run_gates([duplicate_rate_gate(df, columns, threshold, layer)])[0]


def check_referential_integrity(
    child: DataFrame,
    fk: str,
    parent: DataFrame,
    pk: str,
    layer: str = "",
    threshold: float = 0.0,
) -> float:
    """``referential_integrity_gate`` evaluated alone: one Spark action."""
    return run_gates(
        [referential_integrity_gate(child, fk, parent, pk, layer, threshold)]
    )[0]


def reconcile_row_counts(
    source_count: int, target_count: int, threshold: float, table: str = ""
) -> float:
    """drift = |target - source| / source (0 if source = 0).

    Catches both row loss and row explosion (reference utils/quality.py:133-160).
    Pure Python over two already-materialized counts.
    """
    if source_count == 0:
        if target_count != 0:
            raise DataQualityError(
                f"[{table}] source has 0 rows but target has {target_count}"
            )
        return 0.0
    drift = abs(target_count - source_count) / source_count
    if drift > threshold:
        raise DataQualityError(
            f"[{table}] row-count drift {drift:.6f} "
            f"({source_count}->{target_count}) exceeds threshold {threshold}"
        )
    logger.info("RECONCILE_OK table=%s drift=%.6f", table, drift)
    return drift


def assert_row_count_nonzero(count: int, table: str = "") -> None:
    """Raise on 0 rows — empty-source detection (utils/quality.py:163-170)."""
    if count == 0:
        raise DataQualityError(f"[{table}] has 0 rows")


def log_layer_stats(layer: str, table: str, rows: int) -> None:
    """Structured LAYER_COMPLETE line (utils/quality.py:173-178)."""
    logger.info("LAYER_COMPLETE layer=%s table=%s rows=%d", layer, table, rows)


def write_with_observed_gates(
    df: DataFrame,
    path: str,
    null_rate_columns: dict[str, float] | None = None,
    require_nonzero: bool = True,
    layer: str = "",
    partition_by: list[str] | None = None,
    reconcile: tuple[int, float] | None = None,
    _before_publish: Callable[[], object] | None = None,
) -> dict:
    """The one gated table commit: every medallion layer, both curation
    tables and the training set go through here.

    The gate aggregates (row count, one null count per gated column)
    ride the write job itself as a ``df.observe`` observation, so the
    non-empty, null-rate and reconcile gates cost ZERO extra scans or
    jobs — ``check_null_rate`` above (the reference's utils/quality.py
    shape) re-scans the table once per gate.

    The table at ``path`` is a versioned table: the write commits
    through ``versioned.write_versioned`` with the gates in its
    ``validate`` hook — after the data write, before the manifest
    publish — so a failing gate leaves an unpublished orphan and
    readers keep the previous version.

    ``reconcile=(source_rows, drift_threshold)`` adds the reconcile gate
    (``reconcile_row_counts`` on the observed row count, table named by
    ``layer``) to the same pre-publish hook, so a drifted table is never
    published either.

    ``_before_publish`` (internal: ``pipeline`` passes its layer's
    barrier wait) runs last in that hook, after every gate passed; if
    it raises, the table does not publish.

    Null rates are compared RAW (nulls / rows, 0 on an empty table):
    rounding first would let e.g. 0.0010004 sneak under a 0.001
    threshold; the 6-dp form is for the message only.

    Returns ``{"n_rows": int, "nulls_<col>": int, "null_rate_<col>":
    float, "version": int, "table": DataFrame}``; ``table`` reads back
    the committed version with the schema its manifest records (no
    inference job).
    """
    from pyspark.sql import Observation

    null_rate_columns = null_rate_columns or {}
    obs = Observation(f"gates_{layer or 'table'}")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nulls_{c}")
            for c in null_rate_columns
        ],
    )
    out: dict = {}

    def enforce() -> None:
        got = obs.get
        n = int(got["n_rows"])
        out["n_rows"] = n
        if require_nonzero:
            assert_row_count_nonzero(n, layer)
        for col, threshold in null_rate_columns.items():
            nulls = int(got[f"nulls_{col}"] or 0)
            rate = nulls / n if n else 0.0
            out[f"nulls_{col}"] = nulls
            out[f"null_rate_{col}"] = rate
            if rate > threshold:
                raise DataQualityError(
                    f"[{layer}] null rate {rate:.6f} ({nulls}/{n}) on '{col}' "
                    f"exceeds threshold {threshold}"
                )
        if reconcile is not None:
            source_rows, drift = reconcile
            reconcile_row_counts(source_rows, n, drift, layer)
        if _before_publish is not None:
            _before_publish()

    out["version"] = write_versioned(
        observed, path, partition_by=partition_by, validate=enforce
    )
    out["table"] = read_versioned(df.sparkSession, path, out["version"])
    return out
