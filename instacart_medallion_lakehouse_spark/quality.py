"""Data-quality gates — the reference's distinctive API surface.

Same contract as reference utils/quality.py (SURVEY.md §2.11): driver-side
Python functions that take DataFrames, compose *built-in* operators, and
raise ``DataQualityError`` on breach. Zero row-level Python UDFs.

Each rate gate (null rate, duplicate rate, orphan rate) is defined once:
a counts builder (``null_counts``, ``duplicate_counts``,
``orphan_counts``) that yields the gate's ``total`` and ``bad`` rows as
one aggregate, and the one rate check (``_rate_check``: 0.0 on an empty
input, the RAW rate compared with the threshold, one breach message
form). The gates, their one-gate ``check_*`` forms, the write's observed
null-rate gate and the registry's gate queries all use those.

Scale-first deviations from the reference implementation (same semantics,
better plans at 100 TB):
- the null rate is ONE conditional aggregation pass instead of two full
  scans (reference utils/quality.py:28-62 runs ``df.count()`` and a
  second ``filter(isNull).count()``).
- the duplicate rate uses ``groupBy(pk).count()`` with map-side
  partial aggregation instead of a count-over-partition window
  (reference utils/quality.py:74-79) — a window shuffles every full row,
  the groupBy shuffles only (key, partial-count) pairs.
- the orphan rate is a left join of the non-null foreign keys to the
  parent's DISTINCT keys (count the unmatched) in the same aggregate as
  its total, not a ``count()`` plus a ``left_anti`` join and a second
  ``count()``.
- ``run_gates`` batches any number of gates into one Spark action (a
  union of one-row frames, one ``collect()``) and then checks them in
  list order; ``check_null_rate``, ``check_duplicate_rate`` and
  ``check_referential_integrity`` are its one-gate form.
- a table write's non-empty, null-rate and reconcile gates are observed
  ON the write pass (``stage_with_observed_gates``: zero extra scans)
  and checked between the write's stage and its publish, so a breach
  never publishes. ``Gate.then`` chains such a check after a batched
  gate, so one ``run_gates`` call can check a whole layer in order.
- composite keys are supported directly (the reference dedups composite
  keys but gates only single columns).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .logging_util import get_logger
from .versioned import Staged, read_versioned, stage_versioned

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
        not silently fall back to a default — and so does a value that
        is not a number: YAML reads ``yes`` as ``True`` (``float(True)``
        would make a zero-tolerance gate a 1.0 gate that never fires)
        and an empty value as null. ``1e-3``, a string to PyYAML,
        loads through ``float``."""
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
        return cls(**{k: _threshold(path, k, v) for k, v in section.items()})


def _threshold(path: str, key: str, value: object) -> float:
    """One quality_thresholds value as a float, or a ``ValueError``
    naming the key (booleans and nulls are not numbers here)."""
    if not isinstance(value, bool):  # float(None) raises TypeError
        try:
            return float(value)
        except (TypeError, ValueError):
            pass
    raise ValueError(
        f"quality_thresholds.{key} in {path} must be a number, got {value!r}"
    )


DEFAULT_THRESHOLDS = GateThresholds()


@dataclass(frozen=True)
class Gate:
    """One gate for ``run_gates``: ``counts`` is a one-row frame of
    ``total`` and ``bad`` (longs; ``bad`` may be null when ``total`` is
    0); ``check(total, bad)`` returns the rate or raises
    ``DataQualityError`` (``_rate_check``)."""

    counts: DataFrame
    check: Callable[[int, int], float]

    def then(self, after: Callable[[], object]) -> "Gate":
        """This gate, with ``after()`` run once its check passed."""

        def check(total: int, bad: int) -> float:
            rate = self.check(total, bad)
            after()
            return rate

        return Gate(self.counts, check)


def _rate_check(
    layer: str, kind: str, subject: str, threshold: float, ok_line: str
) -> Callable[[int, int], float]:
    """The one rate check every rate gate uses: ``check(total, bad)``
    is 0.0 on an empty input, raises ``DataQualityError`` when the RAW
    rate ``bad / total`` exceeds ``threshold`` (one bad row in millions
    still breaches a 0.0 threshold), else logs ``ok_line`` with the rate
    and returns the rate rounded to 6 dp."""

    def check(total: int, bad: int) -> float:
        if not total:
            return 0.0
        rate = bad / total
        if rate > threshold:
            raise DataQualityError(
                f"[{layer}] {kind} rate {rate:.6f} ({bad}/{total}) on {subject} "
                f"exceeds threshold {threshold}"
            )
        logger.info("%s rate=%.6f", ok_line, rate)
        return round(rate, 6)

    return check


def _nulls(column: str) -> Column:
    """Null count of ``column`` (null on an empty input, like any sum)."""
    return F.sum(F.when(F.col(column).isNull(), 1).otherwise(0))


def null_counts(df: DataFrame, column: str) -> DataFrame:
    """``total`` rows and ``bad`` = rows whose ``column`` is null: one
    conditional aggregate. Semantics: reference utils/quality.py:28-62."""
    return df.agg(F.count(F.lit(1)).alias("total"), _nulls(column).alias("bad"))


def duplicate_counts(df: DataFrame, columns: list[str]) -> DataFrame:
    """``total`` rows and ``bad`` = rows belonging to any key-group of
    size > 1.

    Counts ALL members of duplicate groups, not just the extras — the
    reference's exact definition (utils/quality.py:65-94). Null keys
    group together, as in any ``groupBy``.
    """
    n = F.col("_grp_n")
    return (
        df.groupBy(*columns)
        .agg(F.count(F.lit(1)).alias("_grp_n"))
        .agg(
            F.coalesce(F.sum(n), F.lit(0)).alias("total"),
            F.coalesce(F.sum(F.when(n > 1, n)), F.lit(0)).alias("bad"),
        )
    )


def orphan_counts(child: DataFrame, fk: str, parent: DataFrame, pk: str) -> DataFrame:
    """``total`` non-null ``fk`` rows and ``bad`` = those with no
    matching ``pk`` in ``parent`` (reference utils/quality.py:97-130).

    The parent is projected to its distinct key column FIRST, so only
    keys shuffle (or broadcast when small) and the left join cannot fan
    out; a null parent key matches nothing.
    """
    keys = parent.select(F.col(pk).alias("__pk")).distinct()
    return (
        child.select(F.col(fk).alias("__fk"))
        .filter(F.col("__fk").isNotNull())
        .join(keys, F.col("__fk") == F.col("__pk"), "left")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(F.col("__pk").isNull(), 1)).alias("bad"),
        )
    )


def _null_check(column: str, threshold: float, layer: str) -> Callable[[int, int], float]:
    return _rate_check(
        layer, "null", f"'{column}'", threshold,
        f"NULL_RATE_OK layer={layer} column={column}",
    )


def null_rate_gate(
    df: DataFrame, column: str, threshold: float, layer: str = ""
) -> Gate:
    """Fraction of rows whose ``column`` is null (``null_counts``)."""
    return Gate(null_counts(df, column), _null_check(column, threshold, layer))


def duplicate_rate_gate(
    df: DataFrame, columns: str | list[str], threshold: float, layer: str = ""
) -> Gate:
    """Fraction of rows in a duplicated key-group (``duplicate_counts``)."""
    cols = [columns] if isinstance(columns, str) else list(columns)
    return Gate(
        duplicate_counts(df, cols),
        _rate_check(
            layer, "duplicate", str(cols), threshold,
            f"DUPLICATE_RATE_OK layer={layer} columns={cols}",
        ),
    )


def referential_integrity_gate(
    child: DataFrame,
    fk: str,
    parent: DataFrame,
    pk: str,
    layer: str = "",
    threshold: float = 0.0,
) -> Gate:
    """orphan_rate over non-null FK rows (``orphan_counts``); default
    zero tolerance."""
    return Gate(
        orphan_counts(child, fk, parent, pk),
        _rate_check(
            layer, "orphan", f"'{fk}'", threshold, f"RI_OK layer={layer} fk={fk}"
        ),
    )


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


def check_null_rate(
    df: DataFrame, column: str, threshold: float, layer: str = ""
) -> float:
    """``null_rate_gate`` evaluated alone: one Spark action."""
    return run_gates([null_rate_gate(df, column, threshold, layer)])[0]


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


def stage_with_observed_gates(
    df: DataFrame,
    path: str,
    null_rate_columns: dict[str, float] | None = None,
    require_nonzero: bool = True,
    layer: str = "",
    partition_by: list[str] | None = None,
    reconcile: tuple[int, float] | None = None,
) -> tuple[Staged, Callable[[], dict]]:
    """The one gated table write: stage ``df`` as the next version of
    the versioned table at ``path`` and return ``(staged, enforce)``.
    Every medallion layer, both curation tables and the training set go
    through here.

    The gate aggregates (row count, one null count per gated column)
    ride the write job itself as a ``df.observe`` observation, so the
    non-empty, null-rate and reconcile gates cost ZERO extra scans or
    jobs — ``check_null_rate`` above (the reference's utils/quality.py
    shape) re-scans the table once per gate.

    ``enforce()`` checks those gates on the observed values and returns
    ``{"n_rows": int, "nulls_<col>": int, "null_rate_<col>": float}``
    (the rate as ``null_rate_gate``'s check returns it: 6 dp); it raises
    ``DataQualityError`` on a breach. The caller publishes
    ``staged`` only once ``enforce()`` (and any gates of its own) passed,
    so a breach leaves an unpublished orphan and readers keep the
    previous version.

    ``reconcile=(source_rows, drift_threshold)`` adds the reconcile gate
    (``reconcile_row_counts`` on the observed row count, table named by
    ``layer``).

    Null rates are checked by the null-rate gate's own check, so they
    are compared RAW (nulls / rows, 0 on an empty table): rounding first
    would let e.g. 0.0010004 sneak under a 0.001 threshold.
    """
    from pyspark.sql import Observation

    null_rate_columns = null_rate_columns or {}
    obs = Observation(f"gates_{layer or 'table'}")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        *[_nulls(c).alias(f"nulls_{c}") for c in null_rate_columns],
    )

    def enforce() -> dict:
        got = obs.get
        n = int(got["n_rows"])
        out: dict = {"n_rows": n}
        if require_nonzero:
            assert_row_count_nonzero(n, layer)
        for col, threshold in null_rate_columns.items():
            nulls = out[f"nulls_{col}"] = int(got[f"nulls_{col}"] or 0)
            out[f"null_rate_{col}"] = _null_check(col, threshold, layer)(n, nulls)
        if reconcile is not None:
            source_rows, drift = reconcile
            reconcile_row_counts(source_rows, n, drift, layer)
        return out

    return stage_versioned(observed, path, partition_by), enforce


def write_with_observed_gates(
    df: DataFrame,
    path: str,
    null_rate_columns: dict[str, float] | None = None,
    require_nonzero: bool = True,
    layer: str = "",
    partition_by: list[str] | None = None,
    reconcile: tuple[int, float] | None = None,
) -> dict:
    """``stage_with_observed_gates``, its gates enforced, then published.

    Returns ``enforce()``'s values plus ``"version": int`` and
    ``"table": DataFrame``; ``table`` reads back the committed version
    with the schema its manifest records (no inference job).
    """
    staged, enforce = stage_with_observed_gates(
        df, path, null_rate_columns, require_nonzero, layer, partition_by, reconcile
    )
    out = enforce()
    out["version"] = staged.publish()
    out["table"] = read_versioned(df.sparkSession, path, out["version"])
    return out
