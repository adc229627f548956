"""Table IO: schema-enforced CSV ingest, plain-parquet reads/writes.

Reference parity (SURVEY.md §2.1):
- S1 schema-enforced CSV scan  — reference notebooks/01_bronze_ingest.py:81-86
- S2 layer table scan          — 01_bronze_ingest.py:130-131
- S3 idempotent overwrite sink — 01_bronze_ingest.py:96-102
- S4 partitioned sink          — 03_gold_metrics.py:96

The reference writes every layer as Delta on Databricks. Here the
medallion layers commit through ``versioned.py`` instead (atomic
publish and time travel on parquet, via
``quality.stage_with_observed_gates``); ``write_table`` and
``read_table`` are the plain-parquet overwrite sink and scan, with the
clustering, z-order and partitioning layouts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_csv_enforced(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Read CSV with header + explicit schema — no inference.

    Invalid types fail fast rather than silently coercing (the reference's
    bronze contract, 01_bronze_ingest.py:81-86 / README.md:69). FAILFAST
    makes the fail-fast promise explicit (the reference relies on the
    default PERMISSIVE mode, which nulls bad cells — stricter here on
    purpose; at 100 TB silent nulls are unrecoverable).
    """
    return (
        spark.read.option("header", "true")
        .option("mode", "FAILFAST")
        .schema(schema)
        .csv(path)
    )


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """S2: load a parquet table."""
    return spark.read.parquet(path)


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    cluster_by: list[str] | None = None,
    zorder_by: tuple[str, str] | None = None,
    zorder_files: int | None = None,
) -> None:
    """S3/S4: idempotent full-refresh parquet write, optionally
    disk-partitioned.

    An overwrite replaces the schema too, the reference's
    overwrite-style schema evolution (02_silver_transform.py:94). Disk
    partitioning gives static + dynamic partition pruning to every
    downstream reader — at 100 TB a low-cardinality partition column
    (like the reference's ``eval_set``) is the cheapest scan-elimination
    available.

    ``cluster_by`` additionally range-partitions and sorts rows by the
    given columns before writing, so parquet row-group min/max stats
    become selective — point/range predicates on the cluster key then
    skip most row groups at scan time (lexicographic, so only the FIRST
    key gets selective stats; at 100 TB this is the second-cheapest
    scan-elimination after disk partitioning, and composes with it).

    ``zorder_by=(colA, colB)`` instead lays rows out along a Morton
    curve over BOTH columns (see zorder_key): predicates on either
    column skip most files/row groups. The two columns are scaled to
    16-bit buckets from a min/max aggregate of this input (one extra
    tiny job at write time). ``zorder_files`` caps the file count
    (default: leave partitioning as-is after the range exchange).
    """
    from pyspark.sql import functions as F

    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    if zorder_by:
        ca, cb = zorder_by
        lo_a, hi_a, lo_b, hi_b = df.agg(
            F.min(ca), F.max(ca), F.min(cb), F.max(cb)
        ).first()
        if lo_a is None or lo_b is None:
            raise ValueError(
                f"zorder_by{zorder_by}: input has no non-null rows to scale by"
            )
        # all arithmetic in double (cast FIRST — a 32-bit int column
        # would overflow the *65535 multiply) against float min/max (int
        # truncation of a fractional lo shifts every bucket), clamped to
        # [0, 2^16) so spread()'s 16-bit masks always see in-range input
        span_a = max(float(hi_a) - float(lo_a), 1e-300)
        span_b = max(float(hi_b) - float(lo_b), 1e-300)
        scale = (1 << 16) - 1

        def bucket(col, lo, span):
            raw = (
                (F.col(col).cast("double") - F.lit(float(lo)))
                * scale
                / F.lit(span)
            ).cast("long")
            # NULL handling must be explicit AND must happen BEFORE the
            # clamp: least/greatest SKIP null args (least(65535, NULL)
            # = 65535), so clamping a NULL row rides it to bucket 65535
            # and blows out the max-range file stats — the coalesce has
            # to wrap the raw value, not the clamped one. Pin NULLs to
            # bucket 0 — they co-locate with min-value rows and file
            # skipping for the top of the range stays tight.
            return F.greatest(
                F.lit(0), F.least(F.lit(scale), F.coalesce(raw, F.lit(0)))
            )

        zkey = zorder_key(bucket(ca, lo_a, span_a), bucket(cb, lo_b, span_b))
        stamped = df.withColumn("_zkey", zkey)
        parts = [zorder_files] if zorder_files else []
        df = (
            stamped.repartitionByRange(*parts, "_zkey")
            .sortWithinPartitions("_zkey")
            .drop("_zkey")
        )
    if cluster_by:
        df = df.repartitionByRange(*cluster_by).sortWithinPartitions(*cluster_by)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def zorder_key(a, b):
    """Bit-interleaved (Morton) key over two numeric columns, each
    normalized to 16-bit rank buckets via min/max range scaling (the
    bucket width is fixed: spread()'s shift/mask constants are the
    16-bit Morton spreading network).

    ``cluster_by`` (lexicographic range sort) makes row-group stats
    selective for the FIRST key only; interleaving makes a single sort
    order serve predicates on EITHER column — each file covers ~sqrt of
    the per-key range a one-key sort would give it on the neglected
    column. This is Delta's OPTIMIZE ZORDER idea as a pure Catalyst
    expression (shift/or/and bit spreading, whole-stage codegen; no UDF).

    ``a``/``b`` must already be scaled to [0, 2^16) longs — see
    write_table(zorder_by=...), which derives the scaling from a
    min/max aggregate of the input.
    """
    from pyspark.sql import functions as F

    def spread(x):  # 16-bit -> even bit positions of a 32-bit value
        # .bitwiseOR, not `|`: PySpark maps `|` to logical OR
        x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
        x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
        x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
        x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
        return x

    return spread(a).bitwiseOR(F.shiftleft(spread(b), 1))


def write_partitioned_backfill(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Backfill sink: overwrite ONLY the partitions present in ``df``.

    The incremental-correction primitive of a partitioned lakehouse —
    a restated day (late data, upstream fix) rewrites that day's
    directory and leaves every other partition's files untouched,
    where the default STATIC overwrite mode would first delete the
    whole table root. Implemented with the PER-WRITE
    ``DataFrameWriter.option("partitionOverwriteMode", "dynamic")``
    (which takes precedence over the session conf), NOT by mutating the
    session-global ``spark.sql.sources.partitionOverwriteMode`` — a
    session-conf flip would race with any concurrent static-overwrite
    write on the same SparkSession (silently turning its full refresh
    into a partial one) and its restore would pin a previously-unset
    key.

    At 100 TB this is how backfills stay O(restated partitions): the
    job reads and writes one day out of thousands, commits
    atomically per partition directory, and downstream readers keep
    pruning on the unchanged partitions' existing files. For
    snapshot-isolated readers and multi-writer safety the versioned
    store (versioned.py) is the upgrade path; this is the plain-parquet
    contract the reference's layer sinks use.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Schema-enforced JSON-lines scan (one object per line).

    Same bronze contract as the CSV path: explicit schema, FAILFAST on
    malformed records — no sampling-based inference pass (which at
    100 TB is a whole extra read of the data before the real one).
    """
    return (
        spark.read.option("mode", "FAILFAST").schema(schema).json(path)
    )


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink — the interchange format of text/LLM corpora.

    Line-delimited, so downstream readers split files at line
    boundaries and parallelize within a file (unlike a single JSON
    array, which serializes the whole file through one task).
    """
    df.write.mode(mode).json(path)


def read_media_dir(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Raw media-file ingest via Spark's ``binaryFile`` source.

    The production shape for image/audio/video corpora: millions of
    loose files on object storage, read as (path, modificationTime,
    length, content) with Spark handling listing parallelism, file
    splitting into tasks, and predicate pushdown on the metadata
    columns (a ``length < N`` filter prunes at listing time, before any
    byte is fetched). ``glob`` forwards to pathGlobFilter, pruning
    non-media files during listing.

    Output matches operators/multimodal.with_media's contract —
    (doc_id, media_type, payload) — by parsing the file-name convention
    ``{doc_id}_{media_type}.bin`` so the downstream feature/thumbnail/
    frame-sample operators run unchanged on disk-sourced media. At
    100 TB, set spark.sql.files.maxPartitionBytes to bound task input
    and keep small files batched many-per-task (binaryFile packs by
    size automatically).
    """
    from pyspark.sql import functions as F

    reader = spark.read.format("binaryFile").option(
        "recursiveFileLookup", "true"
    )
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    name = F.regexp_extract(F.col("path"), r"([^/]+)$", 1)
    # Fail loudly on convention violations instead of emitting rows with
    # null doc_id/media_type that downstream key-joins would silently
    # drop. The check is an in-plan raise_error guard — lazy, no extra
    # scan or job; it fires on the first offending file at execution.
    ok = name.rlike(r"^\d+_[a-z]+\.")
    guard = F.when(
        ok, F.lit(True)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "read_media_dir: file violates the "
                    "'{doc_id}_{media_type}.bin' naming convention: "
                ),
                name,
            )
        )
    )
    return raw.where(guard).select(
        F.regexp_extract(name, r"^(\d+)_", 1).cast("long").alias("doc_id"),
        F.regexp_extract(name, r"^\d+_([a-z]+)\.", 1).alias("media_type"),
        F.col("content").alias("payload"),
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — columnar like parquet, same pushdown/pruning story."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC sink with the same overwrite/partition semantics as
    write_table — for estates standardized on ORC (Hive-lineage)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_by: list[str],
    num_buckets: int,
    sort_by: list[str] | None = None,
) -> None:
    """Hash-bucketed managed table: pre-shuffles ONCE at write time so
    every later join/aggregate on the bucket key is shuffle-free.

    Two tables bucketed on the same key with the same bucket count
    sort-merge-join with NO Exchange on either side (asserted in
    tests/test_io.py) — at 100 TB this converts the nightly fact-dim
    join from a full network shuffle into a local stitch per bucket.
    ``sort_by`` additionally orders rows within each bucket file, so
    the merge phase skips its sort. The bucket count should be sized
    once for the cluster (tasks-per-join ≈ num_buckets) — changing it
    requires a rewrite, which is why this is a write-time contract,
    not a reader hint.

    The input is repartitioned onto the bucket key first (r12):
    bucketBy alone splits each WRITE TASK's rows into per-bucket
    files, so P input partitions produce up to P x num_buckets files.
    Repartitioning by the bucket columns into num_buckets partitions
    makes writer partition == bucket (both sides use murmur3 pmod
    num_buckets), yielding exactly one file per bucket — no small-file
    scatter, one footer per bucket for consumers. (Spark 3+ does NOT
    propagate bucket sort order to the plan — that's legacy-gated
    because it is unsound for multi-file buckets — so ``sort_by`` buys
    within-file layout/stats, not a sort-free merge.)
    """
    writer = (
        df.repartition(num_buckets, *[F.col(c) for c in bucket_by])
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(num_buckets, *bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table_name)


def _parquet_has_nanos_ts(path: str, col: str) -> bool:
    """Driver-side footer probe: does ``col`` carry the Parquet
    TIMESTAMP(NANOS) physical type (arrow ``timestamp[ns]``)? Accepts a
    single file or a directory tree of part files — including
    Hive-partitioned layouts, whose part files live in nested
    ``key=value`` subdirs (probing only the top level would silently
    miss them, skip the nanosAsLong conf, and fail the read). First
    footer wins — one writer means one physical type."""
    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):
        probe = None
        for dirpath, dirs, files in os.walk(path):
            dirs.sort()  # deterministic walk order
            parts = sorted(f for f in files if f.endswith(".parquet"))
            if parts:
                probe = os.path.join(dirpath, parts[0])
                break
        if probe is None:
            return False
    try:
        field = pq.read_schema(probe).field(col)
    except (KeyError, OSError):
        return False
    t = field.type
    return str(t).startswith("timestamp[ns")


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table, normalizing ``ts`` to session-zone timestamp.

    The only code that decides how ``events.parquet`` is read:
    ``streaming.events.read_events_stream`` streams with the schema of
    ``_read_events_raw`` and normalizes with ``_normalize_events_ts``.
    """
    return _normalize_events_ts(_read_events_raw(spark, f"{sf_dir}/events.parquet"))


def _read_events_raw(spark: SparkSession, path: str) -> DataFrame:
    """The events file with ``ts`` in its physical form, which has varied
    between testdata generator versions: Parquet INT64 TIMESTAMP(NANOS)
    (rejected by Spark's vectorized reader unless read as long), plain
    ``timestamp[us]`` NTZ and tz-adjusted ``timestamp[us, tz=UTC]``.

    The ``nanosAsLong`` legacy conf is session-wide and changes how
    EVERY later parquet read maps TIMESTAMP(NANOS) columns, so it is
    only flipped when a driver-side footer probe shows the nanos
    physical type is actually present (it cannot be scoped per-read:
    the scan consults it again at execution time, after this function
    returns, so a set/restore would break the read it was set for).
    """
    if _parquet_has_nanos_ts(path, "ts"):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path)


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """``ts`` to ``timestamp`` by its dtype, on a batch or streaming frame:

    - ``bigint`` (nanos via ``nanosAsLong``): truncate to microseconds
      with INTEGER division (``ts div 1000`` — double-math division
      would lose precision above 2^53 ns), matching DuckDB's own ns→us
      truncation.
    - ``timestamp_ntz``: cast to ``timestamp``. The session timezone is
      pinned to UTC (session.py), so the cast reinterprets the same
      wall-clock micros as a UTC instant — byte-identical values, and
      one stable output type for every downstream consumer.
    - ``timestamp`` (tz-adjusted) is already an instant: left as is.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# the star-schema table list: sql_api's view registration reads it, so
# adding a testdata table here exposes it to the SQL face
STAR_TABLES = (
    "region nation customer supplier part orders lineitem documents embeddings"
).split()


def read_jsonl_quarantine(
    spark: SparkSession, path: str, schema: StructType
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines scan that QUARANTINES malformed records instead of
    failing the job: returns (good_rows, bad_rows) where bad_rows
    carries the raw offending line in ``_corrupt_record``.

    FAILFAST (read_jsonl) is right for schema-enforced bronze where a
    malformed record means an upstream bug; at 100 TB of third-party
    data a single bad line must not kill a multi-hour ingest — the
    production pattern is PERMISSIVE parse + split + quarantine sink,
    with a gate on the quarantine RATE rather than its existence.

    Spark requires the corrupt-record column to be part of the parse
    schema; it is appended here and stripped from the good branch, so
    callers keep their declared schema exactly. The split is two
    filters over ONE materialized parse (a lazy double-read would
    re-parse the file once per branch) — an eager localCheckpoint, not
    ``.cache()``: a cache entry is pinned in the CacheManager for the
    session's lifetime with no handle for the caller to release it,
    so repeated ingests would accumulate until eviction silently
    reintroduced the double parse. Checkpoint blocks are
    reference-counted and reclaimed when the returned frames go out of
    scope. Trade-off: a lost executor fails the job loudly instead of
    recomputing (acceptable for an ingest step that gates on the
    result).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StringType

    parse_schema = StructType(
        list(schema.fields) + [StructField("_corrupt_record", StringType())]
    )
    parsed = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(parse_schema)
        .json(path)
        .localCheckpoint(eager=True)
    )
    bad = parsed.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    good = parsed.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    return good, bad
