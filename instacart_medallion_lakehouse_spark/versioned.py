"""Versioned parquet tables: snapshot isolation + time travel without a
Delta runtime.

The reference persists every layer as Delta Lake and leans on two of its
properties: atomic overwrite (readers never observe a half-written
table) and time travel (01_bronze_ingest.py:96-102 overwrite semantics;
SURVEY.md §2.1 S3). delta-spark cannot be installed in this environment,
so this module provides the same two contracts with a miniature
manifest-commit protocol on plain parquet — the same design Delta's
transaction log uses, reduced to full-snapshot (non-incremental) tables:

    table_root/
      _versions/v00000001.json   <- commit record (the COMMIT POINT)
      _versions/v00000002.json
      _data/v00000001/...parquet <- immutable snapshot data
      _data/v00000002/...parquet

Write protocol: (1) write the new snapshot's parquet under a fresh
``_data/v{N}`` directory; (2) only then publish ``_versions/v{N}.json``
via write-temp-then-atomic-rename. The manifest is the commit point:
a reader lists ``_versions/`` and reads the snapshot the newest
manifest names, so a crashed or in-flight writer (data written, no
manifest) is simply invisible — readers keep seeing version N-1.
Version numbers are monotonically increasing; concurrent writers race
on the rename and the loser fails cleanly rather than corrupting (POSIX
rename onto an existing path would overwrite, so the commit uses
``os.link`` + unlink, which fails with EEXIST if the version was taken).

Base-version rule: every commit names the version it was derived from
(its BASE) and publishes exactly base + 1 or fails with the race error.
A snapshot overwrite's base is the latest version when it commits; an
append, a MERGE (``upsert_versioned``) and a compaction take the
version they READ as base, so a commit that lands between their read
and their publish makes them fail instead of being silently dropped.
A commit runs in two halves: ``_stage`` is the only code that writes a
snapshot's data, returning a ``Staged`` version, and ``Staged.publish``
the only code that publishes one; a caller may check the staged data
between the two (``stage_versioned``). ``_manifest`` /
``_read_manifest`` are the only code that reads a manifest. A snapshot's
layout is recorded in its manifest: ``partition_by`` (Hive directories)
or ``bucket_by`` (hash buckets, read back as an external catalog table
that any session re-registers from the manifest).

Scale notes: the protocol is pure metadata — one small JSON per commit,
no data-file rewrite beyond the snapshot itself, identical on an object
store (publish = conditional PUT of the manifest key). Readers pay one
directory listing of ``_versions/`` (tiny files), never a listing of
the data tree. Old snapshots stay readable until ``vacuum``.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from . import io

_VERSIONS = "_versions"
_DATA = "_data"


def _version_dir(root: str) -> str:
    return os.path.join(root, _VERSIONS)


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_version_dir(root), f"v{version:08d}.json")


def _new_data_dir(root: str, version: int) -> str:
    """A FRESH data directory for one writer's snapshot attempt.

    The name carries a per-writer random token: two concurrent writers
    that both compute the same next version number must never share a
    data directory — with a shared ``_data/v{N}`` both Spark jobs pass
    mode('errorifexists') (the check happens at job start), their
    ``_temporary`` staging trees collide, and the manifest race's
    winner can publish a directory holding a MIX of both writers'
    part-files. Unique dirs make the loser's output an invisible
    orphan instead; the manifest records the actual relpath, so
    readers never reconstruct the name.
    """
    return os.path.join(root, _DATA, f"v{version:08d}_{uuid.uuid4().hex[:8]}")


def list_versions(root: str) -> list[int]:
    """Committed versions, ascending. Uncommitted data dirs are ignored."""
    vdir = _version_dir(root)
    if not os.path.isdir(vdir):
        return []
    out = []
    for name in os.listdir(vdir):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(root: str, version: int) -> dict:
    """The manifest of a version the caller already listed."""
    with open(_manifest_path(root, version)) as f:
        return json.load(f)


def _manifest(root: str, version: int | None = None) -> tuple[int, dict]:
    """``(version, manifest)`` of the latest committed version, or of
    ``version`` — FileNotFoundError when the table or version is absent."""
    versions = list_versions(root)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {root}")
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise FileNotFoundError(
            f"version {version} of {root} does not exist "
            f"(committed: {versions})"
        )
    return version, _read_manifest(root, version)


def _manifest_dirs(manifest: dict) -> list[str]:
    """Relative data dirs a manifest references, oldest first.

    Snapshot commits record a single string; append commits
    (append_versioned) record a LIST — the prior version's dirs plus
    the appended batch's dir. Normalizing here keeps every reader and
    maintenance job agnostic to which kind produced the version.
    """
    data = manifest["data"]
    return [data] if isinstance(data, str) else list(data)


def _manifest_all_dirs(manifest: dict) -> list[str]:
    """Data dirs PLUS the change-data dir (if the commit recorded one)
    — everything on disk a manifest keeps alive."""
    out = _manifest_dirs(manifest)
    if manifest.get("changes"):
        out = [*out, manifest["changes"]]
    return out


def _referenced_dirs(root: str, versions) -> set[str]:
    """Absolute dirs (data and change data) the manifests of
    ``versions`` keep alive."""
    return {
        os.path.normpath(os.path.join(root, rel))
        for v in versions
        for rel in _manifest_all_dirs(_read_manifest(root, v))
    }


def _orphan_data_dirs(root: str) -> list[str]:
    """Data dirs with NO published manifest (crashed, in-flight, or
    race-losing writers). Invisible to readers by protocol. Only
    ``v``-prefixed names are considered — a foreign directory that
    happens to sit under ``_data/`` is NOT this module's to reclaim."""
    ddir = os.path.join(root, _DATA)
    if not os.path.isdir(ddir):
        return []
    committed = _referenced_dirs(root, list_versions(root))
    out = []
    for name in os.listdir(ddir):
        if not name.startswith("v"):
            continue
        path = os.path.normpath(os.path.join(ddir, name))
        if path not in committed:
            out.append(path)
    return sorted(out)


@dataclass(frozen=True)
class Staged:
    """A version whose data is written but not yet published: the first
    half of a commit. ``publish()`` makes it the table's next version;
    ``read(spark)`` scans it before that. A staged version that is never
    published leaves its dirs as invisible orphans that ``vacuum``
    reclaims, and readers keep the previous version."""

    root: str
    version: int
    manifest: dict

    def publish(self) -> int:
        """Publish the staged version and return its number; raises the
        race error if another writer published that version first."""
        manifest = {**self.manifest, "committed_at": time.time()}
        _publish_manifest(self.root, self.version, manifest)
        return self.version

    def read(self, spark: SparkSession) -> DataFrame:
        """The staged snapshot, scanned as ``read_versioned`` scans a
        published one."""
        return _scan(spark, self.root, self.manifest)


def _stage(
    df: DataFrame,
    root: str,
    base: int,
    partition_by: list[str] | None = None,
    schema: dict | None = None,
    append_to: list[str] | None = None,
    changes: DataFrame | None = None,
    bucket_by: tuple[list[str], int] | None = None,
) -> Staged:
    """The one data write: write ``df`` as a fresh data dir (and a
    MERGE's ``changes`` as its change dir) and stage it as version
    ``base + 1``.

    ``base`` is the version the commit was derived from. If another
    writer published ``base + 1`` first, the commit raises the race
    error: here, before the data write, when that version is already
    there, else at the publish, leaving its dirs as invisible orphans.
    ``append_to`` (an append's prior dirs) makes the manifest reference
    those dirs plus the new one; ``schema`` (JSON) is recorded instead
    of ``df``'s when an append pins the table's schema. ``bucket_by``
    ``(keys, n)`` writes the data dir as ``n`` hash buckets on ``keys``
    (``io.write_bucketed``) instead of ``partition_by`` directories.
    """
    version = base + 1
    # a commit that has already lost the race skips its data write; the
    # link in _publish_manifest stays the real guard
    if os.path.exists(_manifest_path(root, version)):
        raise _race_error(root, version)
    os.makedirs(_version_dir(root), exist_ok=True)
    data = _new_data_dir(root, version)
    if bucket_by:
        io.write_bucketed(df, data, *bucket_by)
    else:
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data)
    rel = os.path.relpath(data, root)
    manifest = {
        "version": version,
        "data": [*append_to, rel] if append_to else rel,
        "schema": schema or df.schema.jsonValue(),
        # recorded so maintenance jobs (compaction, upsert) preserve the
        # disk layout instead of silently flattening it on rewrite
        "partition_by": list(partition_by) if partition_by else [],
        "bucket_by": bucket_by,
    }
    if changes is not None:
        # change data rides the SAME crash protocol: written before the
        # manifest, so a failure leaves both dirs as invisible orphans
        # and a committed version's change feed is always complete.
        # The cdf marker in the name keeps it v-prefixed (orphan-
        # scannable) but visibly distinct from snapshot dirs.
        cdir = os.path.join(
            root, _DATA, f"v{version:08d}cdf_{uuid.uuid4().hex[:8]}"
        )
        changes.write.mode("errorifexists").parquet(cdir)
        manifest["changes"] = os.path.relpath(cdir, root)
    return Staged(root, version, manifest)


def stage_versioned(
    df: DataFrame, root: str, partition_by: list[str] | None = None
) -> Staged:
    """Write ``df`` as the next snapshot version without publishing it.

    Data first, manifest last (see module docstring): the staged data
    dir is invisible to readers until ``Staged.publish()``; between the
    two the caller can check it, e.g. read the write's ``df.observe``
    metrics or scan it with ``Staged.read``. ``partition_by``
    disk-partitions the snapshot — partition pruning composes with
    versioning since each snapshot is an ordinary parquet tree.
    """
    # an overwrite does not depend on the prior snapshot's contents, so
    # its base is whatever is latest now; data dirs are writer-unique,
    # so a crashed or race-losing writer's leftovers never block a
    # version number and vacuum() reclaims them
    base = max(list_versions(root), default=0)
    return _stage(df, root, base, partition_by)


def write_versioned(
    df: DataFrame, root: str, partition_by: list[str] | None = None
) -> int:
    """Commit ``df`` as the next snapshot version and return its number:
    ``stage_versioned`` then ``publish``. A failure between the two
    leaves an orphan data dir that readers never observe and ``vacuum``
    removes."""
    return stage_versioned(df, root, partition_by).publish()


def _publish_manifest(root: str, version: int, manifest: dict) -> None:
    final = _manifest_path(root, version)
    # pid alone is not unique: two threads of one process committing the
    # same version would share (and overwrite) one temp file
    tmp = final + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        # link+unlink instead of rename: rename would silently overwrite
        # a concurrent committer's manifest; link fails with EEXIST, so
        # exactly one writer wins each version number
        os.link(tmp, final)
    except FileExistsError:
        raise _race_error(root, version)
    finally:
        os.unlink(tmp)


class CommitRace(RuntimeError):
    """Another writer published the version this commit targeted."""


def _race_error(root: str, version: int) -> CommitRace:
    return CommitRace(
        f"concurrent commit lost the race for version {version} of {root}"
    )


def append_versioned(
    df: DataFrame,
    root: str,
    merge_schema: bool = False,
) -> int:
    """Commit ``df`` APPENDED to the latest snapshot as the next version,
    writing ONLY ``df``'s rows — the new manifest references the prior
    version's data dirs plus one fresh dir for this batch.

    This is the O(batch) commit a streaming sink needs: a B-batch drain
    writes each row exactly once (B small dirs + B tiny manifests),
    where a read-union-rewrite loop would write 1+2+...+B = O(B²) rows.
    It is the same trick Delta's transaction log plays — an AddFile
    commit, not a snapshot rewrite; pair with ``compact_versioned`` to
    fold the accumulated small dirs back into right-sized files (that
    rewrite commits a plain single-dir snapshot version, after which
    appends resume on top of it).

    The batch must carry the table's exact column set (any order —
    columns are realigned by name, the unionByName contract); the
    manifest pins the FIRST version's schema so readers see one stable
    schema across every constituent dir. Bootstraps the table when no
    version exists. Crash semantics are identical to write_versioned:
    data first, manifest last, orphans invisible. The appended batch
    inherits the table's recorded partition layout so partition pruning
    keeps working across constituent dirs. The version it extends is
    its base: if another commit lands first, the append fails with the
    race error rather than dropping that commit's rows.

    ``merge_schema=True`` is Delta's mergeSchema contract: the batch may
    ADD columns (the new manifest's schema is table fields + new fields,
    in that order) and may OMIT existing ones (read back as NULL). Old
    versions keep their own recorded schema — time travel sees the
    table as it was. A column present on both sides must keep its exact
    type; widening casts are the caller's job (an implicit cast here
    would silently rewrite history's semantics).
    """
    versions = list_versions(root)
    if not versions:
        return _stage(df, root, 0).publish()
    base = versions[-1]
    prior = _read_manifest(root, base)

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    table_schema = StructType.fromJson(prior["schema"])
    schema_json = prior["schema"]
    if merge_schema:
        table_fields = {f.name: f for f in table_schema.fields}
        for bf in df.schema.fields:
            tf = table_fields.get(bf.name)
            if tf is not None and tf.dataType != bf.dataType:
                raise ValueError(
                    f"append type conflict on '{bf.name}': table has "
                    f"{tf.dataType.simpleString()}, batch has "
                    f"{bf.dataType.simpleString()} — cast explicitly"
                )
        from pyspark.sql.types import StructField

        # an evolution-added column MUST be recorded nullable whatever
        # the batch says: every pre-evolution dir reads it back as NULL,
        # and a non-nullable declaration over those NULLs crashes the
        # scan (observed: UTF8String NPE in the arrow source)
        merged = StructType(
            list(table_schema.fields)
            + [
                StructField(bf.name, bf.dataType, nullable=True)
                for bf in df.schema.fields
                if bf.name not in table_fields
            ]
        )
        df = df.select(
            *[
                F.col(f.name)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in merged.fields
            ]
        )
        table_schema, schema_json = merged, merged.jsonValue()
    elif set(df.columns) != set(table_schema.fieldNames()):
        raise ValueError(
            f"append schema mismatch: table has "
            f"{sorted(table_schema.fieldNames())}, batch has "
            f"{sorted(df.columns)} (merge_schema=True to evolve)"
        )
    df = df.select(*table_schema.fieldNames())
    return _stage(
        df,
        root,
        base,
        prior.get("partition_by"),
        schema=schema_json,
        append_to=_manifest_dirs(prior),
    ).publish()


def read_versioned(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read a committed snapshot — latest by default, or time-travel to
    an explicit ``version``."""
    return _scan(spark, root, _manifest(root, version)[1])


def _scan(spark: SparkSession, root: str, manifest: dict) -> DataFrame:
    """The snapshot ``manifest`` names, with the schema it records."""
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(manifest["schema"]) if "schema" in manifest else None
    if manifest.get("bucket_by"):
        # read through an external table over the one data dir, so joins
        # and aggregates on the keys keep the buckets; IF NOT EXISTS makes
        # a session that never wrote the snapshot register it here
        keys, n = manifest["bucket_by"]
        path = os.path.abspath(os.path.join(root, manifest["data"]))
        table, cols = io.bucketed_table(path), ", ".join(f"`{k}`" for k in keys)
        spark.sql(f"CREATE TABLE IF NOT EXISTS {table} ({schema.toDDL()}) USING "
                  f"parquet CLUSTERED BY ({cols}) SORTED BY ({cols}) INTO {n} "
                  f"BUCKETS LOCATION '{path}'")
        return spark.table(table)
    reader = spark.read
    if schema is not None:
        # pin the committed schema: a partitioned snapshot's partition
        # columns otherwise come back via Hive-style directory-name
        # inference, which can drift the type (e.g. a '01' string
        # partition value reads back as int) between write and read
        reader = reader.schema(schema)
    paths = [os.path.join(root, rel) for rel in _manifest_dirs(manifest)]
    if len(paths) > 1 and manifest.get("partition_by"):
        # Hive partition discovery refuses a multi-path scan whose roots
        # are sibling constituent dirs (conflicting directory
        # structures); per-dir scans unioned keep per-branch partition
        # pruning and the pinned schema. Compaction bounds the fan-in.
        from functools import reduce

        parts = [reader.parquet(p) for p in paths]
        return reduce(lambda a, b: a.unionByName(b), parts)
    return reader.parquet(*paths)


def vacuum(
    root: str, keep_last: int = 1, orphan_retention_sec: float = 3600.0
) -> list[int]:
    """Drop all but the newest ``keep_last`` snapshots (data + manifest)
    plus STALE orphaned data dirs and temp manifests. Returns removed
    versions.

    Mirrors Delta's VACUUM contract: time travel only reaches retained
    versions afterwards, and — like Delta's retention window — an
    orphan data dir is only reclaimed once it is older than
    ``orphan_retention_sec``. A younger manifest-less dir may belong to
    an IN-FLIGHT writer between its data write and manifest publish;
    deleting it would make that writer's subsequent commit point at a
    destroyed directory. The retention window just needs to exceed the
    longest plausible snapshot write. Committed snapshots are removed
    by the path their MANIFEST records (never a reconstructed name);
    stale orphans are reclaimed as a side effect and are not part of
    the returned version list. A temp manifest outlives its publish only
    when the writer died before unlinking it; the same window spares an
    in-flight one.
    """
    import glob
    import shutil

    committed = list_versions(root)
    keep = set(committed[-keep_last:]) if keep_last > 0 else set()
    # Append commits SHARE data dirs with the versions they extend, so a
    # dropped version's dirs are only reclaimable when no KEPT manifest
    # still references them — exactly Delta's rule that VACUUM removes
    # files no retained snapshot needs.
    still_referenced = _referenced_dirs(root, keep)
    removed = []
    for v in committed:
        if v not in keep:
            dirs = _referenced_dirs(root, [v])
            os.unlink(_manifest_path(root, v))
            for data in dirs - still_referenced:
                shutil.rmtree(data, ignore_errors=True)
            removed.append(v)
    now = time.time()
    temps = glob.glob(os.path.join(glob.escape(_version_dir(root)), "v*.json.tmp.*"))
    for path in _orphan_data_dirs(root) + temps:
        try:
            if now - os.path.getmtime(path) >= orphan_retention_sec:
                (shutil.rmtree if os.path.isdir(path) else os.unlink)(path)
        except OSError:  # removed meanwhile, or left for the next vacuum
            continue
    return removed


def history(root: str) -> list[dict]:
    """Commit history (version, committed_at, data path), oldest first —
    the DESCRIBE HISTORY analog."""
    out = []
    for v in list_versions(root):
        m = _read_manifest(root, v)
        out.append(
            {"version": v, "committed_at": m["committed_at"], "data": m["data"]}
        )
    return out


def compact_versioned(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Rewrite the latest snapshot into right-sized files and commit the
    result as a NEW version (the OPTIMIZE/compaction maintenance job).

    Streaming sinks and fine-grained writers accumulate small files;
    at 100 TB a scan's task count and footer-read overhead are driven
    by file count, so periodic compaction is what keeps read
    performance flat over time. The rewrite rides the same manifest
    protocol as any write: readers keep the old version until the
    compacted one is committed, and time travel still reaches the
    pre-compaction snapshot. File count = ceil(snapshot bytes /
    target_file_bytes), measured from the current data files. The
    compacted version is its base: a commit that lands after the
    compaction's read makes it fail with the race error.
    """
    import math

    base, manifest = _manifest(root)
    total = 0
    for rel in _manifest_dirs(manifest):
        for dirpath, _dirs, files in os.walk(os.path.join(root, rel)):
            for name in files:
                if name.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(dirpath, name))
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = read_versioned(spark, root, base)
    # coalesce, not repartition: compaction must not pay a shuffle.
    # Thread the recorded partition layout through the rewrite — without
    # it, compacting a disk-partitioned snapshot would silently drop the
    # layout and every post-compaction 'latest' read loses pruning.
    return _stage(
        df.coalesce(n_files), root, base, manifest.get("partition_by"),
        bucket_by=manifest.get("bucket_by"),
    ).publish()


def upsert_versioned(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key: list[str],
    change_data_feed: bool = False,
) -> int:
    """MERGE (SCD-1 upsert) against the latest snapshot, committed as a
    new version: rows matching ``key`` are replaced by the update row,
    unmatched update rows are inserted, everything else carries over.

    Relationally this is ``(current ANTI-JOIN updates ON key) UNION ALL
    updates`` — one anti-join (updates side broadcasts when small, the
    overwhelmingly common case for incremental loads) plus the snapshot
    rewrite. That is exactly what a Delta MERGE does physically to
    touched files, except this full-snapshot format rewrites the whole
    table — the simplification that keeps the commit protocol to one
    manifest. Readers see the old version until the new manifest lands.

    The MERGE is derived from the version it reads (N), so it publishes
    N+1 or fails: if any other commit lands in between, the link-based
    publish raises the race error instead of silently dropping that
    commit — the serializable-writer behavior MERGE needs.
    """
    from pyspark.sql import functions as F

    base, manifest = _manifest(root)
    current = read_versioned(spark, root, base)
    if set(current.columns) != set(updates.columns):
        raise ValueError(
            f"upsert schema mismatch: table has {sorted(current.columns)}, "
            f"updates have {sorted(updates.columns)}"
        )
    # Delta MERGE raises when multiple source rows match one target row;
    # without this check duplicate update keys would both survive the
    # unionByName and silently plant duplicate-key rows in the snapshot.
    # One tiny aggregate over the (small-by-contract) updates side.
    dup = (
        updates.groupBy(*key)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        dup_key = {k: dup[0][k] for k in key}
        raise ValueError(
            f"upsert updates contain duplicate rows for key {dup_key}; "
            "MERGE requires at most one source row per target key"
        )
    kept = current.join(F.broadcast(updates.select(*key)), on=key, how="left_anti")
    merged = kept.unionByName(updates)
    changes = None
    if change_data_feed:
        # Delta's CDF architecture: change rows are MATERIALIZED AT
        # WRITE TIME by the committer (who has the cluster), so readers
        # — including the streaming source's cdc mode — never diff
        # snapshots. An upsert's changes are exactly the update rows,
        # op'd by whether the key existed: matched_keys is the current
        # table semi-joined to the (small, broadcast) updates, itself
        # at most |updates| rows, so both extra joins broadcast.
        # Post-image only ('update' carries the new values), no deletes
        # (MERGE-without-DELETE semantics).
        # distinct: a bootstrap write_versioned may have committed
        # duplicate keys; without it the left join below would multiply
        # update rows in the recorded change feed. Bounded by |updates|
        # after the semi join, so the dedup is on an already-small set.
        matched_keys = (
            current.select(*key)
            .join(F.broadcast(updates.select(*key)), on=key, how="left_semi")
            .distinct()
        )
        changes = updates.join(
            F.broadcast(matched_keys.withColumn("_m", F.lit(1))),
            on=key,
            how="left",
        ).select(
            *updates.columns,
            F.when(F.col("_m").isNotNull(), F.lit("update"))
            .otherwise(F.lit("insert"))
            .alias("_op"),
        )
    # preserve the read snapshot's recorded disk layout across the merge
    return _stage(
        merged, root, base, manifest.get("partition_by"), changes=changes,
        bucket_by=manifest.get("bucket_by"),
    ).publish()


def added_dirs(root: str, version: int) -> list[str] | None:
    """Relative data dirs ``version`` ADDED over its committed parent,
    or None if the commit was a REWRITE (dropped parent dirs — not an
    append). The bootstrap commit adds everything."""
    cur = set(_manifest_dirs(_read_manifest(root, version)))
    prior_versions = [v for v in list_versions(root) if v < version]
    if not prior_versions:
        return sorted(cur)
    parent = set(_manifest_dirs(_read_manifest(root, max(prior_versions))))
    if not parent <= cur:
        return None
    return sorted(cur - parent)


def _change_dirs(root: str, version: int) -> tuple[list[str], str | None] | None:
    """The one change resolver, for ``read_change_feed`` and the
    streaming source's cdc mode: what committed ``version`` changed.

    Returns ``(dirs, op)``: the change dir the committer recorded
    (``upsert_versioned(change_data_feed=True)``), whose rows carry
    their own ``_op`` (op None); else an append's added dirs, whose
    rows are inserts (op 'insert'). None for a rewrite with no recorded
    change data.
    """
    changes = _read_manifest(root, version).get("changes")
    if changes:
        return [changes], None
    added = added_dirs(root, version)
    return None if added is None else (added, "insert")


def read_change_feed(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """The table_changes / CDF read: one row per change across versions
    (``from_version``, ``to_version``], with ``_op`` ('insert' or
    'update', post-image values) and ``_commit_version``.

    Appends need no stored change data — their added dirs ARE the
    inserts, synthesized here; upserts committed with
    ``change_data_feed=True`` read the change dir the WRITER
    materialized (the Delta CDF architecture — readers never diff
    snapshots); any other rewrite has no recorded change data and
    raises (``diff_versions`` is the explicit two-snapshot fallback).
    Versions whose schema differs from the latest are aligned by name
    via unionByName(allowMissingColumns) — evolution-added columns read
    NULL before they existed.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    versions = [
        v
        for v in list_versions(root)
        if from_version < v <= (to_version if to_version is not None else 1 << 62)
    ]
    from pyspark.sql.types import StructType

    parts: list[DataFrame] = []
    for v in versions:
        resolved = _change_dirs(root, v)
        if resolved is None:
            raise ValueError(
                f"version {v} of {root} is a snapshot rewrite with no "
                "recorded change data; commit it with "
                "change_data_feed=True or diff_versions() explicitly"
            )
        dirs, op = resolved
        if not dirs:
            continue
        paths = [os.path.join(root, rel) for rel in dirs]
        if op is None:
            df = spark.read.parquet(*paths)
        else:
            schema = StructType.fromJson(_read_manifest(root, v)["schema"])
            df = spark.read.schema(schema).parquet(*paths).withColumn(
                "_op", F.lit(op)
            )
        parts.append(df.withColumn("_commit_version", F.lit(v).cast("long")))
    if not parts:
        raise ValueError(
            f"no committed versions of {root} in ({from_version}, "
            f"{to_version}]"
        )
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )


def diff_versions(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int,
    key: list[str],
) -> DataFrame:
    """Change-data-capture between two committed snapshots: one row per
    changed key with ``_op`` in {'insert', 'delete', 'update'} and the
    TO-side values (FROM-side values for deletes) — the table_changes /
    CDF read Delta exposes, recovered from full snapshots.

    Relational shape: a single full outer join on the key; the op
    classifies on side-presence, updates detected by comparing an
    md5(to_json(struct(values))) row hash — JSON carries field names
    and quotes/escapes values, so it is injection-free (no separator a
    value could contain) and null-aware (a null field and the string
    'null' serialize differently). One co-partitioned shuffle join of
    the two snapshots — no driver materialization, safe at any
    snapshot size. Row-hash comparison is conservative for float
    columns (bitwise-identical or changed).
    """
    from pyspark.sql import functions as F

    a = read_versioned(spark, root, from_version)
    b = read_versioned(spark, root, to_version)
    if set(a.columns) != set(b.columns):
        raise ValueError(
            "diff across schema evolution is not supported: "
            f"{sorted(set(a.columns) ^ set(b.columns))} differ"
        )
    cols = a.columns
    val_cols = [c for c in cols if c not in key]

    def hashed(df, tag):
        h = F.md5(F.to_json(F.struct(*[F.col(c) for c in val_cols])))
        renamed = df.select(
            *[F.col(k).alias(k) for k in key],
            *[F.col(c).alias(f"{tag}_{c}") for c in val_cols],
            h.alias(f"{tag}_hash"),
        )
        return renamed

    joined = hashed(a, "a").join(hashed(b, "b"), on=key, how="full_outer")
    op = (
        F.when(F.col("a_hash").isNull(), F.lit("insert"))
        .when(F.col("b_hash").isNull(), F.lit("delete"))
        .when(F.col("a_hash") != F.col("b_hash"), F.lit("update"))
    )
    out_vals = [
        F.coalesce(F.col(f"b_{c}"), F.col(f"a_{c}")).alias(c)
        for c in val_cols
    ]
    return (
        joined.withColumn("_op", op)
        .filter(F.col("_op").isNotNull())
        .select(*key, *out_vals, "_op")
    )
