"""Structured Streaming SOURCE over versioned tables — the Delta
"streaming table read" contract on the plain-parquet manifest store,
built on Spark 4's Python DataSource API.

``stream_to_versioned`` made versioned tables a streaming SINK; this
module closes the loop so a versioned table is also a streaming
SOURCE, which is what chains pipelines together (bronze drain →
versioned silver → THIS → gold aggregation) without Kafka in between:

    spark.dataSource.register(VersionedStreamDataSource)
    df = (spark.readStream.format("versioned")
          .option("path", root)
          .load())

Offsets are COMMITTED VERSION NUMBERS — exactly Delta's streaming
model, where the reservoir version is the offset. A micro-batch covers
versions (start, end]; each version's contribution is the set of data
dirs its manifest ADDED over its parent (manifest-level appends record
exactly the new batch dir), one InputPartition per added dir, read on
EXECUTORS via pyarrow and yielded as Arrow record batches — the driver
never touches row data, and a drain's parallelism is the number of
newly-committed dirs.

Snapshot REWRITES (write_versioned over an existing table, upsert,
compaction) do not append — their manifest drops the parent's dirs.
Delta raises on such commits unless told otherwise; same here:

- ``on_rewrite=error`` (default): loud failure naming the version.
- ``on_rewrite=skip``: emit nothing for rewrite versions. This is the
  right setting when the only rewrites are ``compact_versioned``
  maintenance (same rows, new layout — re-emitting would duplicate).

``option("mode", "cdc")`` turns the stream into a CHANGE-DATA FEED:
every row carries ``_op`` and ``_commit_version``. Appends synthesize
``_op='insert'`` straight from their added dirs (no stored change
data); upserts committed with
``upsert_versioned(change_data_feed=True)`` stream the change rows the
WRITER materialized — Delta's CDF architecture, where the committer
(who has the cluster) pays for change computation once and readers
never diff snapshots. Rewrites without recorded change data follow the
same on_rewrite policy. ``versioned.read_change_feed`` is the batch
face of the same contract.

Schema is pinned at stream start from the latest manifest (evolution
mid-stream follows the usual Structured Streaming rule: restart to
pick up new columns); constituent dirs missing a pinned column yield
typed NULLs, Hive-partitioned dirs recover their partition columns.
The format is streaming-only: a batch read of a versioned table is
``versioned.read_versioned`` (a native parquet scan of one version).
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..versioned import (
    _change_dirs,
    _manifest,
    added_dirs as _added_dirs,
    list_versions,
)


class _DirPartition(InputPartition):
    def __init__(
        self,
        path: str,
        schema_json: str,
        cdc_version: int | None = None,
        cdc_op: str | None = None,
    ):
        self.path = path
        self.schema_json = schema_json
        # cdc mode: the commit version this dir belongs to, and the op
        # to SYNTHESIZE for plain data dirs (a materialized change dir
        # carries its own _op column and sets cdc_op=None)
        self.cdc_version = cdc_version
        self.cdc_op = cdc_op


def _read_dir_as_arrow(partition: _DirPartition):
    """Executor-side: scan one data dir with pyarrow, align to the
    pinned BASE schema (missing columns -> typed NULLs, Hive partition
    columns cast to their recorded types), yield Arrow batches. In cdc
    mode two columns ride along: ``_op`` (from the materialized change
    dir, or synthesized for append dirs) and ``_commit_version``."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(
        StructType.fromJson(json.loads(partition.schema_json))
    )
    dset = pads.dataset(partition.path, format="parquet", partitioning="hive")
    tbl = dset.to_table()
    n = len(tbl)
    cols = []
    for field in target:
        if field.name in tbl.column_names:
            cols.append(tbl[field.name].cast(field.type))
        else:
            cols.append(pa.nulls(n, field.type))
    fields = list(target)
    if partition.cdc_version is not None:
        if partition.cdc_op is not None:
            op = pa.array([partition.cdc_op] * n, type=pa.string())
        else:
            op = tbl["_op"].cast(pa.string()).combine_chunks()
        cols.append(op)
        cols.append(pa.array([partition.cdc_version] * n, type=pa.int64()))
        fields += [pa.field("_op", pa.string()), pa.field("_commit_version", pa.int64())]
    aligned = pa.table(cols, schema=pa.schema(fields))
    yield from aligned.to_batches()


class _VersionedStreamReader(DataSourceStreamReader):
    def __init__(self, root: str, base_schema_json: str, options):
        self._root = root
        self._schema_json = base_schema_json
        self._start = int(options.get("starting_version", 1)) - 1
        self._cdc = (options.get("mode") or "append").lower() == "cdc"
        self._on_rewrite = (options.get("on_rewrite") or "error").lower()
        if self._on_rewrite not in ("error", "skip"):
            raise ValueError(
                f"on_rewrite must be 'error' or 'skip', got "
                f"{self._on_rewrite!r}"
            )

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        return {"version": max(list_versions(self._root), default=self._start)}

    def partitions(self, start: dict, end: dict):
        # Delta's "versions have been vacuumed" contract: if any version
        # in (start, end] no longer has a manifest (vacuumed table with
        # starting_version below retention, or a checkpoint restarted
        # after vacuum), fail with the earliest retained version instead
        # of a raw FileNotFoundError from a manifest open below.
        retained = set(list_versions(self._root))
        wanted = range(start["version"] + 1, end["version"] + 1)
        gone = [v for v in wanted if v not in retained]
        if gone:
            earliest = min(retained) if retained else None
            raise RuntimeError(
                f"versions {gone[0]}..{gone[-1]} of {self._root} have "
                "been vacuumed and cannot be streamed"
                + (
                    f"; earliest retained version is {earliest} — "
                    f"restart with option('starting_version', {earliest}) "
                    "and a fresh checkpoint"
                    if earliest is not None
                    else "; the table has no retained versions"
                )
            )
        parts: list[_DirPartition] = []
        for v in wanted:
            if self._cdc:
                # recorded change dirs are read verbatim, _op included;
                # append dirs get a synthesized 'insert'
                resolved = _change_dirs(self._root, v)
            else:
                added = _added_dirs(self._root, v)
                resolved = None if added is None else (added, None)
            if resolved is None:
                if self._on_rewrite == "error":
                    raise RuntimeError(
                        f"version {v} of {self._root} is a snapshot "
                        "rewrite, not an append"
                        + (
                            " with recorded change data — commit upserts "
                            "with change_data_feed=True"
                            if self._cdc
                            else " — a streaming read cannot express it "
                            "as new rows"
                        )
                        + ". Pass option('on_rewrite', 'skip') if "
                        "rewrites here are row-preserving maintenance "
                        "(compaction)."
                    )
                continue
            dirs, op = resolved
            parts.extend(
                _DirPartition(
                    os.path.join(self._root, rel),
                    self._schema_json,
                    cdc_version=v if self._cdc else None,
                    cdc_op=op,
                )
                for rel in dirs
            )
        # Spark requires >= 1 partition per micro-batch; an all-skip
        # range still needs an empty contribution
        return parts or [_DirPartition("", self._schema_json)]

    def read(self, partition: _DirPartition):
        if not partition.path:
            return iter(())
        return _read_dir_as_arrow(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint; the table needs nothing


class VersionedStreamDataSource(DataSource):
    """``format("versioned")`` — register with
    ``spark.dataSource.register(VersionedStreamDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "versioned"

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError(
                "format('versioned') requires .option('path', <table root>)"
            )
        return root

    def schema(self) -> StructType:
        base = StructType.fromJson(_manifest(self._root())[1]["schema"])
        if (self.options.get("mode") or "append").lower() == "cdc":
            from pyspark.sql.types import LongType, StringType, StructField

            return StructType(
                [
                    *base.fields,
                    StructField("_op", StringType()),
                    StructField("_commit_version", LongType()),
                ]
            )
        return base

    def streamReader(self, schema: StructType) -> _VersionedStreamReader:
        base = schema
        if (self.options.get("mode") or "append").lower() == "cdc":
            base = StructType(
                [f for f in schema.fields
                 if f.name not in ("_op", "_commit_version")]
            )
        return _VersionedStreamReader(
            self._root(), json.dumps(base.jsonValue()), self.options
        )
