"""Streaming-vs-batch equivalence: the watermarked streaming plans,
drained with Trigger.AvailableNow, must produce exactly the batch
results; streaming dedup must drop in-horizon duplicates.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from instacart_medallion_lakehouse_spark import queries as q
from instacart_medallion_lakehouse_spark.io import read_events
from instacart_medallion_lakehouse_spark.streaming import events as se


def _rows_set(df, cols):
    return {tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect()}


class TestStreamBatchEquivalence:
    def test_tumbling_agg_equals_batch(self, spark, sf_dir):
        batch = q.queries()["windowed_events"](spark, sf_dir)
        stream = se.drain_to_batch(
            se.tumbling_counts_stream(se.read_events_stream(spark, sf_dir)),
            output_mode="complete",
        )
        cols = ["window_start", "event_type", "n_events", "total_value", "avg_value"]
        assert _rows_set(batch, cols) == _rows_set(stream, cols)

    def test_session_windows_equal_batch_islands(self, spark, sf_dir):
        batch = q.queries()["sessionize"](spark, sf_dir)
        stream = se.drain_to_batch(
            se.session_windows_stream(se.read_events_stream(spark, sf_dir)),
            output_mode="complete",
        )
        # batch keys sessions by seq, stream by window bounds; compare on
        # the session content signature (user, start, end, n, value)
        bcols = ["user_id", "session_start", "session_end", "n_events", "session_value"]
        batch_sessions = batch.selectExpr(
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            "session_value",
        )
        assert _rows_set(batch_sessions, bcols) == _rows_set(stream, bcols)


class TestEventsReadersAgree:
    """``io.read_events`` and ``read_events_stream`` read every physical
    form ``ts`` has had in the testdata to the same rows, with ``ts`` a
    session-zone timestamp. Inline data, so this runs without the
    driver testdata."""

    # 2024-01-01T00:00:00.123456789Z and two later instants, in ns
    _NANOS = [
        1_704_067_200_123_456_789,
        1_704_070_800_000_001_999,
        1_704_153_600_999_999_000,
    ]

    @pytest.mark.parametrize(
        "ts_type",
        [pa.timestamp("us"), pa.timestamp("us", tz="UTC"), pa.timestamp("ns")],
        ids=["us_naive", "us_utc", "ns"],
    )
    def test_batch_and_stream_read_the_same_rows(self, spark, tmp_path, ts_type):
        unit = 1 if ts_type.unit == "ns" else 1000
        ts = pa.array([n // unit for n in self._NANOS], pa.int64()).cast(ts_type)
        table = pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": ts,
                "user_id": pa.array([10, 10, 20], pa.int64()),
                "event_type": ["view", "click", "view"],
                "value": [1.5, 2.25, 0.0],
                "props": ['{"a":1}', None, "{}"],
            }
        )
        pq.write_table(table, str(tmp_path / "events.parquet"))
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        try:
            batch = read_events(spark, str(tmp_path))
            stream = se.drain_to_batch(
                se.read_events_stream(spark, str(tmp_path)),
                output_mode="append",
                no_data_batches=False,
            )
            assert dict(batch.dtypes)["ts"] == "timestamp"
            assert dict(stream.dtypes)["ts"] == "timestamp"
            cols = [c for c in batch.columns if c != "ts"]
            rows = [
                df.select(*cols, F.unix_micros("ts").alias("ts_us")).collect()
                for df in (batch, stream)
            ]
            assert sorted(rows[0]) == sorted(rows[1])
            assert sorted(r.ts_us for r in rows[0]) == [n // 1000 for n in self._NANOS]
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


class TestStreamingDedup:
    def test_drop_duplicates_within_watermark(self, spark, sf_dir):
        stream = se.read_events_stream(spark, sf_dir)
        total = se.drain_to_batch(stream, output_mode="append").count()
        deduped = se.drain_to_batch(se.dedup_stream(stream), output_mode="append")
        n_ids = deduped.select("event_id").distinct().count()
        assert deduped.count() == n_ids  # no duplicate event_ids survive
        assert 0 < n_ids <= total


class TestArbitraryStatefulProcessing:
    def test_running_user_totals_match_batch(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from instacart_medallion_lakehouse_spark.io import read_events

        stream = se.read_events_stream(spark, sf_dir)
        drained = se.drain_to_batch(
            se.running_user_totals_stream(stream), output_mode="update"
        )
        # update mode emits one row per user per micro-batch; the final
        # state for a user is the row with the highest running count
        final = {}
        for r in drained.collect():
            cur = final.get(r["user_id"])
            if cur is None or r["n_events"] > cur["n_events"]:
                final[r["user_id"]] = r
        batch = {
            r["user_id"]: r
            for r in read_events(spark, sf_dir)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("total_value"),
                F.max("ts").alias("last_ts"),
            )
            .collect()
        }
        assert final.keys() == batch.keys()
        for uid, b in batch.items():
            f = final[uid]
            assert f["n_events"] == b["n_events"]
            assert abs(f["total_value"] - b["total_value"]) < 1e-6
            assert f["last_ts"] == b["last_ts"]

    def test_tws_totals_match_apply_in_pandas_twin(self, spark, sf_dir):
        """transformWithStateInPandas (via the vendored protobuf shim,
        r11) must produce the same final per-user state as its
        applyInPandasWithState twin on identical input."""

        def _final(drained):
            final = {}
            for r in drained.collect():
                cur = final.get(r["user_id"])
                if cur is None or r["n_events"] > cur["n_events"]:
                    final[r["user_id"]] = r
            return final

        key = "spark.sql.streaming.stateStore.providerClass"
        prev = spark.conf.get(key, None)
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        try:
            tws = _final(
                se.drain_to_batch(
                    se.running_user_totals_tws_stream(
                        se.read_events_stream(spark, sf_dir)
                    ),
                    output_mode="update",
                )
            )
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        twin = _final(
            se.drain_to_batch(
                se.running_user_totals_stream(
                    se.read_events_stream(spark, sf_dir)
                ),
                output_mode="update",
            )
        )
        assert tws.keys() == twin.keys()
        for uid, a in twin.items():
            t = tws[uid]
            assert t["n_events"] == a["n_events"]
            assert abs(t["total_value"] - a["total_value"]) < 1e-6
            assert t["last_ts"] == a["last_ts"]


class TestFileSinkCheckpointing:
    def test_append_then_resume_no_duplicates(self, spark, sf_dir, tmp_path):
        out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
        stream = se.read_events_stream(spark, sf_dir)
        se.stream_to_parquet(stream, out, ckpt)
        n_source = se.drain_to_batch(stream, output_mode="append").count()
        assert spark.read.parquet(out).count() == n_source
        # resume with the SAME checkpoint: all input offsets are already
        # committed, so nothing is reprocessed and nothing duplicates
        se.stream_to_parquet(se.read_events_stream(spark, sf_dir), out, ckpt)
        assert spark.read.parquet(out).count() == n_source


class TestStreamStreamJoin:
    def test_interval_join_equals_batch_range_join(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from instacart_medallion_lakehouse_spark.io import read_events

        stream = se.read_events_stream(spark, sf_dir)
        drained = se.drain_to_batch(
            se.interval_join_clicks_views_stream(stream), output_mode="append"
        )
        ev = read_events(spark, sf_dir)
        c = ev.filter("event_type = 'click'").select(
            F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
        )
        v = ev.filter("event_type = 'view'").select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("vu"),
            F.col("ts").alias("vts"),
        )
        batch = c.join(
            v,
            (F.col("user_id") == F.col("vu"))
            & (F.col("vts") <= F.col("cts"))
            & (F.col("vts") >= F.col("cts") - F.expr("INTERVAL 30 MINUTES")),
        )
        got = {(r["click_id"], r["view_id"]) for r in drained.collect()}
        want = {(r["click_id"], r["view_id"]) for r in batch.collect()}
        assert got == want


class TestStreamStaticJoin:
    def test_enriched_totals_equals_batch(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from instacart_medallion_lakehouse_spark.io import read_events
        from instacart_medallion_lakehouse_spark.streaming.events import (
            drain_to_batch,
            enriched_totals_stream,
            read_events_stream,
        )

        stream = read_events_stream(spark, sf_dir)
        dim = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
            "c_custkey", "c_mktsegment"
        )
        plan = enriched_totals_stream(stream, dim)
        assert plan.isStreaming  # the join really is a streaming plan
        got = {
            (r.segment, r.event_type): (r.n_events, r.total_value)
            for r in drain_to_batch(plan, output_mode="complete").collect()
        }
        ev = read_events(spark, sf_dir)
        want = {
            (r.segment, r.event_type): (r.n_events, r.total_value)
            for r in ev.join(dim, ev["user_id"] == dim["c_custkey"])
            .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .collect()
        }
        assert set(got) == set(want)
        for k in want:
            assert got[k][0] == want[k][0]
            assert abs(got[k][1] - want[k][1]) < 0.02


class TestStreamCdcUpsert:
    def test_final_snapshot_is_latest_row_per_user(self, spark, sf_dir, tmp_path):
        """Drain the events stream through the CDC-upsert sink keyed by
        user_id (last event wins by ts) and demand the final versioned
        snapshot equal the batch latest-row-per-user computation."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from instacart_medallion_lakehouse_spark.io import read_events
        from instacart_medallion_lakehouse_spark.streaming import events as se
        from instacart_medallion_lakehouse_spark.versioned import (
            read_versioned,
        )

        root = str(tmp_path / "cdc_table")
        ckpt = str(tmp_path / "ckpt")
        stream = se.read_events_stream(spark, sf_dir).select(
            "user_id", "ts", "event_id", "event_type", "value"
        )
        se.stream_upsert_to_versioned(
            stream, root, key=["user_id"], order_col="ts", checkpoint=ckpt
        )

        got = read_versioned(spark, root)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("user_id").desc()
        )
        want = (
            read_events(spark, sf_dir)
            .select("user_id", "ts", "event_id", "event_type", "value")
            .withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .drop("_rn")
        )
        assert got.count() == want.count()
        # one row per user, and the kept ts is each user's max ts
        want_ts = {
            r["user_id"]: r["ts"]
            for r in want.select("user_id", "ts").collect()
        }
        for r in got.select("user_id", "ts").collect():
            assert r["ts"] == want_ts[r["user_id"]]

    def test_upsert_branch_merges_into_preexisting_table(
        self, spark, sf_dir, tmp_path
    ):
        """Bootstrap the versioned table FIRST, then drain — every
        micro-batch must take the upsert (MERGE) branch, not the
        write_versioned bootstrap. Regression test: the upsert call
        previously passed arguments in the wrong order and raised
        TypeError on any pre-existing table."""
        from pyspark.sql import functions as F

        from instacart_medallion_lakehouse_spark.io import read_events
        from instacart_medallion_lakehouse_spark.streaming import events as se
        from instacart_medallion_lakehouse_spark.versioned import (
            list_versions,
            read_versioned,
            write_versioned,
        )

        root = str(tmp_path / "cdc_table")
        ckpt = str(tmp_path / "ckpt")
        cols = ["user_id", "ts", "event_id", "event_type", "value"]
        # seed: one stale row per user (min ts) — the drain must overwrite
        seed = (
            read_events(spark, sf_dir)
            .select(*cols)
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(
                        F.col("ts").asc(), F.col("event_id").asc()
                    )
                ),
            )
            .filter("_rn = 1")
            .drop("_rn")
        )
        write_versioned(seed, root)
        assert list_versions(root) == [1]

        stream = se.read_events_stream(spark, sf_dir).select(*cols)
        se.stream_upsert_to_versioned(
            stream,
            root,
            key=["user_id"],
            order_col="ts",
            checkpoint=ckpt,
            tiebreak_col="event_id",
        )
        assert len(list_versions(root)) > 1  # MERGE committed new versions

        got = read_versioned(spark, root)
        want = (
            read_events(spark, sf_dir)
            .select(*cols)
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(
                        F.col("ts").desc(), F.col("event_id").desc()
                    )
                ),
            )
            .filter("_rn = 1")
            .drop("_rn")
        )
        assert got.count() == want.count()
        want_rows = {r["user_id"]: r for r in want.collect()}
        for r in got.collect():
            assert r["ts"] == want_rows[r["user_id"]]["ts"]
            assert r["event_id"] == want_rows[r["user_id"]]["event_id"]

    def test_redrain_same_checkpoint_is_noop(self, spark, sf_dir, tmp_path):
        from instacart_medallion_lakehouse_spark.streaming import events as se
        from instacart_medallion_lakehouse_spark.versioned import (
            list_versions,
        )

        root = str(tmp_path / "cdc_table")
        ckpt = str(tmp_path / "ckpt")
        stream = se.read_events_stream(spark, sf_dir).select(
            "user_id", "ts", "event_id", "event_type", "value"
        )
        se.stream_upsert_to_versioned(
            stream, root, key=["user_id"], order_col="ts", checkpoint=ckpt
        )
        v1 = list_versions(root)
        # same checkpoint: offsets already recorded -> no new snapshots
        stream2 = se.read_events_stream(spark, sf_dir).select(
            "user_id", "ts", "event_id", "event_type", "value"
        )
        se.stream_upsert_to_versioned(
            stream2, root, key=["user_id"], order_col="ts", checkpoint=ckpt
        )
        assert list_versions(root) == v1


class TestStreamSignatureIndex:
    def test_index_matches_batch_signatures(self, spark, sf_dir, tmp_path):
        """Drain the documents stream through the signature-maintenance
        sink and demand the versioned index equal the batch signature
        builder's output row for row — the invariant that lets
        incremental_minhash_dedup trust a streaming-maintained index."""
        from instacart_medallion_lakehouse_spark.operators import dedup
        from instacart_medallion_lakehouse_spark.streaming import (
            signatures as ss,
        )
        from instacart_medallion_lakehouse_spark.versioned import (
            read_versioned,
        )

        root = str(tmp_path / "sig_index")
        ckpt = str(tmp_path / "ckpt")
        ss.stream_signatures_to_index(
            ss.read_documents_stream(spark, sf_dir), root, ckpt
        )
        got = {
            r["doc_id"]: tuple(r[f"sig_{i}"] for i in range(16))
            for r in read_versioned(spark, root).collect()
        }
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        want = {
            r["doc_id"]: tuple(r[f"sig_{i}"] for i in range(16))
            for r in dedup.minhash_signatures(
                dedup.shingle_table(docs, 3, "doc_id"), 16
            ).collect()
        }
        assert got == want

    def test_redrain_same_checkpoint_is_noop(self, spark, sf_dir, tmp_path):
        from instacart_medallion_lakehouse_spark.streaming import (
            signatures as ss,
        )
        from instacart_medallion_lakehouse_spark.versioned import (
            list_versions,
        )

        root = str(tmp_path / "sig_index")
        ckpt = str(tmp_path / "ckpt")
        ss.stream_signatures_to_index(
            ss.read_documents_stream(spark, sf_dir), root, ckpt
        )
        v1 = list_versions(root)
        ss.stream_signatures_to_index(
            ss.read_documents_stream(spark, sf_dir), root, ckpt
        )
        assert list_versions(root) == v1

    def test_merge_branch_updates_preexisting_index(
        self, spark, sf_dir, tmp_path
    ):
        """Seed the index with WRONG signatures for every doc, then
        drain — the MERGE branch must overwrite them all with the true
        values (exercises upsert, not just bootstrap)."""
        from pyspark.sql import functions as F

        from instacart_medallion_lakehouse_spark.operators import dedup
        from instacart_medallion_lakehouse_spark.streaming import (
            signatures as ss,
        )
        from instacart_medallion_lakehouse_spark.versioned import (
            read_versioned,
            write_versioned,
        )

        root = str(tmp_path / "sig_index")
        ckpt = str(tmp_path / "ckpt")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        bogus = dedup.minhash_signatures(
            dedup.shingle_table(docs, 3, "doc_id"), 16
        ).select(
            "doc_id", *[F.lit("zz").alias(f"sig_{i}") for i in range(16)]
        )
        write_versioned(bogus, root)
        ss.stream_signatures_to_index(
            ss.read_documents_stream(spark, sf_dir), root, ckpt
        )
        final = read_versioned(spark, root)
        assert final.filter(F.col("sig_0") == "zz").count() == 0


class TestStreamSignatureIndexInline:
    """The signature-index sink on inline documents, so it runs without
    the ``sf_dir`` testdata: one document of fewer than three tokens and one
    null ``text``, which get no signature row."""

    def _write_docs(self, tmp_path, texts):
        src = tmp_path / "src"
        src.mkdir()
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(len(texts)), pa.int64()),
                    "text": pa.array(texts, pa.string()),
                }
            ),
            src / "documents.parquet",
        )
        return str(src)

    def _sigs(self, df):
        return {
            r["doc_id"]: tuple(r[f"sig_{i}"] for i in range(16))
            for r in df.collect()
        }

    def test_index_matches_batch_builder_and_merge_overwrites(
        self, spark, tmp_path
    ):
        from instacart_medallion_lakehouse_spark.operators import dedup
        from instacart_medallion_lakehouse_spark.streaming import (
            signatures as ss,
        )
        from instacart_medallion_lakehouse_spark.versioned import (
            list_versions,
            read_versioned,
            write_versioned,
        )

        src = self._write_docs(
            tmp_path,
            [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy cat",
                "two tokens",
                None,
                "completely different words appear here",
            ],
        )
        docs = spark.read.parquet(f"{src}/documents.parquet")
        want = self._sigs(
            dedup.minhash_signatures(dedup.shingle_table(docs, 3, "doc_id"), 16)
        )
        assert set(want) == {0, 1, 4}

        root = str(tmp_path / "sig_index")
        ss.stream_signatures_to_index(
            ss.read_documents_stream(spark, src), root, str(tmp_path / "ckpt")
        )
        assert self._sigs(read_versioned(spark, root)) == want

        # a wrong index for the same doc ids: the drain takes the MERGE
        # branch and overwrites every signature
        seeded = str(tmp_path / "seeded_index")
        write_versioned(
            docs.filter(F.col("doc_id").isin(list(want))).select(
                "doc_id", *[F.lit("zz").alias(f"sig_{i}") for i in range(16)]
            ),
            seeded,
        )
        ss.stream_signatures_to_index(
            ss.read_documents_stream(spark, src), seeded, str(tmp_path / "ckpt2")
        )
        assert list_versions(seeded) == [1, 2]
        assert self._sigs(read_versioned(spark, seeded)) == want

    def test_batch_without_shingles_commits_nothing(self, spark, tmp_path):
        from instacart_medallion_lakehouse_spark.streaming import (
            signatures as ss,
        )
        from instacart_medallion_lakehouse_spark.versioned import (
            list_versions,
        )

        src = self._write_docs(tmp_path, ["two tokens", None, "one"])
        root = str(tmp_path / "sig_index")
        ss.stream_signatures_to_index(
            ss.read_documents_stream(spark, src), root, str(tmp_path / "ckpt")
        )
        assert list_versions(root) == []


class TestStreamToVersionedMultiBatch:
    def test_multi_batch_drain_accumulates_all_rows(self, spark, sf_dir, tmp_path):
        """Regression: each micro-batch used to commit a REPLACEMENT
        snapshot, so a multi-batch drain left 'latest' holding only the
        final batch. With maxFilesPerTrigger=1 over two source files the
        accumulated latest version must hold every input row."""
        from instacart_medallion_lakehouse_spark.streaming import events as se
        from instacart_medallion_lakehouse_spark.versioned import (
            list_versions,
            read_versioned,
        )

        src = str(tmp_path / "src")
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
            "n_nationkey", "n_name"
        )
        a = region.select(
            region["r_regionkey"].alias("k"), region["r_name"].alias("v")
        )
        b = nation.select(
            nation["n_nationkey"].alias("k"), nation["n_name"].alias("v")
        )
        a.coalesce(1).write.parquet(src)
        b.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(a.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        root = str(tmp_path / "tbl")
        se.stream_to_versioned(stream, root, checkpoint=str(tmp_path / "ck"))
        total = a.count() + b.count()
        assert read_versioned(spark, root).count() == total
        # at least two commits happened (one per micro-batch), and each
        # earlier version is a strict prefix of the accumulation
        versions = list_versions(root)
        assert len(versions) >= 2
        counts = [
            read_versioned(spark, root, version=v).count() for v in versions
        ]
        assert counts == sorted(counts)
        assert counts[-1] == total

    def test_empty_source_commits_nothing(self, spark, tmp_path):
        from pyspark.sql.types import LongType, StructField, StructType

        from instacart_medallion_lakehouse_spark.streaming import events as se
        from instacart_medallion_lakehouse_spark.versioned import list_versions

        src = str(tmp_path / "src")
        schema = StructType([StructField("k", LongType())])
        spark.createDataFrame([], schema).write.parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        root = str(tmp_path / "tbl")
        se.stream_to_versioned(stream, root, checkpoint=str(tmp_path / "ck"))
        assert list_versions(root) == []


class TestCdcStaleBatchGuard:
    def test_later_batch_with_older_change_does_not_regress(
        self, spark, tmp_path
    ):
        """A late-arriving file carrying an OLDER change for a key must
        not overwrite the newer stored row (last-writer-wins by
        order_col across batches, not just within one)."""
        from pyspark.sql import functions as F

        from instacart_medallion_lakehouse_spark.streaming import events as se
        from instacart_medallion_lakehouse_spark.versioned import read_versioned

        src = str(tmp_path / "src")
        fresh = spark.createDataFrame(
            [(7, 100, "new"), (8, 50, "n8")], ["user_id", "ts", "v"]
        )
        stale = spark.createDataFrame(
            [(7, 90, "old"), (9, 10, "n9")], ["user_id", "ts", "v"]
        )
        fresh.coalesce(1).write.parquet(src)
        stale.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(fresh.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        root = str(tmp_path / "tbl")
        se.stream_upsert_to_versioned(
            stream,
            root,
            key=["user_id"],
            order_col="ts",
            checkpoint=str(tmp_path / "ck"),
        )
        got = {
            r.user_id: (r.ts, r.v)
            for r in read_versioned(spark, root).collect()
        }
        # whichever file became batch 2, key 7 must end at ts=100
        assert got[7] == (100, "new")
        assert got[8] == (50, "n8")
        assert got[9] == (10, "n9")
