"""Structured Streaming over the events table.

The reference is batch-only (SURVEY.md §2.9 — zero readStream/watermark
anywhere), so this is the engine's streaming extension: the same logical
aggregations as the batch queries, expressed as streaming plans with
watermarks, so one codebase serves both execution modes — the Spark
"unified batch/streaming" design done properly.

Every streaming query here can be DRAINED TO A BATCH RESULT with
``Trigger.AvailableNow`` + a memory sink: the stream processes all
currently-available files in bounded micro-batches and terminates. That
makes the streaming path oracle-checkable — the driver compares the
drained result against the same DuckDB SQL as the batch twin
(queries.py windowed_events / sessionize).

Scale notes:
- watermarks bound state: the tumbling agg keeps only windows newer
  than (max event time - delay); sessions evict on gap timeout.
- ``F.session_window`` is the native stateful session operator —
  incremental merge, spillable state store, no full-partition windowing
  (the batch gaps-and-islands form shuffles and sorts each user's whole
  history instead; same answer, different cost model).
- file sources at scale: ``maxFilesPerTrigger`` bounds micro-batch
  size; availableNow respects it while still terminating.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import dround
from ..operators.aggs import avg_fixedpoint

_memory_sink_counter = itertools.count()


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, ts normalized to timestamp.

    File-stream sources need an explicit schema, and a wrong ``ts`` type
    silently corrupts every window. The schema is the batch reader's
    raw read of the same file (``io._read_events_raw``: footer probe,
    ``nanosAsLong`` switch, one schema-inference job), and ``ts`` goes
    through the batch reader's normalization, so batch and stream see
    the same timestamps.
    """
    from ..io import _normalize_events_ts, _read_events_raw

    schema = _read_events_raw(spark, f"{sf_dir}/events.parquet").schema
    # file stream sources require a DIRECTORY; point at the sf dir and
    # glob-filter to the events file
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return _normalize_events_ts(raw)


def tumbling_counts_stream(
    events: DataFrame, window: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming twin of queries.windowed_events: watermarked tumbling agg."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
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


def hopping_counts_stream(
    events: DataFrame,
    window: str = "2 hours",
    hop: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked HOPPING (sliding) window aggregation: windows of
    ``window`` length starting every ``hop``, so each event lands in
    window/hop overlapping windows (2 here). The streaming counterpart
    of a trailing-2h dashboard refreshed hourly.

    Scale shape: F.window with a slide duplicates each row into its
    window memberships BEFORE the shuffle — the state store holds one
    running aggregate per (window, event_type), never per event, and
    the watermark bounds how many window panes stay open. The batch
    twin (queries_ext.stream_hopping_events oracle) is the UNION ALL of
    the two hop-shifted tumbling bucketings.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, hop).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def windowed_user_cents_stream(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling aggregation at (window, user) grain in
    EXACT integer cents — the streaming half of the windowed-leaderboard
    pattern (stream_window_topk): the stream maintains one running
    aggregate per (window, user) in the state store; the per-window
    top-k rank runs BATCH-side on the drained result, because a global
    rank inside the stream would force complete-mode re-sorting of all
    open windows every micro-batch. Cents (floor(value*100 + 0.5) as
    LONG) make the downstream ordering engine-exact."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n_events",
            "cents",
        )
    )


def session_windows_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native stateful session windows (gap-merge) per user.

    Same islands as the batch gaps-and-islands sessionize (a session
    closes when no event arrives within ``gap``), producing
    (user_id, session_start, session_end, n_events, session_value).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            dround(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id", "session_start", "session_end", "n_events", "session_value"
        )
    )


def enriched_totals_stream(
    events: DataFrame, dim: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-STATIC broadcast join + aggregation: enrich the event
    stream with a dimension table, then roll up per (segment, type).

    The static side is planned once per micro-batch as an ordinary
    broadcast hash join — no state store involvement for the join
    itself (unlike stream-stream joins, which buffer both sides in
    state). This is the canonical shape for enriching a 100 TB/day
    event firehose with slowly-changing reference data: the dim
    broadcast is refreshed per batch, the stream never shuffles for
    the join, and only the downstream aggregate keeps state.
    """
    enriched = events.withWatermark("ts", watermark).join(
        F.broadcast(dim), events["user_id"] == dim["c_custkey"]
    )
    return enriched.groupBy(
        F.col("c_mktsegment").alias("segment"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dround(F.sum("value"), 2).alias("total_value"),
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup on event_id within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps state only for the watermark
    delay — the bounded-state streaming analog of the batch W1 dedup.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def running_user_totals_stream(
    events: DataFrame,
    watermark: str = "2 hours",
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``.

    Maintains per-user running state (event count, value sum, last seen)
    across micro-batches — the arbitrary-stateful-processing escape
    hatch for operators the built-in aggregations can't express
    (per-key models, custom eviction, cross-batch business logic).
    State is a tuple in the state store, updated from Arrow batches.

    ``idle_timeout_ms`` (production knob) evicts idle users via
    processing-time timeout. Leave it None for AvailableNow drains:
    pending processing-time timeouts keep the trigger scheduling
    micro-batches long after the input is exhausted (observed: 100+
    empty epochs until the drain's own timeout force-stopped it), so
    a bounded drain and timeout-eviction are mutually exclusive.

    Scale: state is partitioned by the grouping key across executors
    and checkpointed incrementally; the watermark bounds replay.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, n_events long, total_value double, last_ts timestamp"
    )
    state_schema = "n long, total double, last_ts timestamp"

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        n, total, last = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            mx = pdf["ts"].max()
            last = mx if last is None or mx > last else last
        state.update((n, total, last))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [total],
                "last_ts": [last],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if idle_timeout_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def running_user_totals_tws_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas`` —
    Spark 4's arbitrary-stateful API (StatefulProcessor + typed state
    variables over a state server), the successor to
    ``applyInPandasWithState``; this operator is the TWS twin of
    ``running_user_totals_stream`` and MUST produce the same final
    per-user rows (asserted in tests/test_streaming.py and by the
    ``stream_tws_totals`` registry entry's comparison drain).

    Environment notes (r11, VERDICT r10 #5): the TWS state-server
    protocol's python side imports ``google.protobuf``; this container
    has no protobuf wheel, so session.py puts the repo's vendored
    minimal runtime (vendor/google/protobuf/_shim.py — exactly the
    StateMessage.proto wire subset, loud on anything else) on
    PYTHONPATH when the real package is absent. TWS also requires a
    state-store provider with column families — run the query under
    ``spark.sql.streaming.stateStore.providerClass =
    ...RocksDBStateStoreProvider`` (the callers set/restore it around
    the drain).

    Scale: same as the applyInPandasWithState twin — state partitioned
    by user across executors, checkpointed incrementally (RocksDB
    changelog), watermark bounds replay.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = (
        "user_id long, n_events long, total_value double, last_ts timestamp"
    )

    class _Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n BIGINT, total DOUBLE, last_ts TIMESTAMP"
            )

        def handleInputRows(self, key, rows, timerValues):  # noqa: N802
            (user_id,) = key
            # ONE state-server round trip, not two: get() returns None
            # when the value state has never been set, so the
            # exists()-then-get() idiom doubles the per-key socket
            # round trips for nothing (guide §4 — the boundary cost is
            # per message, and this runs once per key per micro-batch)
            prev = self._state.get()
            n, total, last = prev if prev is not None else (0, 0.0, None)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                mx = pdf["ts"].max()
                last = mx if last is None or mx > last else last
            self._state.update((n, total, last))
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "total_value": [total],
                    "last_ts": [last],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            _Totals(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


def interval_join_clicks_views_stream(
    events: DataFrame, within: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval (range) join: every (click, view) pair of
    the same user with ``view.ts`` in [click.ts − within, click.ts].

    Both sides carry watermarks so the join state is bounded: a buffered
    view row can be evicted once the click-side watermark passes
    view.ts + within — Spark derives that from the time-range join
    condition (the canonical watermarked interval-join pattern).
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    return clicks.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr(f"INTERVAL {within}")),
    ).select("click_id", "view_id", "user_id", "click_ts", "view_ts")


def await_drain(query, timeout_sec: int, message: str) -> None:
    """Wait for a started availableNow ``query`` to finish, raising
    TimeoutError(``message``) when it does not within ``timeout_sec``;
    the query is stopped either way if it is still active."""
    try:
        if not query.awaitTermination(timeout_sec):
            raise TimeoutError(message)
    finally:
        if query.isActive:
            query.stop()


def stream_to_parquet(
    streaming_df: DataFrame,
    path: str,
    checkpoint: str,
    timeout_sec: int = 120,
) -> None:
    """Production sink shape: append to parquet with checkpointed,
    exactly-once progress. Re-running with the same checkpoint resumes
    from the recorded offsets — already-processed input produces no
    duplicate output (verified in tests/test_streaming.py).

    A drain that does not finish within ``timeout_sec`` raises
    TimeoutError — the output directory would otherwise hold a
    silently truncated prefix of the input while looking complete.
    """
    q = (
        streaming_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_drain(
        q,
        timeout_sec,
        f"parquet drain into {path} did not finish within "
        f"{timeout_sec}s; the written files are a prefix of the "
        "input — re-run with the same checkpoint to resume",
    )


def drain_to_batch(
    streaming_df: DataFrame,
    output_mode: str = "complete",
    timeout_sec: int = 120,
    shuffle_partitions: int | None = 8,
    no_data_batches: bool | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion and return its result.

    Trigger.AvailableNow processes everything currently in the source
    then stops; the memory sink holds the final result table. This is
    how the driver/oracle observes streaming output as a plain
    DataFrame. Memory sinks are test/dev only — production writes go to
    files/Kafka with checkpointing.

    ``shuffle_partitions`` is pinned at stream START and becomes the
    stateful-operator partition count for the query's LIFETIME (state
    store instances scale with it — per-micro-batch overhead, so the
    default is low for test-scale drains; size it to the cluster for
    production volumes). Restored to the session value afterwards.

    ``no_data_batches`` (r11, guide §1/§2 — measure, then remove work):
    after the data batches, Spark by default schedules one extra EMPTY
    micro-batch whose only job is advancing the watermark so stateful
    operators can evict/finalize. Measured per drain here: 1.7-6s of
    addBatch re-executing every stateful operator over zero rows. The
    OUTPUT of that batch is empty or a re-emission for the shapes this
    module drains in complete/update mode — complete-mode aggregations
    re-emit the identical table, update-mode TWS/applyInPandas totals
    emit only on data — so ``None`` resolves to SKIP for those modes.
    APPEND mode is where the batch can carry real output: a watermarked
    window aggregation (tumbling/hopping/session) or event-time timer
    EMITS its final windows on watermark advance, and skipping the
    no-data batch silently drops them from the sink — so ``None``
    resolves to KEEP under append (r12, ADVICE r11: the old
    skip-always default was a correctness footgun guarded only by a
    docstring). Immediate-emission append shapes (dropDuplicates,
    stream-stream inner join, stream-static join) opt out with an
    explicit ``False`` at the call site.
    """
    spark = streaming_df.sparkSession
    if no_data_batches is None:
        no_data_batches = output_mode == "append"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    nd_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_nd = spark.conf.get(nd_key, None)
    spark.conf.set(nd_key, "true" if no_data_batches else "false")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        name = f"_stream_drain_{next(_memory_sink_counter)}"
        q = (
            streaming_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        # drain_to_batch feeds oracle-checked queries: a silent partial
        # memory table surfaces as a baffling value mismatch — fail
        # loudly instead
        await_drain(
            q,
            timeout_sec,
            f"stream drain '{name}' did not finish within "
            f"{timeout_sec}s; memory table holds a partial result",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if prev_nd is None:
            spark.conf.unset(nd_key)
        else:
            spark.conf.set(nd_key, prev_nd)
    return spark.table(name)


def stream_to_versioned(
    streaming_df: DataFrame,
    root: str,
    checkpoint: str,
    timeout_sec: int = 120,
) -> None:
    """foreachBatch sink ACCUMULATING micro-batches into a versioned
    table (versioned.py manifest protocol): each batch commits a new
    snapshot = previous snapshot + the batch's rows, so the latest
    version always holds every row drained so far — a multi-batch
    drain (several source files, maxFilesPerTrigger) must not leave
    "latest" holding only the final batch.

    The checkpoint gives replay-once per micro-batch under normal
    operation; on crash-replay foreachBatch is at-least-once, and the
    failure mode here is the replayed batch's rows appearing TWICE in
    the newest snapshot (append semantics without a transactional
    dedup id — the same exposure as a plain Delta append), never a
    half-written or corrupted table — the manifest publish is atomic,
    and time travel still reaches every pre-replay version.
    Re-running a fully drained stream against the same checkpoint
    commits nothing (offsets already recorded), which is what makes a
    streaming pipeline + versioned gold layer safely re-runnable.

    Each batch commits via versioned.append_versioned — a manifest-level
    append that writes ONLY the batch's rows and references the prior
    version's data dirs, so a B-batch drain does O(total rows) I/O. The
    previous read-union-rewrite formulation rewrote the full accumulated
    snapshot every micro-batch (O(B²) write amplification — 1+2+...+B
    batch-sizes of parquet), which is a non-starter for a long-running
    stream; periodic versioned.compact_versioned folds the accumulated
    per-batch dirs back into right-sized files.
    """
    from ..versioned import append_versioned

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return  # an empty batch must not commit a junk version
        append_versioned(batch_df, root)

    q = (
        streaming_df.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    # a drain that did NOT reach end-of-input may already have committed
    # some micro-batches as snapshot versions. Surface it — a silent
    # partial table is worse than a loud one. The checkpoint makes a
    # retry resume where this one stopped.
    await_drain(
        q,
        timeout_sec,
        f"versioned drain into {root} did not finish within "
        f"{timeout_sec}s; committed snapshots are a prefix of the "
        "input — re-run with the same checkpoint to resume",
    )


def stream_upsert_to_versioned(
    streaming_df: DataFrame,
    root: str,
    key: list[str],
    order_col: str,
    checkpoint: str,
    timeout_sec: int = 120,
    tiebreak_col: str | None = None,
) -> None:
    """CDC-apply sink: MERGE each micro-batch into a versioned snapshot
    by key, last-writer-wins by ``order_col`` — WITHIN the batch and
    ACROSS batches.

    The streaming half of the change-data-capture story: upstream
    emits row-level changes; each micro-batch is first collapsed to
    one row per key (greatest ``order_col``), then guarded against the
    CURRENT table — an incoming row only applies if its order_col is
    >= the stored row's (a later batch can carry an EARLIER change,
    e.g. a late-arriving file; blindly merging it would regress the
    key to a stale value). Survivors apply with
    versioned.upsert_versioned — which enforces the Delta-MERGE
    contract that updates are key-unique. The first batch bootstraps
    the table. Crash-replay semantics match stream_to_versioned:
    at-least-once per micro-batch, and re-applying the same collapsed
    batch is IDEMPOTENT on row content (equal order_col lets the
    incoming row win, so the replay rewrites the same values — the
    cost is an extra snapshot version, never divergent data).

    Determinism: two change rows with equal (key, order_col) in one
    batch are ambiguous; pass ``tiebreak_col`` (a unique column such as
    an event id) to make the collapse — and therefore crash-replay —
    fully deterministic. Without it the winner among exact (key,
    order_col) ties is partition-order-dependent. Across batches an
    equal-order_col incoming row replaces the stored one (incoming
    wins — required for replay idempotence).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..versioned import (
        list_versions,
        read_versioned,
        upsert_versioned,
        write_versioned,
    )

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return  # empty batch: no bootstrap of an empty v1, no
            # pointless full-snapshot rewrite version
        order = [F.col(order_col).desc()]
        if tiebreak_col is not None:
            order.append(F.col(tiebreak_col).desc())
        w = Window.partitionBy(*key).orderBy(*order)
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        spark = latest.sparkSession
        if not list_versions(root):
            write_versioned(latest, root)
            return
        current = read_versioned(spark, root).select(
            *key, F.col(order_col).alias("_cur_ord")
        )
        # no broadcast hint: `current` (the full table) is the BIG side
        # and a left join can only broadcast its right side — leave the
        # physical choice to AQE, which picks broadcast when the table
        # is still small and shuffle join once it isn't
        guarded = (
            latest.join(current, on=key, how="left")
            .filter(
                F.col("_cur_ord").isNull()
                | (F.col(order_col) >= F.col("_cur_ord"))
            )
            .drop("_cur_ord")
        )
        if guarded.take(1):
            upsert_versioned(spark, root, guarded, key)

    q = (
        streaming_df.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    await_drain(
        q,
        timeout_sec,
        f"CDC upsert drain into {root} did not finish within "
        f"{timeout_sec}s; applied batches are a prefix of the "
        "input — re-run with the same checkpoint to resume",
    )
