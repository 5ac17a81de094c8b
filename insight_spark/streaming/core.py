"""Streaming K-ops (SURVEY.md §2.K) — Structured Streaming forms.

The reference's bus is Apache Pulsar (SURVEY.md §0.1); offline, the
stand-in source is the file stream source — same micro-batch semantics
(offset log + exactly-once file tracking in the checkpoint), different
connector.  On a cluster the only change is
``readStream.format("pulsar")`` and the service URL.

Stream-batch unification is the design rule: every streaming op here is
the *same DataFrame expression* as its batch twin in
``insight_spark.queries`` — the batch form is DuckDB-oracled, and
tests/test_streaming.py proves the streaming execution converges to the
batch result over the same rows (SURVEY.md §5.3.4).

Scale posture: all stateful ops carry a watermark (unbounded state is a
config error at 100 TB — SURVEY.md §4.3); state is keyed by
(user, window), bounded by watermark eviction; at real scale the state
store backend is RocksDB
(``spark.sql.streaming.stateStore.providerClass``).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from insight_spark.sources.sinks import _hadoop_fs, _rename

#: events schema *after* the ns-ts repair (streams carry proper timestamps).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def prepare_stream_input(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 4
) -> list[str]:
    """Split the events fixture into n ts-ordered parquet chunks.

    Stands in for a Pulsar topic's ordered arrival; chunk boundaries
    are event-time ordered so watermarks advance realistically.  Files
    are written one per chunk so tests can drip-feed them.
    """
    from insight_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    # single-partition window is fine here: test-prep only, small data
    chunks = ev.withColumn(
        "_chunk", F.ntile(n_chunks).over(Window.orderBy("ts", "event_id"))
    )
    return [
        write_single_parquet(
            chunks.filter(F.col("_chunk") == i).drop("_chunk"),
            os.path.join(out_dir, f"chunk_{i}.parquet"),
        )
        for i in range(1, n_chunks + 1)
    ]


def write_single_parquet(df: DataFrame, dest_file: str) -> str:
    """Materialize a DataFrame as ONE plain parquet file (stream-source
    arrival unit — the file source lists files, not directories).

    Every step runs on ``dest_file``'s own Hadoop FileSystem, so a
    ``file://`` destination lands where Spark writes it.  An existing
    ``dest_file`` is not replaced (the rename raises): a file source
    that already listed it would never read the new rows."""
    spark = df.sparkSession
    # staged beside the destination: the file stream source skips
    # ``_``-prefixed entries, and the final move is a same-filesystem
    # rename
    staging = os.path.join(
        os.path.dirname(dest_file), f"_single_pq_{uuid.uuid4().hex}"
    )
    fs, stage = _hadoop_fs(spark, staging)
    try:
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        _, parts = _hadoop_fs(spark, os.path.join(staging, "part-*.parquet"))
        _, dest = _hadoop_fs(spark, dest_file)
        _rename(fs, fs.globStatus(parts)[0].getPath(), dest)
    finally:
        fs.delete(stage, True)
    return dest_file


def read_events_stream(
    spark: SparkSession, in_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """A9: file-source stream of events (Pulsar stand-in).

    ``maxFilesPerTrigger=1`` (default) gives one micro-batch per
    arriving file, matching per-ingestion processing; consumers whose
    semantics are batch-slicing-invariant (order-preserving stateful
    ops over ts-ordered chunks) may raise it to amortize the fixed
    per-trigger scheduler cost.  ``None`` sets no cap (Spark's
    default): each trigger admits every file listed when it fires, so
    a backlog is one micro-batch.

    ``1`` stays the default because the registry drains audit what
    the slicing decides, and their oracles were pinned under it: a
    row is judged late against the previous batch's watermark, so
    ``stream_late_drop`` drops its re-delivered chunk only because
    the chunks before it ran in earlier batches and advanced the
    watermark; one uncapped batch over the whole directory would
    accept it.
    """
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(in_dir)


def hourly_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """K1 streaming: tumbling 1-hour counts with watermark.

    Identical expression to the batch ``events_hourly`` query; the
    watermark bounds window state and drops late rows (K4).  The
    watermark step and :func:`hourly_rollup` compose here; a consumer
    that repartitions its input composes them itself, since the
    watermark node does not pass its child's partitioning up.
    """
    return hourly_rollup(events.withWatermark("ts", watermark))


def hourly_rollup(events: DataFrame) -> DataFrame:
    """The rollup body of :func:`hourly_counts_stream`: hourly counts
    and DECIMAL value sums per (window, event_type) of ``events``,
    which carry their ``ts`` watermark already."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """K3 streaming: native session windows with watermark.

    ``session_window`` merges events within a 30-minute gap; state per open
    session, evicted once the watermark passes the session close.
    """
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup(events: DataFrame) -> DataFrame:
    """K5: drop duplicate event_ids within the 2-hour watermark horizon —
    bounded-state streaming twin of exact dedup (J5)."""
    return events.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def purchase_click_join_stream(events: DataFrame) -> DataFrame:
    """K7+: stream-stream interval join (purchases ⋈ preceding clicks).

    Both sides are watermarked; the join condition bounds event-time
    distance, so each side's buffered state is evicted once the other
    side's watermark passes the interval — bounded state, the canonical
    Structured Streaming stream-stream join shape.  Batch twin:
    ``range_join_clicks``-style interval self-join.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")
        ),
    ).select("p_user", "purchase_id", "click_id", "purchase_ts", "click_ts")


#: Output schema of the K6 stateful operator.
USER_TOTALS_SCHEMA = "user_id bigint, n_events bigint, sum_value double"
#: State carried per user across micro-batches.
_USER_STATE_SCHEMA = "n bigint, total double"


def user_totals_stateful(events: DataFrame) -> DataFrame:
    """K6: custom per-key stateful operator via ``applyInPandasWithState``.

    Maintains running (count, sum) per user across micro-batches — the
    arbitrary-state surface the built-in windowed aggs can't express
    (e.g. decaying counters, per-key ML state).  Each update emits the
    user's new running totals; the LAST emission per user equals the
    batch ``groupBy(user_id).agg(count, sum)`` (asserted in
    tests/test_streaming.py).

    Scale posture: state is one row of two numbers per user, partitioned
    by the group key across executors; timeouts would evict idle keys
    (not needed for the bounded fixture key space).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=USER_TOTALS_SCHEMA,
        stateStructType=_USER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tws_runtime_available() -> bool:
    """True iff the ``transformWithStateInPandas`` runtime can start
    (its Python state-server protocol needs ``google.protobuf`` — in
    this offline container that is satisfied by the cloud-sdk vendored
    copy wired up by :mod:`insight_spark.streaming.proto_shim`; the
    shim must be active BEFORE the SparkSession's JVM launches so
    worker subprocesses inherit PYTHONPATH)."""
    from insight_spark.streaming.proto_shim import activate

    if not activate():
        return False
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def run_to_completion(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """Start a configured stream writer on ``checkpoint_dir`` and drain
    every pending input (``processAllAvailable``, test-harness use).

    The one place the engine drives a stream: the query is stopped in a
    ``finally``, so a stream that throws re-raises its error without
    staying in ``spark.streams.active`` holding its name and checkpoint.
    """
    q = writer.option("checkpointLocation", checkpoint_dir).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_stream_to_memory(
    spark: SparkSession,
    stream_df: DataFrame,
    name: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> DataFrame:
    """K8/A10: drive a stream to completion into an in-memory sink
    (:func:`run_to_completion`) and return the sink's table.

    Production sinks go through ``foreachBatch`` upserts instead (see
    sinks.foreach_batch_upsert).  The memory sink's rows live on the
    driver, so the caller may remove ``checkpoint_dir`` once this
    returns.
    """
    run_to_completion(
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode),
        checkpoint_dir,
    )
    return spark.table(name)


def user_type_counts_tws(events: DataFrame) -> DataFrame:
    """K6/M12 depth: per-(user, event_type) running counts held in a
    TWS **MapState** handle — the keyed-dictionary state a per-key
    model registry or feature store uses (vs the single-struct
    ValueState that :func:`recent_events_tws` and
    :func:`inactivity_sessions_tws` hold).

    Emits each key's full map every batch in update mode; the LAST
    emission per user must equal the batch groupBy — order-insensitive
    within the map, so deterministic under any micro-batch chunking.
    Runtime requirements: :func:`tws_runtime_available` (the TWS
    Python runner's state-server protocol needs ``google.protobuf``;
    building the plan does not) and the RocksDB state store.
    """
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class _TypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState(
                "type_counts", "event_type string", "n bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            for pdf in rows:
                for et, n in pdf["event_type"].value_counts().items():
                    prev = (
                        int(self._counts.getValue((et,))[0])
                        if self._counts.containsKey((et,))
                        else 0
                    )
                    self._counts.updateValue((et,), (prev + int(n),))
            items = [
                (k[0], int(v[0])) for k, v in self._counts.iterator()
            ]
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(items),
                    "event_type": [t for t, _ in items],
                    "n_events": [n for _, n in items],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_TypeCounts(),
        outputStructType="user_id bigint, event_type string, n_events bigint",
        outputMode="Update",
        timeMode="None",
    )


def recent_events_tws(events: DataFrame, n_keep: int = 5) -> DataFrame:
    """K6 depth — **ListState**: a bounded per-user recent-events
    buffer (last ``n_keep`` by event time), the rolling-context window
    a feature store or an online-inference cache keeps per key.
    Completes the TWS state-handle family: MapState
    (:func:`user_type_counts_tws`), event-time timers
    (:func:`inactivity_sessions_tws`), the ordered-collection handle,
    and a ValueState (the ``seen`` counter) beside it.

    Each batch merges arrivals into the buffer, trims to ``n_keep`` by
    (ts, event_id) descending, and ``put``-overwrites the list state —
    state per key is a FIXED n_keep-row bound regardless of history,
    the property that keeps 100 TB of events from accumulating in the
    store.  Emits the buffer summary per touched key in update mode;
    the LAST emission per user must equal the batch top-``n_keep``
    (`test_tws_liststate_buffer_converges_to_batch`).
    """
    from pyspark.sql.streaming import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RecentEvents(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._buf = handle.getListState(
                "recent", "ts_ms bigint, event_id bigint"
            )
            # lifetime counter beside the buffer: two handles compose
            # per key, and the monotone count orders update-mode
            # emissions (the buffer columns alone are not monotone)
            self._seen = handle.getValueState("seen", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            cur = [(int(t), int(e)) for t, e in self._buf.get()]
            seen = int(self._seen.get()[0]) if self._seen.exists() else 0
            for pdf in rows:
                ms = pdf["ts"].astype("int64") // 1_000_000
                cur.extend(zip(ms.tolist(), pdf["event_id"].tolist()))
                seen += len(pdf)
            cur.sort(reverse=True)
            cur = cur[:n_keep]
            self._buf.put(cur)
            self._seen.update((seen,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_seen": [seen],
                    "n_buffered": [len(cur)],
                    "latest_event_id": [cur[0][1]],
                    "oldest_ts_ms": [cur[-1][0]],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RecentEvents(),
        outputStructType="user_id bigint, n_seen bigint, n_buffered int, "
        "latest_event_id bigint, oldest_ts_ms bigint",
        outputMode="Update",
        timeMode="None",
    )


def inactivity_sessions_tws(
    events: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """K6 depth — event-time TIMERS: per-user inactivity sessionization
    via ``transformWithStateInPandas`` with ``timeMode="EventTime"``,
    the one TWS capability (register/expire callbacks) that neither
    ValueState nor MapState alone exercises, and that the built-in
    ``session_window`` cannot generalize (a timer processor can attach
    arbitrary close-of-session logic: flush a per-key model, emit a
    summary record, write a tombstone).

    Semantics match the native ``session_window``: a session is a
    maximal run of a user's events with inter-event gaps <= gap;
    emitted ``session_end`` is last event + gap (the session_window
    convention), so the convergence test compares tuples directly.
    A session closes either when a later event opens the next one
    (emit immediately, delete the stale timer) or when the event-time
    watermark passes last+gap (the registered timer fires in a no-data
    batch and ``handleExpiredTimer`` emits).

    Scale: state is ONE fixed-width struct per open session per user
    (plus one pending timer), partitioned by key across executors and
    evicted on expiry — bounded by concurrently-active users, not
    history.  Append output mode: every emitted row is final.
    """
    from pyspark.sql.streaming import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_ms = gap_minutes * 60_000

    class _Sessions(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            # (start_ms, last_ms, n_events, timer_ms)
            self._sess = handle.getValueState(
                "sess",
                "start_ms bigint, last_ms bigint, n bigint, timer_ms bigint",
            )

        def _emit(self, key, start_ms: int, last_ms: int, n: int):
            import pandas as pd

            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start_ms": [start_ms],
                    "session_end_ms": [last_ms + gap_ms],
                    "n_events": [n],
                }
            )

        def handleInputRows(self, key, rows, timerValues):
            out = []
            if self._sess.exists():
                start, last, n, timer = self._sess.get()
            else:
                start = last = timer = -1
                n = 0
            for pdf in rows:
                ms = (
                    (pdf["ts"].astype("int64") // 1_000_000)
                    .sort_values()
                    .tolist()
                )
                for t in ms:
                    if start < 0:
                        start, last, n = t, t, 1
                    elif t - last <= gap_ms:
                        last, n = max(last, t), n + 1
                    else:
                        out.append(self._emit(key, start, last, n))
                        start, last, n = t, t, 1
            if start >= 0:
                if timer >= 0 and timer != last + gap_ms:
                    self._handle.deleteTimer(timer)
                if timer != last + gap_ms:
                    self._handle.registerTimer(last + gap_ms)
                self._sess.update((start, last, n, last + gap_ms))
            yield from out

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if self._sess.exists():
                start, last, n, timer = self._sess.get()
                # guard a stale timer racing a session the input path
                # already rolled over (its new timer is still pending)
                if expiredTimerInfo.getExpiryTimeInMs() == timer:
                    self._sess.clear()
                    yield self._emit(key, start, last, n)

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", "1 second")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_Sessions(),
            outputStructType="user_id bigint, session_start_ms bigint, "
            "session_end_ms bigint, n_events bigint",
            outputMode="Append",
            timeMode="EventTime",
        )
    )


FUNNEL_SCHEMA = "user_id bigint, funnel_stage int"
_FUNNEL_STATE_SCHEMA = "stage int, t_ns bigint"


def funnel_stage_stateful(events: DataFrame) -> DataFrame:
    """K6 sequential-pattern state machine: per-user ordered funnel
    (view → click strictly after → purchase strictly after) advanced
    incrementally across micro-batches — the streaming twin of the
    batch ``funnel_conversion_steps`` chained-min plan.

    State is (stage, transition-ts) — two numbers per user.  Events
    are applied in (ts, event_id) order: within a batch by an explicit
    sort, across batches by the topic's event-time-ordered arrival
    (prepare_stream_input chunks are ts-ordered, the contract a
    partitioned log gives per key).  Processing in global ts order
    makes the sequential machine equivalent to the batch chained
    MIN-aggregates: the first qualifying event seen IS the minimum.
    Stage is monotone per key, so the LAST emission per user is the
    final stage.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        existed = state.exists
        stage, t_ns = state.get if existed else (0, 0)
        prev_stage = stage
        if stage < 3:
            # Concatenate ALL Arrow chunks before sorting: one key's
            # batch spans multiple record batches once it exceeds
            # arrow.maxRecordsPerBatch rows, and the monotone machine
            # needs global (ts, event_id) order — sorting chunks
            # independently would replay events out of order across
            # chunk boundaries.
            pdfs = list(pdfs)
            pdf = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
            if len(pdf):
                # np.lexsort over bare arrays, not pdf.sort_values: this
                # body runs once per (user, micro-batch) on a handful of
                # rows, so pandas' per-call overhead dominates the whole
                # stateful exchange (measured ~10% drain win at sf0.1).
                ts_ns = pdf["ts"].to_numpy("datetime64[ns]").astype("int64")
                order = np.lexsort((pdf["event_id"].to_numpy(), ts_ns))
                ts_ns = ts_ns[order]
                et = pdf["event_type"].to_numpy()[order]
                # Vectorized in-batch replay: under sorted order the
                # per-event sequential machine equals at most 3 chained
                # first-match-after-t_ns searches (ties at ts == t_ns
                # excluded by the strict >, same as the event loop).
                for want in ("view", "click", "purchase")[stage:]:
                    mask = (
                        (et == want) & (ts_ns > t_ns) if stage else (et == want)
                    )
                    hit = np.flatnonzero(mask)
                    if hit.size == 0:
                        break
                    stage, t_ns = stage + 1, int(ts_ns[hit[0]])
        if not existed or stage != prev_stage:
            state.update((stage, t_ns))
            # Emit only on first sight or transition: stage is monotone,
            # so the reader's per-user MAX over update-mode emissions is
            # unchanged, and steady-state batches move ~transitions
            # rows instead of one row per active user per batch.
            yield pd.DataFrame({"user_id": [key[0]], "funnel_stage": [stage]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=FUNNEL_SCHEMA,
        stateStructType=_FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
