"""Stream-batch equivalence harness (SURVEY.md §5.3.4).

Each K-op runs twice over the same events: once as a plain batch
DataFrame, once micro-batched through the file stream source (one file
per trigger).  Final states must be equal — the core stream-batch
unification guarantee.  Late-data: replaying with a file delayed past
the watermark must drop its rows (K4).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import pytest

from pyspark.sql import functions as F

from insight_spark.sources import load_table
from insight_spark.streaming import (
    hourly_counts_stream,
    prepare_stream_input,
    read_events_stream,
    run_stream_to_memory,
    sessionize_stream,
    stream_dedup,
)
from insight_spark.streaming.core import run_to_completion, write_single_parquet
from tests.conftest import SF_DIR, drain_kn_stream
from tests.oracle_harness import canonical_rows


@pytest.fixture(scope="module")
def stream_env(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    in_dir = os.path.join(str(base), "input")
    prepare_stream_input(spark, SF_DIR, in_dir, n_chunks=4)
    return {"in_dir": in_dir, "base": str(base)}


def _canon(df):
    return canonical_rows(df.columns, [tuple(r) for r in df.collect()])


def test_hourly_counts_stream_matches_batch(spark, stream_env):
    stream = read_events_stream(spark, stream_env["in_dir"])
    result = run_stream_to_memory(
        spark,
        hourly_counts_stream(stream),
        "hourly_stream",
        os.path.join(stream_env["base"], "ckpt_hourly"),
        output_mode="append",
    )
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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
    # append mode emits only watermark-closed windows; every emitted
    # window must match its batch twin exactly
    emitted = _canon(result)
    batch_canon = set(_canon(batch))
    assert len(emitted) > 0, "stream emitted nothing"
    for row in emitted:
        assert row in batch_canon, f"stream row not in batch result: {row}"


def test_session_window_stream_matches_batch(spark, stream_env):
    stream = read_events_stream(spark, stream_env["in_dir"])
    result = run_stream_to_memory(
        spark,
        sessionize_stream(stream),
        "session_stream",
        os.path.join(stream_env["base"], "ckpt_session"),
        output_mode="append",
    )
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
    emitted = _canon(result)
    batch_canon = set(_canon(batch))
    assert len(emitted) > 0
    for row in emitted:
        assert row in batch_canon, f"stream session not in batch result: {row}"


def test_stream_dedup_matches_batch(spark, tmp_path):
    """K5: every event duplicated in-stream (within the watermark
    horizon, the Pulsar-redelivery case) → output equals the batch
    distinct set, no duplicates.

    Re-deliveries that arrive *after* the watermark passed their event
    time are late-dropped rather than dup-dropped — either way they add
    nothing, which is the semantic contract.
    """
    ev = load_table(spark, SF_DIR, "events")
    dup_dir = str(tmp_path / "dup_input")
    # each file carries its chunk twice (immediate redelivery), and the
    # whole file is re-delivered right after (cross-batch redelivery)
    bounds = [("2024-01-01", "2024-01-08"), ("2024-01-08", "2024-02-01")]
    for i, (lo, hi) in enumerate(bounds):
        chunk = ev.filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp"))
        )
        doubled = chunk.union(chunk)
        write_single_parquet(doubled, os.path.join(dup_dir, f"{i}_a.parquet"))
        write_single_parquet(doubled, os.path.join(dup_dir, f"{i}_b.parquet"))

    stream = read_events_stream(spark, dup_dir)
    result = run_stream_to_memory(
        spark,
        stream_dedup(stream),
        "dedup_stream",
        str(tmp_path / "ckpt_dedup"),
        output_mode="append",
    )
    n_unique_batch = ev.count()
    got = result.count()
    assert result.select("event_id").distinct().count() == got, "dups leaked"
    assert got == n_unique_batch, f"expected {n_unique_batch} unique, got {got}"


def test_run_stream_to_memory_stops_a_stream_that_throws(spark, tmp_path):
    """A drain whose stream fails re-raises the failure and leaves no
    query holding its name in spark.streams.active: a memory sink whose
    rows throw, and a foreachBatch writer whose batch function throws."""

    @F.udf("long")
    def poison(x):
        if x == 3:
            raise ValueError("poison row")
        return x

    def poison_batch(batch_df, batch_id):
        raise ValueError("poison batch")

    src = str(tmp_path / "src")
    spark.range(5).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    name = "mem_throwing_drain"
    with pytest.raises(Exception, match="poison row"):
        run_stream_to_memory(
            spark,
            stream.select(poison("id").alias("id")),
            name,
            str(tmp_path / "ckpt"),
        )
    assert name not in {q.name for q in spark.streams.active}

    with pytest.raises(Exception, match="poison batch"):
        run_to_completion(
            stream.writeStream.foreachBatch(poison_batch),
            str(tmp_path / "ckpt_fb"),
        )
    assert not spark.streams.active


@pytest.mark.parametrize(
    "name",
    [
        "stream_hourly_counts",  # complete-mode memory sink
        "stream_session_append",  # append-mode memory sink
        "stream_upsert_user_latest",  # foreachBatch sink
        "stream_state_metadata_audit",  # reads its checkpoint after the drain
    ],
)
def test_drain_removes_its_checkpoint(spark, tmp_path, name):
    """A streaming registry query leaves no checkpoint dir behind, and
    neither does the shared drain helper after a drain that throws."""
    import glob

    from insight_spark.queries import all_queries
    from insight_spark.queries.streaming_rt import _RT_BASE, _drain

    def ckpts() -> set[str]:
        return set(glob.glob(os.path.join(_RT_BASE, "ckpt_*")))

    before = ckpts()
    assert all_queries()[name](spark, SF_DIR).count() > 0
    assert ckpts() == before

    @F.udf("long")
    def poison(x):
        if x == 3:
            raise ValueError("poison row")
        return x

    src = str(tmp_path / "src")
    spark.range(5).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    with pytest.raises(Exception, match="poison row"):
        _drain(spark, stream.groupBy(poison("id")).count(), "mem_poison_drain")
    assert ckpts() == before


def test_warm_chunk_dir_runs_no_spark_job(spark):
    """Once its chunks exist, the stream input cache answers from a
    file stat: a warm call runs no Spark job."""
    from insight_spark.queries.streaming_rt import _chunk_dir

    cold = _chunk_dir(spark, SF_DIR)
    sc = spark.sparkContext
    group = "warm_chunk_dir"
    sc.setJobGroup(group, group)
    try:
        assert _chunk_dir(spark, SF_DIR) == cold
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_only_the_stream_core_drives_streams():
    """Every stream in the engine is drained by streaming/core.py's
    run_to_completion, which stops the query on failure; a second
    hand-written start/processAllAvailable/stop would not."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "insight_spark"
    callers = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if ".processAllAvailable()" in p.read_text()
    )
    assert callers == ["streaming/core.py"]


def test_late_data_dropped(spark, tmp_path):
    """K4: a file arriving with event-times far behind the advanced
    watermark must not change closed windows."""
    ev = load_table(spark, SF_DIR, "events")
    on_time = ev.filter(F.col("ts") >= F.lit("2024-01-03").cast("timestamp"))
    late = ev.filter(F.col("ts") < F.lit("2024-01-03").cast("timestamp"))

    in_dir = str(tmp_path / "late_input")
    write_single_parquet(on_time, os.path.join(in_dir, "f1.parquet"))

    stream = read_events_stream(spark, in_dir)
    agg = hourly_counts_stream(stream, watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .start()
    )
    q.processAllAvailable()
    n_before = spark.table("late_stream").count()

    # now the late file arrives: all its events are days behind the
    # watermark (max on-time ts - 1h), so no new windows may appear
    write_single_parquet(late, os.path.join(in_dir, "f2.parquet"))
    q.processAllAvailable()
    n_after = spark.table("late_stream").count()
    q.stop()

    assert n_before > 0
    assert n_after == n_before, "late rows leaked past the watermark"


def test_stateful_user_totals_converges_to_batch(spark, stream_env):
    """K6: applyInPandasWithState running per-user totals — the last
    update emitted per user must equal the batch groupBy aggregate."""
    from insight_spark.streaming.core import user_totals_stateful

    stream = read_events_stream(spark, stream_env["in_dir"])
    result = run_stream_to_memory(
        spark,
        user_totals_stateful(stream),
        "user_totals_stream",
        os.path.join(stream_env["base"], "ckpt_stateful"),
        output_mode="update",
    )
    # memory sink in update mode appends every emission; keep the last
    # per user (max n_events — totals are monotone)
    import pyspark.sql.window as W

    w = W.Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        result.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    )
    got = {
        r["user_id"]: (r["n_events"], round(r["sum_value"], 6))
        for r in final.collect()
    }
    want = {
        r["user_id"]: (r["n_events"], round(r["sum_value"], 6))
        for r in batch.collect()
    }
    assert set(got) == set(want)
    for uid in want:
        assert got[uid][0] == want[uid][0], f"count mismatch user {uid}"
        assert abs(got[uid][1] - want[uid][1]) < 1e-4, f"sum mismatch user {uid}"


def test_stream_stream_join_matches_batch(spark, stream_env):
    """K7+: watermarked stream-stream interval join == batch interval
    join over the same rows."""
    from insight_spark.streaming.core import purchase_click_join_stream

    stream = read_events_stream(spark, stream_env["in_dir"])
    result = run_stream_to_memory(
        spark,
        purchase_click_join_stream(stream),
        "ss_join_stream",
        os.path.join(stream_env["base"], "ckpt_ssjoin"),
        output_mode="append",
    )
    ev = load_table(spark, SF_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    batch = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")),
    ).select("p_user", "purchase_id", "click_id", "purchase_ts", "click_ts")
    got = _canon(result)
    want = _canon(batch)
    assert got == want, f"stream {len(got)} rows vs batch {len(want)}"

@contextmanager
def rocksdb_state_store(spark):
    """TWS state lives in named column families — the HDFS-backed store
    can't host them; RocksDB (bundled with Spark 4) is the production
    provider for this operator anyway.  Sets the provider for the
    block and guarantees the shared session's conf is restored."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_tws_mapstate_type_counts_converges_to_batch(spark, stream_env):
    """K6/M12 depth: MapState-backed per-(user, type) running counts —
    the keyed-dictionary state handle — must converge to the batch
    groupBy after all micro-batches drain."""
    from insight_spark.streaming.core import (
        tws_runtime_available,
        user_type_counts_tws,
    )

    if not tws_runtime_available():
        pytest.skip("google.protobuf absent: TWS runtime cannot start")

    with rocksdb_state_store(spark):
        stream = read_events_stream(spark, stream_env["in_dir"])
        result = run_stream_to_memory(
            spark,
            user_type_counts_tws(stream),
            "user_type_counts_tws_stream",
            os.path.join(stream_env["base"], "ckpt_tws_map"),
            output_mode="update",
        )
        import pyspark.sql.window as W

        w = W.Window.partitionBy("user_id", "event_type").orderBy(
            F.desc("n_events")
        )
        final = (
            result.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        batch = (
            load_table(spark, SF_DIR, "events")
            .groupBy("user_id", "event_type")
            .agg(F.count("*").alias("n_events"))
        )
        got = {
            (r["user_id"], r["event_type"]): r["n_events"]
            for r in final.collect()
        }
        want = {
            (r["user_id"], r["event_type"]): r["n_events"]
            for r in batch.collect()
        }
        assert got == want


def test_stream_checkpoint_restart_exactly_once(spark, tmp_path):
    """Operational recovery contract: a NEW query started on the SAME
    checkpoint must resume from the committed offsets — files already
    processed before the stop are not reprocessed, files arriving
    while the query was down are picked up exactly once."""
    ev = load_table(spark, SF_DIR, "events")
    in_dir = str(tmp_path / "restart_input")
    ckpt = str(tmp_path / "ckpt_restart")
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)
    write_single_parquet(half1, os.path.join(in_dir, "f1.parquet"))

    def start(name):
        stream = read_events_stream(spark, in_dir)
        counts = stream.groupBy("event_type").count()
        return (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start("restart_run1")
    q1.processAllAvailable()
    n1 = {r["event_type"]: r["count"] for r in spark.table("restart_run1").collect()}
    q1.stop()
    assert sum(n1.values()) == half1.count()

    # downtime arrival, then a brand-new query on the same checkpoint
    write_single_parquet(half2, os.path.join(in_dir, "f2.parquet"))
    q2 = start("restart_run2")
    q2.processAllAvailable()
    n2 = {r["event_type"]: r["count"] for r in spark.table("restart_run2").collect()}
    q2.stop()

    want = {
        r["event_type"]: r["count"]
        for r in ev.groupBy("event_type").count().collect()
    }
    assert n2 == want, "restart must resume exactly-once (no loss, no dup)"


def test_socket_stream_source_network_ingest(spark):
    """A9 evidence upgrade: a REAL network-transport stream source —
    Spark's built-in TCP socket source fed by an in-process server —
    parsed from JSON lines and aggregated; the result must equal the
    batch aggregate over the same rows.  This is the Pulsar-shaped
    ingest path (network endpoint → schema-on-read → windowless
    running agg) with only the connector differing."""
    import json
    import socket
    import socketserver
    import threading

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    payload = [
        json.dumps(
            {
                "event_id": r["event_id"],
                "user_id": r["user_id"],
                "event_type": r["event_type"],
                "value": r["value"],
            }
        )
        for r in ev.collect()
    ]

    class Handler(socketserver.BaseRequestHandler):
        def handle(self):
            data = ("\n".join(payload) + "\n").encode()
            self.request.sendall(data)
            # keep the connection open until Spark disconnects
            try:
                self.request.settimeout(30)
                while self.request.recv(4096):
                    pass
            except Exception:
                pass

    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), Handler)
    srv.daemon_threads = True
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        )
        lines = (
            spark.readStream.format("socket")
            .option("host", "127.0.0.1")
            .option("port", port)
            .load()
        )
        parsed = lines.select(
            F.from_json("value", schema).alias("e")
        ).select("e.*")
        agg = parsed.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 1000000).cast("long")).alias(
                "sum_micro"
            ),
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("socket_stream")
            .outputMode("complete")
            .trigger(processingTime="1 second")
            .start()
        )
        import time

        want = {
            r["event_type"]: (r["n"], r["sum_micro"])
            for r in ev.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.round(F.col("value") * 1000000).cast("long")
                ).alias("sum_micro"),
            )
            .collect()
        }
        deadline = time.time() + 60
        got = {}
        while time.time() < deadline:
            q.processAllAvailable()
            got = {
                r["event_type"]: (r["n"], r["sum_micro"])
                for r in spark.table("socket_stream").collect()
            }
            if got == want:
                break
            time.sleep(0.5)
        q.stop()
        assert got == want, f"socket ingest diverged: {got} vs {want}"
    finally:
        srv.shutdown()
        srv.server_close()


def test_tws_timer_sessions_converge_to_batch(spark, stream_env):
    """K6 timers: inactivity sessionization via event-time timers must
    reproduce the native session_window sessions exactly.  Every
    emitted session equals a batch session (tuple-for-tuple); every
    batch session that provably closed before the final watermark
    (a successor session exists, or end < max_ts - watermark) must
    have been emitted (by roll-over or by the fired timer)."""
    from insight_spark.streaming.core import (
        inactivity_sessions_tws,
        tws_runtime_available,
    )

    if not tws_runtime_available():
        pytest.skip("google.protobuf absent: TWS runtime cannot start")

    with rocksdb_state_store(spark):
        stream = read_events_stream(spark, stream_env["in_dir"])
        result = run_stream_to_memory(
            spark,
            inactivity_sessions_tws(stream, gap_minutes=30),
            "tws_timer_sessions",
            os.path.join(stream_env["base"], "ckpt_tws_timers"),
            output_mode="append",
        )
    got = {
        (r["user_id"], r["session_start_ms"], r["session_end_ms"], r["n_events"])
        for r in result.collect()
    }
    assert len(got) == len(result.collect()), "duplicate session emissions"

    ev = load_table(spark, SF_DIR, "events")
    ms = lambda c: (F.col(c).cast("double") * 1000).cast("long")  # noqa: E731
    batch = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            ms("w.start").alias("s"),
            ms("w.end").alias("e"),
            "n",
        )
    )
    brows = [(r["user_id"], r["s"], r["e"], r["n"]) for r in batch.collect()]
    bset = set(brows)
    assert got <= bset, f"spurious sessions: {sorted(got - bset)[:5]}"

    max_ts_ms = ev.agg(F.max(ms("ts")).alias("m")).collect()[0]["m"]
    last_per_user = {}
    for u, s, e, n in brows:
        last_per_user[u] = max(last_per_user.get(u, 0), e)
    must = {
        (u, s, e, n)
        for (u, s, e, n) in bset
        if e < last_per_user[u] or e < max_ts_ms - 1_000
    }
    missing = must - got
    assert not missing, f"{len(missing)} closed sessions never emitted: {sorted(missing)[:5]}"


def test_tws_liststate_buffer_converges_to_batch(spark, stream_env):
    """K6 ListState: the per-user bounded recent-events buffer's LAST
    emission must equal the batch top-5 by (ts desc, event_id desc)."""
    from pyspark.sql.window import Window

    from insight_spark.streaming.core import (
        recent_events_tws,
        tws_runtime_available,
    )

    if not tws_runtime_available():
        pytest.skip("google.protobuf absent: TWS runtime cannot start")

    with rocksdb_state_store(spark):
        stream = read_events_stream(spark, stream_env["in_dir"])
        result = run_stream_to_memory(
            spark,
            recent_events_tws(stream, n_keep=5),
            "tws_recent_events",
            os.path.join(stream_env["base"], "ckpt_tws_list"),
            output_mode="update",
        )
    # update-mode memory sink appends every emission; the last per user
    # is the one with the max monotone lifetime counter
    wlast = Window.partitionBy("user_id").orderBy(F.desc("n_seen"))
    final = (
        result.withColumn("_rn", F.row_number().over(wlast))
        .filter(F.col("_rn") == 1)
    )
    got = {
        r["user_id"]: (
            r["n_seen"],
            r["n_buffered"],
            r["latest_event_id"],
            r["oldest_ts_ms"],
        )
        for r in final.collect()
    }

    ev = load_table(spark, SF_DIR, "events")
    ms = (F.col("ts").cast("double") * 1000).cast("long")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts_ms"), F.desc("event_id")
    )
    kept = (
        ev.select("user_id", "event_id", ms.alias("ts_ms"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )
    totals = ev.groupBy("user_id").agg(F.count("*").alias("n_seen"))
    batch = kept.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.max_by("event_id", F.struct("ts_ms", "event_id")).alias("latest"),
        F.min("ts_ms").alias("oldest"),
    ).join(totals, "user_id")
    want = {
        r["user_id"]: (r["n_seen"], r["n"], r["latest"], r["oldest"])
        for r in batch.collect()
    }
    assert got == want


def test_statestore_reader_complements_emitted(spark, stream_env, tmp_path):
    """State-store READER (ops surface): `spark.read.format("statestore")`
    over a checkpoint exposes the open per-window aggregation state.
    Invariant: append-mode emissions (watermark-closed windows) plus
    the in-flight state rows must reconstruct the batch aggregate
    EXACTLY, with no overlap — emitted + pending == truth."""
    ck = str(tmp_path / "ck_ss")
    stream = read_events_stream(spark, stream_env["in_dir"])
    result = run_stream_to_memory(
        spark,
        hourly_counts_stream(stream),
        "ss_hourly_stream",
        ck,
        output_mode="append",
    )
    emitted = {
        (r["window_start"], r["event_type"], r["n_events"], r["sum_value"])
        for r in result.collect()
    }
    pending = {
        (r["window_start"], r["event_type"], r["n_events"], r["sum_value"])
        for r in spark.read.format("statestore")
        .load(ck)
        .select(
            F.col("key.window.start").alias("window_start"),
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n_events"),
            F.col("value.sum").alias("sum_value"),
        )
        .collect()
    }
    batch = {
        (r["window_start"], r["event_type"], r["n_events"], r["sum_value"])
        for r in (
            load_table(spark, SF_DIR, "events")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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
            .collect()
        )
    }
    assert emitted and pending, (len(emitted), len(pending))
    assert not emitted & pending, "a window is both emitted and in-flight"
    assert emitted | pending == batch, "emitted + state != batch truth"


def test_funnel_stateful_multichunk_key_ordering(spark, tmp_path):
    """K6 funnel: one key's micro-batch must replay in GLOBAL
    (ts, event_id) order even when its rows span multiple Arrow record
    batches (> arrow.maxRecordsPerBatch rows — the 100 TB shape).
    Chunk-local sorting would process [click@t2, purchase@t5] before
    [view@t1, click@t3] and stop at stage 2; the correct machine
    reaches stage 3 (r6 advice finding)."""
    import datetime as dt

    from insight_spark.streaming.core import (
        EVENTS_SCHEMA,
        funnel_stage_stateful,
        read_events_stream,
        run_stream_to_memory,
    )

    def t(s):
        return dt.datetime(2024, 1, 1, 0, 0, s)

    # physical row order chosen so a 2-row Arrow chunking splits the
    # view away from the earlier-ts click/purchase rows
    rows = [
        (2, t(2), 1, "click", 1.0, "{}"),
        (5, t(5), 1, "purchase", 1.0, "{}"),
        (1, t(1), 1, "view", 1.0, "{}"),
        (3, t(3), 1, "click", 1.0, "{}"),
    ]
    in_dir = os.path.join(str(tmp_path), "funnel_chunks")
    write_single_parquet(
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1),
        os.path.join(in_dir, "chunk_1.parquet"),
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        out = run_stream_to_memory(
            spark,
            funnel_stage_stateful(read_events_stream(spark, in_dir)),
            "funnel_multichunk",
            os.path.join(str(tmp_path), "ckpt_funnel_mc"),
            output_mode="update",
        )
        final = out.groupBy("user_id").agg(
            F.max("funnel_stage").alias("funnel_stage")
        )
        assert {(r["user_id"], r["funnel_stage"]) for r in final.collect()} == {
            (1, 3)
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_additive_merge_batch_fencing(spark, tmp_path):
    """The additive MV merge is NOT naturally idempotent — replaying a
    batch id (at-least-once redelivery) must be a no-op, a new batch id
    must fold in additively, and duplicate keys within a batch, the
    first included, add up."""
    from insight_spark.sources.sinks import foreach_batch_additive_merge

    out = str(tmp_path / "mv")
    merge = foreach_batch_additive_merge(out, ["k"], ["n"])

    def batch(rows):
        return spark.createDataFrame(rows, "k string, n long")

    def served():
        mv = spark.read.parquet(os.path.join(out, "serving"))
        return sorted((r["k"], r["n"]) for r in mv.collect())

    b0 = batch([("a", 2), ("a", 3), ("b", 3)])
    merge(b0, 0)
    assert served() == [("a", 5), ("b", 3)]
    merge(b0, 0)  # redelivery of batch 0: must be fenced out
    merge(batch([("a", 5)]), 1)
    assert served() == [("a", 10), ("b", 3)]
    # A crash after batch 2's staged write but before its swap leaves
    # _staging_2 beside the committed table: the MV still reads the
    # pre-crash state (batch unapplied)...
    batch([("a", 99)]).write.parquet(os.path.join(out, "_staging_2"))
    assert served() == [("a", 10), ("b", 3)]
    # ...and batch 2, redelivered twice after that crash, folds in once.
    merge(batch([("b", 1)]), 2)
    merge(batch([("b", 1)]), 2)
    assert served() == [("a", 10), ("b", 4)]
    assert sorted(os.listdir(out)) == ["serving"]


def test_additive_merge_refuses_a_new_streams_batches(spark, tmp_path):
    """The additive MV's fence knows its stream.  A query restarted from
    its checkpoint continues its batch ids and its fence; a query with
    a new checkpoint restarts its ids at 0, so its batches raise, naming
    both query ids, instead of being skipped as redeliveries and lost."""
    import json

    from insight_spark.sources.sinks import foreach_batch_additive_merge

    out = str(tmp_path / "mv")
    merge = foreach_batch_additive_merge(out, ["k"], ["n"])

    def served():
        mv = spark.read.parquet(os.path.join(out, "serving"))
        return sorted((r["k"], r["n"]) for r in mv.collect())

    first = [str(tmp_path / n) for n in ("in_a", "ckpt_a")]
    old = drain_kn_stream(spark, [[("a", 1)], [("a", 1)]], *first, merge)
    again = drain_kn_stream(spark, [[("a", 1)]], *first, merge)
    assert again.id == old.id
    assert served() == [("a", 3)]
    new = [str(tmp_path / n) for n in ("in_b", "ckpt_b")]
    with pytest.raises(Exception, match=f"query {old.id}; refusing batch 0") as err:
        drain_kn_stream(spark, [[("a", 100)]], *new, merge)
    with open(os.path.join(new[1], "metadata")) as fh:
        new_id = json.load(fh)["id"]
    assert new_id != old.id and new_id in str(err.value)
    assert served() == [("a", 3)]


def test_write_single_parquet_to_a_file_uri(spark, tmp_path, monkeypatch):
    """A ``file://`` destination lands as one parquet file in the real
    directory, leaves no ``_single_pq_*`` staging dir beside it, and
    creates nothing under the working directory."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    dest_dir = tmp_path / "arrivals"
    df = spark.range(5).withColumnRenamed("id", "x")
    out = write_single_parquet(df, f"file://{dest_dir}/chunk.parquet")
    assert out == f"file://{dest_dir}/chunk.parquet"
    landed = spark.read.parquet(str(dest_dir / "chunk.parquet"))
    assert sorted(r["x"] for r in landed.collect()) == [0, 1, 2, 3, 4]
    assert not [p for p in os.listdir(dest_dir) if p.startswith("_single_pq_")]
    assert os.listdir(cwd) == []
