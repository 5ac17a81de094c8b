"""End-to-end pipeline compositions (insight_spark.pipelines)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from insight_spark.pipelines import (
    build_search_index,
    build_suggestions,
    prepare_corpus,
    streaming_ingest,
)
from insight_spark.sources import load_table
from insight_spark.streaming.core import prepare_stream_input

SF = "/root/testdata/sf0.001"


def test_prepare_corpus(spark):
    docs = load_table(spark, SF, "documents")
    out = prepare_corpus(docs)
    assert out.count() <= docs.count()  # dedup never grows
    row = out.filter(F.col("n_tokens") > 0).first()
    assert row["simhash"] is not None
    assert row["n_chars"] == len(row["text"])
    assert row["n_tokens"] == len(row["tokens"])
    # normalized text is lowercase alnum
    assert row["text_norm"] == row["text_norm"].lower()


def test_build_search_index_consistency(spark):
    docs = load_table(spark, SF, "documents")
    idx = build_search_index(docs)
    postings, vocab, stats = (
        idx["postings"],
        idx["vocabulary"],
        idx["doc_stats"],
    )
    # every posting's term is in the vocabulary; every doc has stats
    assert postings.join(vocab, "token", "left_anti").count() == 0
    assert postings.join(stats, "doc_id", "left_anti").count() == 0
    # per-doc tf sums equal doc length
    tf_sum = postings.groupBy("doc_id").agg(F.sum("tf").alias("tf_total"))
    bad = (
        tf_sum.join(stats, "doc_id")
        .filter(F.col("tf_total") != F.col("doc_len"))
        .count()
    )
    assert bad == 0


def test_build_suggestions_prefix_lookup(spark):
    docs = load_table(spark, SF, "documents")
    sugg = build_suggestions(docs, min_tf=2)
    assert sugg.filter(F.length("token") < 2).count() == 0
    # serving access pattern: top completions for a typed prefix
    some_prefix = sugg.orderBy(F.desc("tf"), "token").first()["prefix2"]
    top = (
        sugg.filter(F.col("prefix2") == some_prefix)
        .orderBy(F.desc("tf"), "token")
        .limit(5)
        .collect()
    )
    assert top and all(r["token"].startswith(some_prefix) for r in top)


def test_streaming_ingest_matches_batch_rollup(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    prepare_stream_input(spark, SF, in_dir, n_chunks=3)
    q = streaming_ingest(spark, in_dir, out_dir, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    served = spark.read.parquet(os.path.join(out_dir, "serving"))
    batch = (
        load_table(spark, SF, "events")
        .groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in served.collect()
    }
    want = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in batch.collect()
    }
    assert got == want


def test_streaming_ingest_runs_its_stateful_stage_once(spark, tmp_path):
    """Each micro-batch of the ingest stream runs its stateful stage once
    and submits at most one job: the upsert's staged write (its commit
    is driver-side renames, and no barrier job runs).

    A micro-batch DataFrame recomputes its lineage on every read, so an
    upsert that reads it twice runs the state store twice and its
    ``numRowsTotal`` reads double what the state-store reader finds in
    the checkpoint at that batch.  The state also runs on one shuffle
    partition, sized to the rollup's key space."""
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    prepare_stream_input(spark, SF, in_dir, n_chunks=3)
    q = streaming_ingest(spark, in_dir, str(tmp_path / "out"), ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    progress = [json.loads(p.json) for p in q.recentProgress]
    last = [p for p in progress if p["numInputRows"] > 0][-1]
    state = last["stateOperators"][0]
    stored = (
        spark.read.format("statestore")
        .option("batchId", last["batchId"])
        .load(ckpt)
        .count()
    )
    assert state["numRowsTotal"] == stored > 0
    assert state["numShufflePartitions"] == 1

    offsets = os.listdir(os.path.join(ckpt, "offsets"))
    n_batches = len([n for n in offsets if n.isdigit()])
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert 0 < len(jobs) <= n_batches


def _batch_rollup(spark):
    """The batch hourly rollup of the whole events fixture, keyed like
    the serving table."""
    rows = (
        load_table(spark, SF, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "sum_value")
        .collect()
    )
    return {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in rows
    }


def _served(spark, out_dir):
    return {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(os.path.join(out_dir, "serving")).collect()
    }


def _rows(path):
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


def _land(path, in_dir):
    """Atomically move a staged chunk into the stream's input dir."""
    dest = os.path.join(in_dir, os.path.basename(path))
    os.rename(path, dest)
    return dest


def _job_shapes(spark, q):
    """``(stages, tasks)`` of each job the query's run submitted."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    shapes = []
    for job in tracker.getJobIdsForGroup(str(q.runId)):
        stages = tracker.getJobInfo(job).stageIds
        tasks = sum(tracker.getStageInfo(s).numCompletedTasks for s in stages)
        shapes.append((len(stages), tasks))
    return shapes


def test_streaming_ingest_admits_a_backlog_in_one_batch(spark, tmp_path):
    """Files that landed before the query started are one micro-batch:
    the ingest source sets no per-trigger file cap, so the backlog pays
    the upsert's job once.  That job is one stage of one task: the
    events are coalesced to one partition above the watermark, which
    satisfies the one-partition state store, so no exchange runs, and
    the same task scans, aggregates, merges and writes the upsert."""
    in_dir = str(tmp_path / "in")
    prepare_stream_input(spark, SF, in_dir, n_chunks=3)
    q = streaming_ingest(spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        plan = q._jsq.explainInternal(False)
    finally:
        q.stop()

    progress = [json.loads(p.json) for p in q.recentProgress]
    data = [p for p in progress if p["numInputRows"] > 0]
    events = _rows(os.path.join(SF, "events.parquet"))
    assert [p["numInputRows"] for p in data] == [events]
    assert "StateStoreSave" in plan and "Exchange" not in plan
    assert _job_shapes(spark, q) == [(1, 1)]


def test_streaming_ingest_leaves_the_callers_session_unchanged(spark, tmp_path):
    """The ingest query runs in its own session: the caller's session
    reads the same confs while the stream runs and after, and the
    query's session carries the engine's semantic confs even when the
    caller's session does not."""
    from insight_spark.engine import conf_override

    keys = [
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "spark.sql.files.minPartitionNum",
    ]
    in_dir = str(tmp_path / "in")
    prepare_stream_input(spark, SF, in_dir, n_chunks=1)
    tz = "spark.sql.session.timeZone"
    with conf_override(spark, {tz: "America/New_York"}):
        before = {k: spark.conf.get(k, None) for k in keys}
        q = streaming_ingest(
            spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ckpt")
        )
        try:
            q.processAllAvailable()
            running = {k: spark.conf.get(k, None) for k in keys}
            assert q.isActive
            # the JVM query's session; pyspark's handle does not expose it
            assert q._jsq.sparkSession().conf().get(tz) == "UTC"
            assert spark.conf.get(tz) == "America/New_York"
        finally:
            q.stop()
        after = {k: spark.conf.get(k, None) for k in keys}
    assert running == before == after


@pytest.fixture(scope="module")
def drip_fed(spark, tmp_path_factory):
    """The ingest query fed one chunk at a time: each chunk is renamed
    from a ``_``-prefixed staging dir (which the file source skips) into
    the input dir, and processed before the next lands."""
    root = tmp_path_factory.mktemp("drip")
    in_dir, out_dir, ckpt = (str(root / n) for n in ("in", "out", "ckpt"))
    staged = prepare_stream_input(
        spark, SF, os.path.join(in_dir, "_staging"), n_chunks=3
    )
    q = streaming_ingest(spark, in_dir, out_dir, ckpt)
    try:
        for path in staged:
            _land(path, in_dir)
            q.processAllAvailable()
    finally:
        q.stop()
    return {
        "progress": [json.loads(p.json) for p in q.recentProgress],
        "out_dir": out_dir,
        "ckpt": ckpt,
    }


def test_streaming_ingest_merges_across_batches_like_batch_rollup(spark, drip_fed):
    """One batch per arriving chunk, each upserted onto the served copy
    the batch before wrote: the merged rollup equals the batch rollup."""
    data = [p for p in drip_fed["progress"] if p["numInputRows"] > 0]
    assert len(data) >= 3
    assert _served(spark, drip_fed["out_dir"]) == _batch_rollup(spark)


def test_streaming_ingest_runs_no_empty_batches(spark, drip_fed):
    """No-data micro-batches are off: every committed batch read input,
    yet the state each batch leaves is exactly the hourly windows still
    open under the watermark it evicted with (so it stays within open
    windows × event types), and the rollup is exact."""
    from datetime import datetime, timedelta

    def instant(iso):
        return datetime.fromisoformat(iso.replace("Z", "+00:00"))

    ckpt = drip_fed["ckpt"]
    by_id = {p["batchId"]: p for p in drip_fed["progress"]}
    committed = sorted(
        int(n) for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()
    )
    assert len(committed) >= 3
    assert all(by_id[b]["numInputRows"] > 0 for b in committed)

    events = load_table(spark, SF, "events")
    for b in committed:
        times = by_id[b]["eventTime"]
        # the chunks are ts-ordered, so the rows read so far are those up
        # to the batch's max event time (reported truncated to the ms)
        read = F.col("ts") < F.lit(instant(times["max"]) + timedelta(milliseconds=1))
        open_keys = (
            events.filter(read)
            .select(F.window("ts", "1 hour").alias("w"), "event_type")
            .filter(F.col("w.end") > F.lit(instant(times["watermark"])))
            .select("w.start", "event_type")
            .distinct()
        )
        state = (
            spark.read.format("statestore").option("batchId", b).load(ckpt)
            .select("key.window.start", "key.event_type")
        )
        assert sorted(map(tuple, state.collect())) == sorted(
            map(tuple, open_keys.collect())
        )
    assert _served(spark, drip_fed["out_dir"]) == _batch_rollup(spark)


def _capped_ingest(spark, in_dir, out_dir, ckpt):
    """The ingest query as it ran with one file per trigger (and no-data
    batches on): the checkpoint a deployed consumer resumes from."""
    from insight_spark.engine import conf_override
    from insight_spark.sources.sinks import foreach_batch_upsert
    from insight_spark.streaming.core import hourly_counts_stream, read_events_stream

    stream = hourly_counts_stream(
        read_events_stream(spark, in_dir, max_files_per_trigger=1)
    )
    with conf_override(spark, {"spark.sql.shuffle.partitions": "1"}):
        return (
            stream.writeStream.outputMode("update")
            .foreachBatch(foreach_batch_upsert(out_dir, ["window_start", "event_type"]))
            .option("checkpointLocation", ckpt)
            .start()
        )


@pytest.mark.parametrize("first_run", [streaming_ingest, _capped_ingest])
def test_streaming_ingest_resumes_a_backlog_in_one_batch(spark, tmp_path, first_run):
    """Chunks that land while the query is down are one batch on
    restart, of one task, and the upsert stays exactly-once across the
    restart.  A checkpoint started with ``maxFilesPerTrigger=1`` and an
    exchange ahead of its state store resumes uncapped and without the
    exchange: the option is a rate limit and the exchange a plan
    choice, neither of which the checkpoint pins."""
    in_dir, out_dir, ckpt = (str(tmp_path / n) for n in ("in", "out", "ckpt"))
    staged = prepare_stream_input(
        spark, SF, os.path.join(in_dir, "_staging"), n_chunks=3
    )
    _land(staged[0], in_dir)
    q = first_run(spark, in_dir, out_dir, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    backlog = [_land(p, in_dir) for p in staged[1:]]
    q = streaming_ingest(spark, in_dir, out_dir, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    progress = [json.loads(p.json) for p in q.recentProgress]
    data = [p["numInputRows"] for p in progress if p["numInputRows"] > 0]
    assert data == [sum(_rows(p) for p in backlog)]
    assert _job_shapes(spark, q) == [(1, 1)]
    assert _served(spark, out_dir) == _batch_rollup(spark)
