"""End-to-end pipeline compositions (insight_spark.pipelines)."""

from __future__ import annotations

import json
import os

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
