"""End-to-end pipeline compositions (insight_spark.pipelines)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from insight_spark.pipelines import (
    build_search_index,
    build_suggestions,
    prepare_corpus,
    prepare_training_corpus,
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


def test_prepare_training_corpus_funnel_and_invariants(spark):
    from insight_spark.operators.text import tokenize

    base = load_table(spark, SF, "documents")
    # pick a real doc that passes the pipeline's quality gate (same four
    # rules, same tokenizer) to seed the dedup-stage synthetic rows
    toks = tokenize(F.col("text"))
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    stopset = ("the", "be", "to", "of", "and", "that", "have", "with", "a")
    gate = (
        F.size(toks).between(25, 90)
        & (sum_len.cast("double") / F.size(toks)).between(4.0, 10.0)
        & (F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double")
           / F.size(toks) >= 0.8)
        & (F.size(F.filter(toks, lambda t: t.isin(*stopset))) >= 2)
    )
    seed = base.filter(gate).orderBy("doc_id").first()

    # standalone quality-passing text (27 words, mean len 4.8, 9 stop
    # hits) carrying PII and sharing no 3-gram with any benchmark text
    pii_text = (
        "the quick brown fox and the lazy dog have agreed to meet with a "
        "friendly walrus of considerable charm that should satisfy "
        "quality rules contact bob@example.com now"
    )
    extra = spark.createDataFrame(
        [
            # verbatim duplicate of a real doc — must die at exact dedup
            (90001, seed["text"], "en", "synthetic", len(seed["text"])),
            # near-duplicate (one word appended) — must die at near-dup
            (90002, seed["text"] + " appended", "en", "synthetic",
             len(seed["text"]) + 9),
            # PII-bearing quality doc — must survive, scrubbed
            (90003, pii_text, "en", "synthetic", len(pii_text)),
        ],
        base.schema,
    )
    docs = base.unionByName(extra)
    benchmark = spark.createDataFrame([(seed["text"],)], "text string")

    out = prepare_training_corpus(docs, benchmark=benchmark)
    funnel = out["funnel"].first()
    corpus = out["corpus"]

    # funnel is monotone non-increasing and starts at the raw count
    stages = [funnel[c] for c in
              ("n_raw", "n_exact", "n_quality", "n_canonical", "n_clean")]
    assert stages[0] == docs.count()
    assert all(a >= b for a, b in zip(stages, stages[1:]))
    # each synthetic stage actually fired
    assert funnel["n_exact"] < funnel["n_raw"]          # 90001 dropped
    assert funnel["n_canonical"] < funnel["n_quality"]  # 90002 dropped
    assert funnel["n_clean"] < funnel["n_canonical"]    # benchmark overlap

    ids = {r["doc_id"] for r in
           corpus.select("doc_id")
           .filter(F.col("doc_id").isin(90001, 90002, 90003, seed["doc_id"]))
           .collect()}
    assert 90001 not in ids  # exact duplicate removed
    assert 90002 not in ids  # near-duplicate canonicalized away
    assert seed["doc_id"] not in ids  # decontaminated (it IS the benchmark)
    assert 90003 in ids  # clean, standalone, quality-passing
    scrubbed = corpus.filter(F.col("doc_id") == 90003).first()["text"]
    assert "bob@example.com" not in scrubbed
    assert "<EMAIL>" in scrubbed
    # no exact-duplicate texts remain, token stats are consistent
    n, nd = corpus.agg(
        F.count("*"), F.countDistinct("text")
    ).first()
    assert n == nd
    bad = corpus.filter(
        (F.size("tokens") != F.col("n_tokens"))
        | (F.length("text") != F.col("n_chars"))
    ).count()
    assert bad == 0


def test_resolve_entities_clusters_typos(spark):
    from insight_spark.pipelines import resolve_entities

    records = spark.createDataFrame(
        [
            (1, "john smith"),
            (2, "jon smith"),      # d=1 of 1 → same entity, canonical 1
            (3, "john smyth"),     # d=1 of 1 → chains into entity 1
            (4, "jane doe"),
            (5, "j4ne doe"),       # d=1 of 4 → entity 4
            (6, "alice wong"),     # singleton
            (7, "robert b brown"),
            (8, "carla mendes"),   # d(7,8) huge → both singletons
        ],
        "c_custkey long, c_name string",
    )
    resolved = resolve_entities(records)
    ent = {r["c_custkey"]: r["entity_id"] for r in resolved.collect()}
    assert len(ent) == 8  # one row per record, none lost or duplicated
    assert ent[1] == ent[2] == ent[3] == 1  # transitive typo cluster
    assert ent[4] == ent[5] == 4
    assert ent[6] == 6 and ent[7] == 7 and ent[8] == 8
    # skew safeguard: a degenerate shared-stem corpus (every block
    # identical) with a tiny cap is skipped wholesale — no pairs, every
    # record its own entity, and the join volume never goes quadratic
    cust = load_table(spark, SF, "customer").select("c_custkey", "c_name")
    capped = resolve_entities(cust, max_block=2)
    ent2 = {r["c_custkey"]: r["entity_id"] for r in capped.collect()}
    assert len(ent2) == cust.count()
    assert all(e == k for k, e in ent2.items())


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
    and submits at most two jobs (the upsert's barrier and its write).

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
    assert 0 < len(jobs) <= 2 * n_batches
