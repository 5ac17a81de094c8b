"""End-to-end job compositions — the reference's actual pipelines.

The reference (SURVEY.md §0.1) is a text search/suggestion ETL: Spark
batch jobs build a search index and suggestion tables into
Elasticsearch/PostgreSQL, and a Pulsar consumer keeps them fresh.  These
functions compose the oracled operators into those job shapes, so a
reference user's workloads map 1:1:

| reference job                  | here                         |
| ------------------------------ | ---------------------------- |
| corpus → ES search index       | ``build_search_index``       |
| term/suggestion table → PG     | ``build_suggestions``        |
| corpus hygiene (dedup + stats) | ``prepare_corpus``           |
| Pulsar consumer → serving      | ``streaming_ingest``         |

Jobs the reference does not have are not composed here: the stages of
LLM-training-data prep and entity resolution are registry queries
(``dedup_pipeline_summary``, ``gopher_quality_filter``,
``fuzzy_decontaminate``, ``entity_resolution_golden``,
``blocked_fuzzy_match``), each oracled on its own.

Each stage is a declarative DataFrame (lazy); callers pick the sink
(``sources.sinks``).  Every underlying operator is individually
DuckDB-oracled via the query registry; the compositions are tested in
tests/test_pipelines.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_spark.engine import SEMANTIC_CONF
from insight_spark.operators.dedup import exact_dedup, simhash_fingerprints
from insight_spark.operators.text import (
    doc_freq,
    normalize_text,
    tf_idf,
    tokenize,
    tokens_df,
)


def prepare_corpus(docs: DataFrame) -> DataFrame:
    """Corpus hygiene: exact-dedup, normalize, token/char stats, simhash.

    The LLM-data-pipeline front door: returns one row per surviving doc
    with ``text_norm``, ``tokens``, ``n_tokens``, ``n_chars``,
    ``simhash``.  Near-dup candidates come from grouping on simhash
    bands downstream.  One shuffle for dedup, one for simhash.
    """
    survivors = docs.join(
        exact_dedup(docs, "text", "doc_id").select(
            F.col("keep_id").alias("doc_id")
        ),
        "doc_id",
        "left_semi",
    )
    enriched = survivors.withColumn(
        "text_norm", normalize_text(F.col("text"))
    ).withColumn("tokens", tokenize(F.col("text_norm")))
    enriched = enriched.withColumn("n_tokens", F.size("tokens")).withColumn(
        "n_chars", F.length("text")
    )
    return enriched.join(simhash_fingerprints(docs), "doc_id", "left")


def build_search_index(docs: DataFrame) -> dict[str, DataFrame]:
    """The ES-index-build job: postings + per-doc weights + doc stats.

    Returns the three tables a search serving layer needs:
    ``postings`` (term → doc_id, tf·idf weight, for retrieval),
    ``doc_stats`` (doc_id → length norms, for scoring), ``vocabulary``
    (term → df, idf).  All shuffle on bounded keys (term / doc_id); the
    vocabulary side is broadcast-sized by construction.
    """
    weights = tf_idf(docs)
    postings = weights.select("token", "doc_id", "tf", "tf_idf")
    vocabulary = doc_freq(docs)
    doc_stats = (
        tokens_df(docs)
        .groupBy("doc_id")
        .agg(F.count("*").alias("doc_len"))
    )
    return {
        "postings": postings,
        "vocabulary": vocabulary,
        "doc_stats": doc_stats,
    }


def build_suggestions(docs: DataFrame, min_tf: int = 2) -> DataFrame:
    """The suggestion-table job: ranked completion candidates per prefix.

    Terms ranked by corpus frequency; the serving layer resolves a typed
    prefix against ``prefix1``/``prefix2`` (first 1-2 chars — the ES
    completion-suggester access pattern, emulated relationally).
    """
    tf = (
        tokens_df(docs)
        .groupBy("token")
        .agg(F.count("*").alias("tf"))
        .filter((F.col("tf") >= min_tf) & (F.length("token") >= 2))
    )
    return tf.select(
        "token",
        "tf",
        F.substring("token", 1, 1).alias("prefix1"),
        F.substring("token", 1, 2).alias("prefix2"),
    )


# Confs of the ingest query's own session; see streaming_ingest.
_INGEST_CONF = {
    "spark.sql.shuffle.partitions": "1",
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
}


def streaming_ingest(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """The Pulsar-consumer job: stream events → hourly serving rollup.

    File-source stand-in for the topic (SURVEY §3.3); idempotent
    foreachBatch upsert into a keyed parquet serving table (the ES/PG
    role), one job per micro-batch: the merge's staged write, swapped
    in by renames (``sinks.foreach_batch_upsert``).  Returns the
    started StreamingQuery (caller awaits/stops).

    One micro-batch per backlog: the source has no per-trigger file
    cap, so every file listed when a trigger fires, a burst or the
    backlog a restart finds, is one batch and pays the per-batch
    upsert once.  An aggregate consumer needs no cap: the batch's
    output, its state and the upsert's merge input are bounded by
    hourly windows × event types, not by the files it read, and
    partial aggregation bounds the reducer's input to keys × scan
    tasks.  Rows of one batch are judged late against the previous
    batch's watermark, so a backlog admits rows that one-file slicing
    might have dropped as late; on ts-ordered input nothing changes.

    One task per micro-batch.  The query runs in its own session,
    ``spark.newSession()``, carrying ``engine.SEMANTIC_CONF`` and
    ``_INGEST_CONF``; the caller's session is never changed.  One
    shuffle partition makes the rollup's state store one task, and
    the events are coalesced to one partition between the watermark
    and the rollup: one partition satisfies the state store's
    distribution, so no exchange runs, and the scan, the partial
    aggregate, the state store and the upsert's merge and staged
    write are one stage of one task.  The coalesce sits above the
    watermark because the watermark node does not pass its child's
    partitioning up; below it, the exchange stays.  The cost is the
    scan's parallelism: a backlog over
    ``spark.sql.files.maxPartitionBytes`` (128 MB) is still one batch,
    but it is scanned by one task instead of one per 128 MB (SCALE.md
    has the measured cost).  The state is the hourly windows still
    open under the 2 h watermark × event types (10 rows for in-order
    10-minute files).  No-data micro-batches are off: in update mode
    such a batch only evicts state, which the next data batch does
    against the same watermark, yet it would run a full staged
    rewrite of the serving table for an empty batch.  A query resumed
    from an existing checkpoint keeps the partition count that
    checkpoint was started with; one started with more than one
    partition keeps its exchange.  The query is listed in its own
    session's ``streams.active``, not the caller's: stop it through
    the returned handle.
    """
    from insight_spark.sources.sinks import foreach_batch_upsert
    from insight_spark.streaming.core import hourly_rollup, read_events_stream

    ingest = spark.newSession()
    for k, v in {**SEMANTIC_CONF, **_INGEST_CONF}.items():
        ingest.conf.set(k, v)
    events = read_events_stream(ingest, in_dir, max_files_per_trigger=None)
    stream = hourly_rollup(events.withWatermark("ts", "2 hours").coalesce(1))
    return (
        stream.writeStream.outputMode("update")
        .foreachBatch(foreach_batch_upsert(out_dir, ["window_start", "event_type"]))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
