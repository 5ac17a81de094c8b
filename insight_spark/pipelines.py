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

``prepare_training_corpus`` is the one job the reference does NOT have:
the LLM-training-data prep pipeline (exact dedup → PII scrub → quality
gate → near-dup canonicalization → decontamination → token stats),
composed from the same individually-oracled operators.

Each stage is a declarative DataFrame (lazy); callers pick the sink
(``sources.sinks``).  Every underlying operator is individually
DuckDB-oracled via the query registry; the compositions are tested in
tests/test_pipelines.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_spark.engine import conf_override
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


def prepare_training_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The LLM-training-data prep job, end to end in one lazy plan pair.

    Stages (order is load-bearing — SCALE.md records that verbatim
    duplicates inflate LSH candidate pairs quadratically, so the cheap
    digest shuffle runs first; PII scrub precedes the quality gate so
    redaction placeholders count as tokens exactly once):

    1. exact dedup        — sha256 arg-min keep (one digest shuffle)
    2. PII scrub          — typed placeholders, map-only regexp chain
    3. quality gate       — Gopher-style rules (Rae et al. 2021 §A1.1),
                            map-only higher-order array functions
    4. near-dup removal   — MinHash+LSH pairs (Jaccard >= 0.7) →
                            connected components → keep cluster-min
                            canonical
    5. decontamination    — drop docs sharing any word 3-gram with
                            ``benchmark`` (skipped when None)
    6. token stats        — tokens / n_tokens / n_chars for the packer
                            and shard export

    Returns ``{"corpus": per-doc training rows, "funnel": one-row stage
    counts (n_raw → n_exact → n_quality → n_canonical → n_clean)}``.
    Both are lazy; the only eager step is a ``localCheckpoint`` of the
    (small) near-dup id-pair list, which the CC rounds, the canonical
    semi-join, and the funnel all reuse instead of re-running the
    sketch pipeline per consumer.

    Scale: every shuffle is on a bounded key (256-bit digest, band
    bucket, 16-byte id pair, gram hash); document text crosses the wire
    once per joining stage, never through the band join; the benchmark
    gram side is broadcast-sized by construction.  No driver state
    beyond CC's convergence flag.  At 100 TB, checkpoint the gated
    survivor set between stages 3 and 4 so the map-only scrub+gate scan
    isn't recomputed per downstream consumer.
    """
    from insight_spark.operators.components import canonical_assignment
    from insight_spark.operators.dedup import near_dedup_minhash
    from insight_spark.operators.text import ngrams, scrub_pii

    keep = exact_dedup(docs, content_col="text", id_col="doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    survivors = docs.join(keep, "doc_id", "left_semi").withColumn(
        "clean_text", scrub_pii(F.col("text"))
    )

    toks = tokenize(F.col("clean_text"))
    n_words = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    stopset = ("the", "be", "to", "of", "and", "that", "have", "with", "a")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*stopset)))
    passes = (
        n_words.between(25, 90)
        & (sum_len.cast("double") / n_words).between(4.0, 10.0)
        & (alpha.cast("double") / n_words >= 0.8)
        & (n_stop >= 2)
    )
    quality = survivors.filter(passes)

    pairs = (
        near_dedup_minhash(quality, text_col="clean_text")
        .select("a_id", "b_id")
        .localCheckpoint()
    )
    canon = canonical_assignment(pairs, quality.select("doc_id"))
    canonical = quality.join(
        canon.filter(F.col("doc_id") == F.col("canonical_id")).select("doc_id"),
        "doc_id",
        "left_semi",
    )

    if benchmark is not None:
        bench_grams = (
            benchmark.select(
                F.explode(
                    F.array_distinct(ngrams(tokenize(F.col("text")), 3))
                ).alias("gram")
            )
            .select(F.xxhash64("gram").alias("gram_h"))
            .distinct()
        )
        doc_grams = canonical.select(
            "doc_id",
            F.explode(
                F.array_distinct(ngrams(tokenize(F.col("clean_text")), 3))
            ).alias("gram"),
        ).select("doc_id", F.xxhash64("gram").alias("gram_h"))
        contaminated = (
            doc_grams.join(F.broadcast(bench_grams), "gram_h", "left_semi")
            .select("doc_id")
            .distinct()
        )
        clean = canonical.join(contaminated, "doc_id", "left_anti")
    else:
        clean = canonical

    corpus = clean.select(
        "doc_id",
        F.col("clean_text").alias("text"),
        toks.alias("tokens"),
    ).select(
        "doc_id",
        "text",
        "tokens",
        F.size("tokens").alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    funnel = (
        docs.agg(F.count("*").alias("n_raw"))
        .crossJoin(survivors.agg(F.count("*").alias("n_exact")))
        .crossJoin(quality.agg(F.count("*").alias("n_quality")))
        .crossJoin(canonical.agg(F.count("*").alias("n_canonical")))
        .crossJoin(clean.agg(F.count("*").alias("n_clean")))
    )
    return {"corpus": corpus, "funnel": funnel}


def resolve_entities(
    records: DataFrame, max_block: int | None = None
) -> DataFrame:
    """Entity resolution job over ``records(c_custkey, c_name)``:
    multi-pass blocking → verify → cluster.

    The standard two-phase ER shape scaled out: candidate pairs come
    from the UNION of two blocking passes (soundex phonetic code +
    3-char prefix — multi-pass blocking is how production ER recovers
    the recall a single key loses), each pass a per-block equi-join
    whose volume is the sum of squared block sizes, never |n|².
    Verification (Levenshtein ≤ 1) runs only on candidates;
    verified pairs close transitively through the distributed
    connected-components operator, and every record maps to its
    cluster-min canonical — the ``entity_id``.

    Returns ``records`` + an ``entity_id`` column (lazy; the CC rounds
    inside materialize only bounded id pairs).  Blocking recall is < 1
    by construction (a typo in the first syllable can escape both
    keys); add passes for tighter recall — candidates stay linear in
    pass count.

    ``max_block`` is the skew safeguard: blocks holding more rows are
    SKIPPED (a shared stem — like this fixture's ``Customer#`` prefix —
    yields a block with no discriminative signal and a within-block
    pair count quadratic in its size).  Production key choice is
    data-dependent; capped degenerate blocks surface as a recall gap
    to fix with a better key, never as a runaway join.
    """
    from insight_spark.operators.components import canonical_assignment

    named = records.select(
        "c_custkey", F.col("c_name").alias("_name")
    ).withColumn("_blk_snd", F.soundex("_name")).withColumn(
        "_blk_pre", F.substring("_name", 1, 3)
    )

    def _pass(blk: str) -> DataFrame:
        side = named.select("c_custkey", "_name", F.col(blk).alias("_blk"))
        if max_block is not None:
            ok = (
                side.groupBy("_blk")
                .agg(F.count("*").alias("_bn"))
                .filter(F.col("_bn") <= max_block)
                .select("_blk")
            )
            side = side.join(F.broadcast(ok), "_blk", "left_semi")
        a = side.select(
            F.col("c_custkey").alias("a_id"),
            F.col("_name").alias("_a_name"),
            "_blk",
        )
        b = side.select(
            F.col("c_custkey").alias("b_id"),
            F.col("_name").alias("_b_name"),
            "_blk",
        )
        return (
            a.join(b, "_blk")
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id", "_a_name", "_b_name")
        )

    cand = _pass("_blk_snd").unionByName(_pass("_blk_pre")).dropDuplicates(
        ["a_id", "b_id"]
    )
    pairs = cand.filter(F.levenshtein("_a_name", "_b_name") <= 1).select(
        "a_id", "b_id"
    )
    canon = canonical_assignment(
        pairs, records.select("c_custkey"), id_col="c_custkey"
    )
    return records.join(canon, "c_custkey").withColumnRenamed(
        "canonical_id", "entity_id"
    )


# Shuffle (and so state-store) partitions of the ingest query; see
# streaming_ingest.
_INGEST_STATE_PARTITIONS = 1


def streaming_ingest(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """The Pulsar-consumer job: stream events → hourly serving rollup.

    File-source stand-in for the topic (SURVEY §3.3); idempotent
    foreachBatch upsert into a keyed parquet serving table (the ES/PG
    role).  Returns the started StreamingQuery (caller awaits/stops).

    The query starts with ``_INGEST_STATE_PARTITIONS`` (1) shuffle
    partitions, so the hourly rollup's state store, and the upsert's
    merge shuffle, run one task per micro-batch instead of the
    session's count.  The rollup's state is the hourly windows still
    open under the 2 h watermark × event types (10 rows for in-order
    10-minute files), and partial aggregation bounds the reducer's
    input to keys × map tasks whatever the event volume.  ``start()``
    clones the session, so the stream keeps the value and the caller's
    session is restored on return.  The count is fixed in the
    checkpoint at its first start: a query resumed from an existing
    checkpoint keeps the count that checkpoint was started with.
    """
    from insight_spark.sources.sinks import foreach_batch_upsert
    from insight_spark.streaming.core import (
        hourly_counts_stream,
        read_events_stream,
    )

    stream = hourly_counts_stream(read_events_stream(spark, in_dir))
    with conf_override(
        spark, {"spark.sql.shuffle.partitions": str(_INGEST_STATE_PARTITIONS)}
    ):
        return (
            stream.writeStream.outputMode("update")
            .foreachBatch(
                foreach_batch_upsert(out_dir, ["window_start", "event_type"])
            )
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )
