"""Text / search domain queries (SURVEY.md §2.I — the reference's domain)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_spark.operators.text import term_freq, tokenize, tokens_sql
from insight_spark.queries import query
from insight_spark.sources import load_table


@query(
    "tokenize_wordcount",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({tokens_sql('text')}) AS token
        FROM documents
    )
    SELECT token, COUNT(*) AS tf
    FROM toks
    GROUP BY token
    ORDER BY tf DESC, token
    LIMIT 20
    """,
)
def tokenize_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequency, top-20 (I2/I5, H11, E10-ish top-k)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        term_freq(docs)
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(20)
    )


@query(
    "lang_profile",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars
    FROM documents
    GROUP BY lang
    """,
)
def lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile (I12)."""
    docs = load_table(spark, sf_dir, "documents")
    grouped = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    return grouped.select(
        "lang",
        "n_docs",
        "total_chars",
        F.round(F.col("total_chars").cast("double") / F.col("n_docs"), 6).alias(
            "avg_chars"
        ),
    )


@query(
    "text_stats",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, lang, length(text) AS text_len,
               {tokens_sql('text')} AS tokens
        FROM documents
    )
    SELECT doc_id, lang, text_len,
           CAST(len(tokens) AS INTEGER) AS n_tokens,
           ROUND(CAST(list_reduce(list_prepend(0, list_transform(tokens, t -> length(t))),
                                  (a, b) -> a + b) AS DOUBLE)
                 / NULLIF(len(tokens), 0), 6) AS avg_token_len
    FROM toks
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics (I13: LLM-pipeline quality features)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    token_len_sum = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("text_len"),
        F.size(toks).alias("n_tokens"),
        F.round(
            token_len_sum.cast("double") / F.nullif(F.size(toks), F.lit(0)), 6
        ).alias("avg_token_len"),
    )
