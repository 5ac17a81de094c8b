"""Vector similarity queries (SURVEY.md §2.J — P0/P1 tier)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_spark.operators.similarity import embedding_sql, knn_topk, l2_norm
from insight_spark.queries import query
from insight_spark.sources import load_table


@query(
    "knn_cosine_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_vec_id,
               {embedding_sql()} AS q_embedding
        FROM embeddings WHERE vec_id < 10
    ),
    c AS (
        SELECT vec_id AS c_vec_id,
               {embedding_sql()} AS c_embedding
        FROM embeddings
    ),
    pairs AS (
        SELECT q_vec_id, c_vec_id,
               ROUND(list_cosine_similarity(q_embedding, c_embedding), 6) AS cos_sim
        FROM c CROSS JOIN q
    )
    SELECT q_vec_id, c_vec_id, cos_sim, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_vec_id ORDER BY cos_sim DESC, c_vec_id
        ) AS rank
        FROM pairs
    )
    WHERE rank <= 5
    """,
)
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact knn: 10 query vectors × corpus, cosine top-5 (J2/J3).

    Query side broadcast → map-side nested loop; ranking on the rounded
    score + id tie-break for cross-engine determinism.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_vec_id"), F.col("embedding").alias("c_embedding")
    )
    return knn_topk(queries, corpus, k=5)


@query(
    "vector_norms",
    oracle="""
    SELECT vec_id, label,
           ROUND(sqrt(list_reduce(list_prepend(0.0,
               list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
               (a, b) -> a + b)), 6) AS l2_norm
    FROM embeddings
    """,
)
def vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm (J1) — JVM higher-order functions, no UDF."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.round(l2_norm(F.col("embedding")), 6).alias("l2_norm"),
    )
