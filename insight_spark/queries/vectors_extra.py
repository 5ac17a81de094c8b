"""Extended vector / doc-embedding queries (SURVEY.md §2.J7-J10, L1)."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from insight_spark.operators.dedup import jaccard
from insight_spark.operators.similarity import embedding_sql, ivf_cells_ctes
from insight_spark.operators.text import token_set_sql, tokenize, tokens_sql
from insight_spark.queries import query
from insight_spark.sources import load_table


@query(
    "token_jaccard_pairs",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {token_set_sql('text')} AS s
        FROM documents
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           ROUND(CASE WHEN len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) = 0
                      THEN 0.0
                      ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                 END, 6) AS jaccard_sim
    FROM toks a
    JOIN toks b ON b.doc_id = a.doc_id + 1
    """,
)
def token_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard similarity of adjacent doc pairs (J7)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.array_distinct(tokenize(F.col("text"))).alias("s")
    )
    a = toks.alias("a")
    b = toks.alias("b")
    return a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1).select(
        F.col("a.doc_id").alias("a_id"),
        F.col("b.doc_id").alias("b_id"),
        F.round(jaccard(F.col("a.s"), F.col("b.s")), 6).alias("jaccard_sim"),
    )


@query(
    "embed_label_profile",
    oracle="""
    SELECT label,
           COUNT(*) AS n_docs,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars,
           COUNT(DISTINCT lang) AS n_langs
    FROM documents
    JOIN embeddings ON doc_id = vec_id
    GROUP BY label
    """,
)
def embed_label_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ⋈ embeddings by id (J9), profiled per cluster label.
    Inner join by contract — doc/vector counts diverge at sf0.1
    (FIXTURES.md)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    joined = docs.join(emb, docs.doc_id == emb.vec_id)
    grouped = joined.groupBy("label").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("_sum_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )
    return grouped.select(
        "label",
        "n_docs",
        F.round(F.col("_sum_chars").cast("double") / F.col("n_docs"), 6).alias(
            "avg_chars"
        ),
        "n_langs",
    )


@query(
    "label_centroids",
    oracle="""
    SELECT label, CAST(i - 1 AS INTEGER) AS pos,
           COUNT(*) AS n_vectors,
           ROUND(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,12)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_val
    FROM embeddings, unnest(range(1, 9)) AS t(i)
    GROUP BY label, i
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, first 8 dimensions (J10): element-wise mean
    via posexplode + decimal-exact sums.  At scale this is one shuffle
    on (label, pos) with map-side partials — no driver-side vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).filter(F.col("pos") < 8)
    grouped = exploded.groupBy("label", "pos").agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.col("val").cast("double").cast("decimal(38,12)")).alias("_s"),
    )
    return grouped.select(
        "label",
        "pos",
        "n_vectors",
        F.round(F.col("_s").cast("double") / F.col("n_vectors"), 6).alias(
            "mean_val"
        ),
    )


def _sigmoid_len_score():
    """Arrow-vectorized quality score: sigmoid of text length / 100.

    Demonstrates the L1 scalar pandas-UDF surface (SNIPPETS.md idiom) on
    a deliberately SQL-expressible formula so the oracle can check the
    whole Arrow round-trip.  Built lazily — pandas_udf type resolution
    needs an active session.
    """
    from pyspark.sql.types import DoubleType

    def score(text: pd.Series) -> pd.Series:
        import numpy as np

        x = text.str.len().astype("float64") / 100.0
        return 1.0 / (1.0 + np.exp(-x))

    return pandas_udf(score, DoubleType())


@query(
    "udf_quality_score",
    oracle="""
    SELECT doc_id,
           ROUND(1.0 / (1.0 + exp(-(CAST(length(text) AS DOUBLE) / 100.0))), 6)
               AS quality
    FROM documents
    """,
)
def udf_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (L1): length-sigmoid quality score per doc."""
    docs = load_table(spark, sf_dir, "documents")
    udf = _sigmoid_len_score()
    return docs.select(
        "doc_id", F.round(udf(F.col("text")), 6).alias("quality")
    )


def _kmeans_iter_sql(i: int, prev_cents: str, d: int) -> str:
    """One unrolled Lloyd round: assign (a{i}) + update (c{i}f)."""
    return f"""
    d{i} AS (
        SELECT emb.vec_id, emb.e, cents.cid,
               list_reduce(list_transform(range(1, {d + 1}),
                   j -> (e[j] - c[j]) * (e[j] - c[j])), (a, b) -> a + b)
                   AS dist
        FROM emb CROSS JOIN {prev_cents} AS cents
    ),
    a{i} AS (
        SELECT vec_id, e, cid AS cell, dist FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM d{i})
        WHERE rn = 1
    ),
    u{i} AS (
        SELECT cell, p.pos,
               CAST(floor(CAST(SUM(e[p.pos]) AS DOUBLE) / COUNT(*) + 0.5)
                    AS BIGINT) AS cv
        FROM a{i} CROSS JOIN
             (SELECT unnest(range(1, {d + 1})) AS pos) AS p
        GROUP BY cell, p.pos
    ),
    c{i} AS (SELECT cell AS cid, list(cv ORDER BY pos) AS c
             FROM u{i} GROUP BY cell),
    c{i}f AS (SELECT prev.cid, COALESCE(c{i}.c, prev.c) AS c
              FROM {prev_cents} AS prev LEFT JOIN c{i} USING (cid))"""


_KMEANS_K = 8
_KMEANS_D = 64

#: Shared unrolled-Lloyd assignment CTE body: ``WITH `` + this yields
#: a3(vec_id, cell, dist) — the exact 2-round k-means cell assignment.
#: ``semantic_dedup`` (queries/corpus_clean.py) builds its oracle on the
#: same body so both queries check the identical integer-exact model.
KMEANS_ASSIGN_CTE = (
    """
    emb AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS e
        FROM embeddings
    ),
    c0f AS (SELECT vec_id AS cid, e AS c FROM emb
            WHERE vec_id < """
    + str(_KMEANS_K)
    + "),"
    + _kmeans_iter_sql(1, "c0f", _KMEANS_D)
    + ","
    + _kmeans_iter_sql(2, "c1f", _KMEANS_D)
    + f""",
    d3 AS (
        SELECT emb.vec_id, cents.cid,
               list_reduce(list_transform(range(1, {_KMEANS_D + 1}),
                   j -> (e[j] - c[j]) * (e[j] - c[j])), (a, b) -> a + b)
                   AS dist
        FROM emb CROSS JOIN c2f AS cents
    ),
    a3 AS (
        SELECT vec_id, cid AS cell, dist FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM d3)
        WHERE rn = 1
    )"""
)

_KMEANS_SQL = (
    "WITH "
    + KMEANS_ASSIGN_CTE
    + """
    SELECT CAST(cell AS INTEGER) AS cell_id,
           COUNT(*) AS n_points,
           ROUND(CAST(SUM(dist) AS DOUBLE) / 1e12, 6) AS inertia
    FROM a3 GROUP BY cell
    """
)


@query("kmeans_lloyd", oracle=_KMEANS_SQL)
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means, 2 Lloyd rounds (M27) — the quantizer trainer
    for the IVF index, exactly value-oracled.

    All coordinate math happens in integer micro-units
    (``operators/clustering.py``), so every distance, centroid, and the
    final inertia is bit-identical between Spark and the unrolled-CTE
    DuckDB oracle — an *exact* value check on an iterative ML loop,
    which float arithmetic could never give.  Per round the cluster
    moves K·d integers; the corpus is never shuffled (assignment is a
    per-batch GEMM against driver-resident centroids, the update is a
    map-side-combined K·d-row aggregate).

    The assignment GEMM is exact integer arithmetic (micro-int products
    stay under 2^53 in float64; see ``clustering.assign_cells``), so
    the DuckDB oracle's BIGINT folds are the kernel's reference at
    every tier.
    """
    from insight_spark.operators.clustering import lloyd, quantize_micro

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize_micro(F.col("embedding")).alias("e")
    )
    final = lloyd(emb, k=_KMEANS_K, n_iter=2, vec_col="e", id_col="vec_id")
    return final.groupBy(
        F.col("cell").cast("int").alias("cell_id")
    ).agg(
        F.count("*").alias("n_points"),
        F.round(F.sum("dist").cast("double") / F.lit(1e12), 6).alias(
            "inertia"
        ),
    )


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_vec_id, label AS q_label,
               {embedding_sql()} AS q_embedding
        FROM embeddings WHERE vec_id < 20
    ),
    c AS (
        SELECT vec_id AS c_vec_id, label AS c_label,
               {embedding_sql()} AS c_embedding
        FROM embeddings
    ),
    pairs AS (
        SELECT q_vec_id, c_vec_id,
               ROUND(list_cosine_similarity(q_embedding, c_embedding), 6) AS cos_sim
        FROM c CROSS JOIN q
        WHERE c_label <> q_label
    )
    SELECT q_vec_id, c_vec_id, cos_sim, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_vec_id ORDER BY cos_sim DESC, c_vec_id
        ) AS rank
        FROM pairs
    )
    WHERE rank <= 3
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (embedding-pipeline
    mandate): per anchor vector, the top-3 most-similar vectors with a
    DIFFERENT label — the negatives a contrastive loss learns most
    from.

    Same physical shape as exact knn (anchor side broadcast, corpus
    never shuffles, rounded-score + id tie-break ranking); the label
    inequality prunes at the probe before ranking.  At 100 TB the
    anchor set is the small side by construction (a training batch),
    and the ANN bucketing paths (LSH/IVF) swap in identically.
    """
    from insight_spark.operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_embedding"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_vec_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_embedding"),
    )
    from pyspark.sql import Window

    pairs = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("c_label") != F.col("q_label"))
        .select(
            "q_vec_id",
            "c_vec_id",
            F.round(
                cosine(F.col("q_embedding"), F.col("c_embedding")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.desc("cos_sim"), F.asc("c_vec_id")
    )
    return pairs.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 3
    )


@query(
    "ann_ivf_recall_gate",
    oracle="SELECT TRUE AS recall_ok, 10 AS n_queries",
)
def ann_ivf_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate (bound-oracle pattern, M15): computes IVF
    top-5 recall against exact brute-force top-5 IN-PLAN and returns
    whether mean recall clears 0.6 — turning the approximate index
    from a rows-only row into a driver-value-checked one (the oracle
    states the bound holds; a recall regression flips the hash).

    The exact side is the broadcast-anchor cross join (the J3
    baseline); the IVF side probes 3 of 8 cells.  Both top-5 sets
    meet on (query, candidate) and the gate is one aggregate.
    """
    from insight_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        knn_topk,
        seeded_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_vec_id"), F.col("embedding").alias("c_embedding")
    )
    exact = knn_topk(queries, corpus, k=5).select("q_vec_id", "c_vec_id")
    cents = seeded_centroids(corpus, n_cells=8)
    approx = ivf_topk(
        queries, ivf_assign(corpus, cents), cents, k=5, n_probe=3
    ).select("q_vec_id", "c_vec_id")
    hits = exact.join(approx, ["q_vec_id", "c_vec_id"], "left_semi")
    # Anchor on the full query set: a query whose approx top-5 shares
    # NOTHING with the exact top-5 must count as recall 0, not silently
    # drop out of the average (which would inflate recall AND shrink
    # n_queries into an opaque hash mismatch).
    per_q = (
        queries.select("q_vec_id")
        .join(
            hits.groupBy("q_vec_id").agg(F.count("*").alias("n_hits")),
            "q_vec_id",
            "left",
        )
        .select((F.coalesce(F.col("n_hits"), F.lit(0)) / 5.0).alias("recall"))
    )
    return per_q.agg(
        (F.avg("recall") >= 0.6).alias("recall_ok"),
        F.count("*").cast("int").alias("n_queries"),
    )


@query(
    "ann_lsh_recall_gate",
    oracle="SELECT TRUE AS recall_ok, 10 AS n_queries",
)
def ann_lsh_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate for the LSH path (twin of ann_ivf_recall_gate):
    in-plan recall of hyperplane-LSH top-5 vs exact brute-force top-5,
    gate at mean recall ≥ 0.6 (8 independent 4-plane sign tables, the
    `ann_lsh_topk` index — a true neighbor is missed only if every
    table separates it from the query; measured 0.78 / 0.82 / 0.82 at
    sf0.001 / sf0.01 / sf0.1 on the near-random fixture embeddings).
    A bucketing regression that costs recall fails the oracle check."""
    from insight_spark.operators.similarity import (
        knn_topk,
        lsh_bucket_join,
        lsh_plane_signs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_vec_id"), F.col("embedding").alias("c_embedding")
    )
    exact = knn_topk(queries, corpus, k=5).select("q_vec_id", "c_vec_id")
    approx = lsh_bucket_join(
        queries, corpus, k=5, plane_signs=lsh_plane_signs(8, 4, 64)
    ).select("q_vec_id", "c_vec_id")
    hits = exact.join(approx, ["q_vec_id", "c_vec_id"], "left_semi")
    # Zero-hit queries anchored at recall 0 (see ann_ivf_recall_gate).
    per_q = (
        queries.select("q_vec_id")
        .join(
            hits.groupBy("q_vec_id").agg(F.count("*").alias("n_hits")),
            "q_vec_id",
            "left",
        )
        .select((F.coalesce(F.col("n_hits"), F.lit(0)) / 5.0).alias("recall"))
    )
    return per_q.agg(
        (F.avg("recall") >= 0.6).alias("recall_ok"),
        F.count("*").cast("int").alias("n_queries"),
    )


@query(
    "ann_pq_recall_gate",
    oracle="SELECT TRUE AS recall_ok, 10 AS n_queries",
)
def ann_pq_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate for the product-quantization path (third twin
    of ann_ivf_recall_gate / ann_lsh_recall_gate): in-plan recall of
    PQ-ADC shortlist-50 -> exact-rerank top-5 vs brute-force top-5,
    gated at mean recall >= 0.6 (measured 0.76 at sf0.01 / 0.90 at
    sf0.001 on the near-random fixture embeddings).

    PQ is the third leg of the production ANN stack: IVF prunes which
    vectors are scored, LSH buckets them, PQ shrinks what is *stored*
    — 8 code bytes replace 256 vector bytes here (64-dim float32), and
    at 1 B x 1024-dim the same 8-subspace encoding turns a 4 TB vector
    corpus into a ~8 GB memory-resident scan.  The ADC scan touches
    only the code ints; raw vectors are fetched for the bounded
    per-query shortlist re-rank only.  A codebook/encode/ADC
    regression flips the driver hash.
    """
    from insight_spark.operators.similarity import (
        knn_topk,
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_vec_id"),
        F.col("embedding").alias("c_embedding"),
    )
    exact = knn_topk(queries, corpus, k=5).select("q_vec_id", "c_vec_id")
    cb = pq_codebooks(corpus, n_subspaces=8, n_codes=16)
    approx = pq_adc_topk(
        queries, pq_encode(corpus, cb), cb, corpus, k=5, shortlist=50
    ).select("q_vec_id", "c_vec_id")
    hits = exact.join(approx, ["q_vec_id", "c_vec_id"], "left_semi")
    # Zero-hit queries anchored at recall 0 (see ann_ivf_recall_gate).
    per_q = (
        queries.select("q_vec_id")
        .join(
            hits.groupBy("q_vec_id").agg(F.count("*").alias("n_hits")),
            "q_vec_id",
            "left",
        )
        .select((F.coalesce(F.col("n_hits"), F.lit(0)) / 5.0).alias("recall"))
    )
    return per_q.agg(
        (F.avg("recall") >= 0.6).alias("recall_ok"),
        F.count("*").cast("int").alias("n_queries"),
    )


def _jl_signs(d: int = 64, k: int = 16) -> list[list[int]]:
    """Deterministic Achlioptas sign matrix: entry (i, j) from md5
    parity — reproducible in any engine, no RNG state."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"jl|{i}|{j}".encode()).digest()[0] % 2 == 0
            else -1
            for i in range(d)
        ]
        for j in range(k)
    ]


_JL_D, _JL_K = 64, 16
_JL = _jl_signs(_JL_D, _JL_K)


def _jl_oracle() -> str:
    proj = ",\n           ".join(
        "CAST(list_sum(list_transform(range(1, %d), i -> e[i] * ([%s])[i])) AS BIGINT) AS y%d"
        % (_JL_D + 1, ",".join(str(s) for s in _JL[j]), j)
        for j in range(_JL_K)
    )
    ynorm = " + ".join(f"y{j} * y{j}" for j in range(_JL_K))
    return f"""
    WITH emb AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS e
        FROM embeddings
    ),
    proj AS (
        SELECT vec_id,
               CAST(list_sum(list_transform(e, x -> x * x)) AS BIGINT)
                   AS xnorm2,
           {proj}
        FROM emb
    )
    SELECT vec_id,
           floor(y0 / sqrt({_JL_K}.0) + 0.5) / 1000000.0 AS p0,
           floor(y1 / sqrt({_JL_K}.0) + 0.5) / 1000000.0 AS p1,
           floor(({ynorm}) / ({_JL_K}.0 * xnorm2) * 1000000 + 0.5)
               / 1000000.0 AS norm_ratio
    FROM proj
    """


@query("random_projection_jl", oracle=_jl_oracle())
def random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection, 64 -> 16 dims — the
    dimensionality-reduction front end of the ANN stack (project, THEN
    index; distances survive within (1 +/- eps)).  The sign matrix is
    the sparse Achlioptas construction with md5-parity entries, so the
    "random" projection is a deterministic pure function both engines
    reproduce exactly.

    Per output dim, y_j = sum_i (+/- x_i) over micro-int coordinates —
    an exact BIGINT fold per ROW (a Project; zero shuffles, zero joins,
    the matrix is 1 KB of literals inlined into the expression tree).
    The emitted norm_ratio ||y||^2/(k*||x||^2) is the JL check itself:
    concentrated near 1, every value exact until the final ROUND.
    """
    from insight_spark.operators.clustering import quantize_micro

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", quantize_micro(F.col("embedding")).alias("e"))

    def fold(j: int):
        signs = F.array(*[F.lit(s) for s in _JL[j]])
        return F.aggregate(
            F.zip_with(F.col("e"), signs, lambda x, s: x * s),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    proj = e.select(
        "vec_id",
        F.aggregate(
            F.transform(F.col("e"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("xnorm2"),
        *[fold(j).alias(f"y{j}") for j in range(_JL_K)],
    )
    ynorm2 = None
    for j in range(_JL_K):
        term = F.col(f"y{j}") * F.col(f"y{j}")
        ynorm2 = term if ynorm2 is None else ynorm2 + term
    # floor-idiom micro-rounding, NOT ROUND: both engines round the
    # identical IEEE double identically (DuckDB's float ROUND drifts
    # 1 ulp from Spark's BigDecimal ROUND on ~1/500 values — observed).
    k = float(_JL_K)
    return proj.select(
        "vec_id",
        (
            F.floor(F.col("y0") / F.sqrt(F.lit(k)) + F.lit(0.5)) / 1000000.0
        ).alias("p0"),
        (
            F.floor(F.col("y1") / F.sqrt(F.lit(k)) + F.lit(0.5)) / 1000000.0
        ).alias("p1"),
        (
            F.floor(
                ynorm2 / (F.lit(k) * F.col("xnorm2")) * 1000000
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("norm_ratio"),
    )


_LR_D = 8


def _logreg_oracle() -> str:
    """Unrolled 2-epoch full-batch GD, mirroring the Spark loop
    integer-for-integer (micro-int features/weights, per-sample
    gradients floored to integers BEFORE the sum)."""
    rng = f"(SELECT unnest(range(1, {_LR_D + 1})) AS pos)"
    dot = f"list_sum(list_transform(range(1, {_LR_D + 1}), j -> w.w[j] * x[j]))"
    return f"""
    WITH emb8 AS (
        SELECT vec_id, label % 2 AS y,
               list_transform(list_slice(embedding, 1, {_LR_D}),
                   v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS x
        FROM embeddings
    ),
    n AS (SELECT COUNT(*) AS n FROM emb8),
    -- epoch 1: w0 = 0 -> z = 0, p = 0.5, err = 0.5 - y (exact halves)
    g1 AS (
        SELECT pos,
               SUM(CAST(floor((0.5 - y) * x[pos] + 0.5) AS BIGINT)) AS g
        FROM emb8 CROSS JOIN {rng} GROUP BY pos
    ),
    w1 AS (
        SELECT pos,
               CAST(-floor(CAST(g AS DOUBLE) / n.n + 0.5) AS BIGINT) AS wv
        FROM g1 CROSS JOIN n
    ),
    wl1 AS (SELECT list(wv ORDER BY pos) AS w FROM w1),
    -- epoch 2: z from w1 (micro*micro = 1e12 scale), sigmoid, floored grads
    s2 AS (
        SELECT e.vec_id, e.y, e.x,
               1.0 / (1.0 + exp(-(CAST({dot} AS DOUBLE) / 1e12))) AS p
        FROM emb8 e CROSS JOIN wl1 w
    ),
    g2 AS (
        SELECT pos,
               SUM(CAST(floor((p - y) * x[pos] + 0.5) AS BIGINT)) AS g
        FROM s2 CROSS JOIN {rng} GROUP BY pos
    ),
    w2 AS (
        SELECT w1.pos,
               w1.wv - CAST(floor(CAST(g2.g AS DOUBLE) / n.n + 0.5)
                            AS BIGINT) AS wv
        FROM w1 JOIN g2 USING (pos) CROSS JOIN n
    ),
    wl2 AS (SELECT list(wv ORDER BY pos) AS w FROM w2),
    acc AS (
        SELECT CAST(SUM(CASE WHEN ({dot} > 0) = (y = 1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               COUNT(*) AS n_total
        FROM emb8 CROSS JOIN wl2 w
    )
    SELECT CAST(w2.pos - 1 AS INTEGER) AS dim,
           CAST(w2.wv AS BIGINT) AS w_micro,
           acc.n_correct,
           CAST(acc.n_total AS BIGINT) AS n_total
    FROM w2 CROSS JOIN acc
    """


@query("logreg_gd_train", oracle=_logreg_oracle())
def logreg_gd_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic regression — 2 full-batch GD epochs on the
    first 8 embedding dims predicting label parity, the supervised
    sibling of ``kmeans_lloyd``'s unsupervised loop and the shape every
    quality-classifier trainer compiles to on Spark.

    Same training topology as MLlib's own LogisticRegression: weights
    are DRIVER-resident model state (d integers), inlined as literals
    into each epoch's gradient pass; the gradient is a map-side-combined
    d-row aggregate, so per epoch the cluster moves d numbers and the
    corpus never shuffles.  Exactness discipline: features and weights
    live in integer micro-units, each sample's per-dim gradient is
    floored to an integer BEFORE summation (order-independent), and the
    weight update divides once on the driver — the oracle replays both
    epochs integer-for-integer.  The only transcendental (sigmoid) is
    computed per-sample on identical doubles; its output feeds the
    floor quantizer, so a sub-ulp libm divergence cannot reach the
    sums.  The decision threshold p>0.5 is evaluated as dot>0 — an
    exact BIGINT comparison, so reported accuracy is float-free.
    """
    from insight_spark.operators.clustering import quantize_micro

    emb = load_table(spark, sf_dir, "embeddings")
    emb8 = emb.select(
        (F.col("label") % 2).alias("y"),
        quantize_micro(F.slice(F.col("embedding"), 1, _LR_D)).alias("x"),
    )
    n = emb8.count()  # bounded driver scalar, like lloyd's seed read
    w = [0] * _LR_D

    def z_col():
        terms = [F.lit(int(w[j])) * F.element_at("x", j + 1) for j in range(_LR_D)]
        z = terms[0]
        for t in terms[1:]:
            z = z + t
        return z

    for _ in range(2):
        if all(v == 0 for v in w):
            err = F.lit(0.5) - F.col("y")
        else:
            p = 1.0 / (1.0 + F.exp(-(z_col().cast("double") / F.lit(1e12))))
            err = p - F.col("y")
        g = (
            emb8.select(err.alias("err"), F.posexplode("x").alias("pos", "xv"))
            .select(
                "pos",
                F.floor(F.col("err") * F.col("xv") + F.lit(0.5))
                .cast("long")
                .alias("gi"),
            )
            .groupBy("pos")
            .agg(F.sum("gi").alias("g"))
            .collect()
        )
        import math

        for r in g:
            w[int(r["pos"])] -= int(math.floor(int(r["g"]) / n + 0.5))

    acc = emb8.agg(
        F.sum(((z_col() > 0) == (F.col("y") == 1)).cast("long")).alias(
            "n_correct"
        ),
        F.count("*").alias("n_total"),
    )
    dims = spark.range(_LR_D).select(
        F.col("id").cast("int").alias("dim"),
        F.element_at(
            F.array(*[F.lit(int(v)) for v in w]), F.col("id").cast("int") + 1
        )
        .cast("long")
        .alias("w_micro"),
    )
    return dims.crossJoin(F.broadcast(acc))


@query(
    "hybrid_search_rrf",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    lens AS (SELECT doc_id, len(l) AS dl FROM toks),
    stats AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM lens
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(l) AS token FROM toks)
        WHERE token IN ('key', 'order')
        GROUP BY doc_id, token
    ),
    dfreq AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df
        FROM (SELECT doc_id, unnest(list_distinct(l)) AS token FROM toks)
        WHERE token IN ('key', 'order')
        GROUP BY token
    ),
    bm25 AS (
        SELECT tf.doc_id,
               ROUND(CAST(SUM(CAST(
                   ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
                   * (CAST(tf AS DOUBLE) * 2.2)
                   / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
               AS DECIMAL(38,12))) AS DOUBLE), 6) AS bm25
        FROM tf
        JOIN dfreq USING (token)
        JOIN lens USING (doc_id)
        CROSS JOIN stats
        GROUP BY tf.doc_id
    ),
    trank AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rt
        FROM bm25 QUALIFY rt <= 20
    ),
    vq AS (
        SELECT {embedding_sql()} AS qe
        FROM embeddings WHERE vec_id = 0
    ),
    cos AS (
        SELECT vec_id,
               ROUND(list_cosine_similarity(
                   {embedding_sql()}, qe), 6)
                   AS cs
        FROM embeddings CROSS JOIN vq
        WHERE vec_id <> 0
    ),
    vrank AS (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY cs DESC, vec_id) AS rv
        FROM cos QUALIFY rv <= 20
    )
    SELECT COALESCE(t.doc_id, v.vec_id) AS doc_id,
           CAST(COALESCE(rt, 0) AS INTEGER) AS text_rank,
           CAST(COALESCE(rv, 0) AS INTEGER) AS vec_rank,
           ROUND(COALESCE(1.0 / (60 + rt), 0.0)
                 + COALESCE(1.0 / (60 + rv), 0.0), 9) AS rrf_score
    FROM trank t FULL OUTER JOIN vrank v ON t.doc_id = v.vec_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT 10
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search via reciprocal-rank fusion (M90) — the RAG-stack
    retrieval op: BM25 top-20 for query terms {key, order} fused with
    embedding-cosine top-20 against the vec_id=0 query vector, score
    1/(60+rank) summed per list (Cormack et al. 2009, k=60), top-10
    fused.  Absent-from-a-list contributes 0 and the rank column
    reports 0 (never a nullable int — pandas would promote it to
    float64 and break the driver's value hash).

    Both legs reuse proven idioms: BM25 is the bm25_search formula
    verbatim (exact DECIMAL(38,12) term accumulation, rank on the
    rounded score with id tie-break); the vector leg is the
    knn_cosine_topk shape with a single broadcast query row.  The RRF
    doubles are the same two-term expression evaluated identically on
    both engines — bit-equal, so the fused ordering agrees.

    Scale: each leg ends in a TakeOrderedAndProject (per-partition
    heaps, k·P driver merge — no global sort); the fusion join is
    20×20 rows.  At 100 TB the legs run against the inverted index
    (M78) and the ANN index (IVF/LSH/PQ) instead of full scans — the
    fusion stage is unchanged.
    """
    from insight_spark.operators.similarity import cosine
    from insight_spark.operators.text import bm25_scores
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    # each leg: TakeOrderedAndProject to k rows FIRST, then a global
    # row_number over the k-row result — the unpartitioned window is
    # bounded by the limit, never by corpus size
    t20 = (
        bm25_scores(docs, ["key", "order"])
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )
    trank = t20.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("rt"),
    )

    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding")
    )
    v20 = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("q_embedding")), 6)
            .alias("cs"),
        )
        .orderBy(F.desc("cs"), F.asc("vec_id"))
        .limit(20)
    )
    vrank = v20.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cs"), F.asc("vec_id")))
        .alias("rv"),
    )

    fused = trank.join(vrank, trank.doc_id == vrank.vec_id, "full_outer")
    return (
        fused.select(
            F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("doc_id"),
            F.coalesce(F.col("rt"), F.lit(0)).cast("int").alias("text_rank"),
            F.coalesce(F.col("rv"), F.lit(0)).cast("int").alias("vec_rank"),
            F.round(
                F.coalesce(1.0 / (F.lit(60) + F.col("rt")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(60) + F.col("rv")), F.lit(0.0)),
                9,
            ).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(10)
    )


#: MMR re-rank parameters (M128): candidate pool size (first-stage
#: retrieval depth), selected k, and the relevance/diversity trade-off.
_MMR_POOL = 20
_MMR_K = 10
_MMR_LAMBDA = 0.7


def _mmr_oracle_sql(pool: int = _MMR_POOL, k: int = _MMR_K) -> str:
    """DuckDB replay of the greedy MMR selection, UNROLLED: step i
    picks argmax(lambda*rel - (1-lambda)*max sim to selected) over the
    remaining pool with a vec_id tie-break — the same chained-CTE
    greedy-walk idiom as pack_token_budget's recursive oracle, but
    with a data-dependent argmax per step, which unrolling expresses
    and recursion cannot (no aggregates over the recursive table)."""
    lam, mu = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 6)
    steps = [
        f"""
    s1 AS (
        SELECT vec_id, rel, {lam} * rel AS score FROM pool
        ORDER BY score DESC, vec_id LIMIT 1
    ),
    sel1 AS MATERIALIZED (
        SELECT CAST(1 AS INTEGER) AS rank, vec_id, rel, score FROM s1
    )"""
    ]
    for i in range(2, k + 1):
        steps.append(
            f"""
    s{i} AS (
        SELECT p.vec_id, p.rel,
               {lam} * p.rel - {mu} * (
                   SELECT MAX(s.sim) FROM sims s
                   WHERE s.a_id = p.vec_id
                     AND s.b_id IN (SELECT vec_id FROM sel{i - 1})
               ) AS score
        FROM pool p
        WHERE p.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
        ORDER BY score DESC, p.vec_id LIMIT 1
    ),
    sel{i} AS MATERIALIZED (
        SELECT * FROM sel{i - 1} UNION ALL
        SELECT CAST({i} AS INTEGER), vec_id, rel, score FROM s{i}
    )"""
        )
    return f"""
    WITH q AS MATERIALIZED (
        SELECT {embedding_sql()} AS e
        FROM embeddings WHERE vec_id = 0
    ),
    c AS MATERIALIZED (
        SELECT vec_id, {embedding_sql()} AS e
        FROM embeddings WHERE vec_id <> 0
    ),
    scored AS (
        SELECT c.vec_id, c.e,
               ROUND(list_cosine_similarity(c.e, q.e), 6) AS rel
        FROM c, q
    ),
    pool AS MATERIALIZED (
        SELECT vec_id, e, rel FROM scored ORDER BY rel DESC, vec_id
        LIMIT {pool}
    ),
    sims AS MATERIALIZED (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               ROUND(list_cosine_similarity(a.e, b.e), 6) AS sim
        FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
    ),{",".join(steps)}
    SELECT rank, vec_id, rel, ROUND(score, 6) AS mmr_score FROM sel{k}
    """


@query("mmr_diverse_rerank", oracle=_mmr_oracle_sql())
def mmr_diverse_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diverse re-rank (M128): the
    redundancy-aware second stage of a retrieval pipeline — from the
    cosine top-{pool} pool for one query vector, greedily select k
    results maximizing lambda*relevance - (1-lambda)*max-similarity-
    to-already-selected, so near-duplicate hits don't crowd the page.

    Scale shape (the serving contract): relevance scoring is a
    map-only scan with the query vector broadcast as a literal; the
    pool is a TakeOrdered({pool}) head; pairwise pool similarities are
    an in-plan {pool}x{pool} bounded self-join (JVM cosine, the same
    expression the driver hash already pins against DuckDB's
    list_cosine_similarity); and the greedy walk runs driver-side
    over O(pool^2) floats — bounded model state, like the IVF
    centroid probe.  Nothing corpus-sized leaves the executors.

    All selection decisions compare doubles derived from
    6-dp-rounded rel/sim via the identical formula on both engines,
    with a vec_id tie-break — so the greedy argmax sequence is
    bit-reproducible and the oracle replays it exactly (unrolled
    chained-CTE greedy walk).
    """
    from insight_spark.operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    # bounded driver-side model state: the one query vector
    q_vec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    qcol = F.array(*[F.lit(x) for x in q_vec])
    pool_df = (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "embedding",
            F.round(cosine(qcol, F.col("embedding")), 6).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_POOL)
    )
    a = pool_df.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea"))
    b = pool_df.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("eb"))
    sims_df = a.join(b, F.col("a_id") != F.col("b_id")).select(
        "a_id",
        "b_id",
        F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("sim"),
    )
    # bounded collects: pool rows + pool^2 sims (serving model state)
    pool = sorted(
        (int(r["vec_id"]), float(r["rel"]))
        for r in pool_df.select("vec_id", "rel").collect()
    )
    sim = {
        (int(r["a_id"]), int(r["b_id"])): float(r["sim"])
        for r in sims_df.collect()
    }
    lam, mu = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 6)
    selected: list[tuple[int, int, float, float]] = []  # rank, id, rel, score
    chosen: set[int] = set()
    for rank in range(1, _MMR_K + 1):
        best = None
        for vid, rel in pool:
            if vid in chosen:
                continue
            penal = max((sim[(vid, s)] for s in chosen), default=None)
            score = lam * rel if penal is None else lam * rel - mu * penal
            if best is None or score > best[3]:
                best = (rank, vid, rel, score)
        selected.append(best)
        chosen.add(best[1])
    out = spark.createDataFrame(
        selected, "rank int, vec_id long, rel double, mmr_score double"
    )
    return out.select(
        "rank", "vec_id", "rel", F.round("mmr_score", 6).alias("mmr_score")
    )


@query(
    "int8_quantize_embeddings",
    oracle=f"""
    WITH e AS (
        SELECT vec_id,
               {embedding_sql()} AS v
        FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        FROM e
    ),
    coded AS (
        SELECT vec_id, v, scale,
               CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
                    ELSE list_transform(v, x -> round(x / scale)) END AS code
        FROM scaled
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           CAST(list_max(list_transform(code, c -> abs(c))) AS INTEGER)
               AS max_abs_code,
           CAST(list_sum(list_transform(range(1, len(v) + 1),
                i -> CAST(round((v[i] - code[i] * scale) * 1000000)
                          AS BIGINT)
                     * CAST(round((v[i] - code[i] * scale) * 1000000)
                           AS BIGINT))) AS BIGINT) AS sq_err_micro
    FROM coded
    """,
)
def int8_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 embedding quantization (M130): per-vector
    symmetric max-abs scale (``max|x| / 127``), codes
    ``round(x / scale)`` in [-127, 127] — the standard 4x storage
    compression a 100 TB vector store applies before anything touches
    disk, reported here with its exact reconstruction error.

    Everything is a map-only projection of JVM higher-order functions
    (transform / aggregate) — no shuffle, no Python: quantization
    happens at write bandwidth.  The error metric is the house
    micro-int discipline: per-element reconstruction residuals are
    quantized to 1e-6 units FIRST and the sum of squares runs in
    exact BIGINT arithmetic, so the driver hash pins the whole
    quantize→reconstruct round trip bit-for-bit (PQ's k-means
    codebooks can only be recall-gated; scalar quantization is fully
    value-oracled).
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    scale = (
        F.array_max(F.transform("v", lambda x: F.abs(x))) / F.lit(127.0)
    ).alias("scale")
    scaled = e.select("vec_id", "v", scale)
    code = F.when(
        F.col("scale") == 0, F.transform("v", lambda x: F.lit(0.0))
    ).otherwise(F.transform("v", lambda x: F.round(x / F.col("scale"), 0)))
    coded = scaled.withColumn("code", code)
    resid_micro = F.zip_with(
        "v",
        "code",
        lambda x, c: F.round((x - c * F.col("scale")) * 1000000, 0).cast(
            "long"
        ),
    )
    # NB: the error columns are computed BEFORE the projection that
    # re-aliases ``scale`` to its rounded display value — inside one
    # select list, Spark's lateral-column-alias resolution would bind
    # the aggregate's `scale` reference to the 6-dp alias, silently
    # quantizing with the rounded scale (caught by the oracle hash).
    final = coded.withColumn(
        "max_abs_code",
        F.array_max(F.transform("code", lambda c: F.abs(c))).cast("int"),
    ).withColumn(
        "sq_err_micro",
        F.aggregate(
            resid_micro, F.lit(0).cast("long"), lambda acc, m: acc + m * m
        ),
    )
    return final.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        "max_abs_code",
        "sq_err_micro",
    )


#: Margin-mining parameters (M133): neighborhood size for the margin
#: denominator and the CCMatrix-style acceptance threshold.
_MARGIN_K = 4
_MARGIN_THRESHOLD = 1.05


@query(
    "bitext_margin_mining",
    oracle=rf"""
    WITH src AS MATERIALIZED (
        SELECT vec_id, {embedding_sql()} AS e
        FROM embeddings WHERE label = 0
    ),
    tgt AS MATERIALIZED (
        SELECT vec_id, {embedding_sql()} AS e
        FROM embeddings WHERE label = 1
    ),
    pairs AS MATERIALIZED (
        SELECT s.vec_id AS s_id, t.vec_id AS t_id,
               ROUND(list_cosine_similarity(s.e, t.e), 6) AS cos_sim
        FROM src s CROSS JOIN tgt t
    ),
    ranked AS MATERIALIZED (
        SELECT *,
               CAST(ROUND(cos_sim * 1000000) AS BIGINT) AS cos_u,
               ROW_NUMBER() OVER (
                   PARTITION BY s_id ORDER BY cos_sim DESC, t_id) AS rs,
               ROW_NUMBER() OVER (
                   PARTITION BY t_id ORDER BY cos_sim DESC, s_id) AS rt
        FROM pairs
    ),
    ms AS (
        SELECT s_id, SUM(cos_u) AS su, COUNT(*) AS cs
        FROM ranked WHERE rs <= {_MARGIN_K} GROUP BY s_id
    ),
    mt AS (
        SELECT t_id, SUM(cos_u) AS tu, COUNT(*) AS ct
        FROM ranked WHERE rt <= {_MARGIN_K} GROUP BY t_id
    ),
    best AS (SELECT s_id, t_id, cos_sim FROM ranked WHERE rs = 1)
    SELECT b.s_id, b.t_id, b.cos_sim,
           ROUND(2.0 * b.cos_sim
                 / (ms.su / (ms.cs * 1000000.0)
                    + mt.tu / (mt.ct * 1000000.0)), 6) AS margin,
           ROUND(2.0 * b.cos_sim
                 / (ms.su / (ms.cs * 1000000.0)
                    + mt.tu / (mt.ct * 1000000.0)), 6)
               >= {_MARGIN_THRESHOLD} AS is_aligned
    FROM best b
    JOIN ms ON ms.s_id = b.s_id
    JOIN mt ON mt.t_id = b.t_id
    """,
)
def bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (M133, the CCMatrix / LASER
    construction): align a source-language corpus (label 0) to a
    target-language corpus (label 1) by COSINE MARGIN — each source's
    best target scored against the mean similarity of both sides'
    k-nearest neighborhoods, so globally "hubby" vectors don't win
    every alignment the way raw cosine lets them.

    margin(x, y) = 2·cos(x,y) / (mean_k cos(x,·) + mean_k cos(·,y));
    pairs with margin >= {_MARGIN_THRESHOLD} carry an ``is_aligned``
    verdict (kept for audit either way, the keep_all discipline).

    Scale shape: the all-pairs stage here is a broadcast nested loop
    over the two LABEL-FILTERED sides — at production scale the
    candidate set comes from the ANN stack (IVF cells / LSH buckets,
    exactly `ann_ivf_topk`'s layout) and the margin math is unchanged;
    neighborhood means ride the SAME pair table via two windows
    partitioned on data keys (s_id / t_id), and similarity micro-ints
    make every mean exact (longs, not float accumulation order).
    """
    from insight_spark.operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("s_id"), F.col("embedding").alias("s_e")
    )
    tgt = emb.filter(F.col("label") == 1).select(
        F.col("vec_id").alias("t_id"), F.col("embedding").alias("t_e")
    )
    pairs = src.crossJoin(F.broadcast(tgt)).select(
        "s_id",
        "t_id",
        F.round(cosine(F.col("s_e"), F.col("t_e")), 6).alias("cos_sim"),
    )
    return _margin_from_pairs(pairs)


def _margin_from_pairs(pairs: DataFrame) -> DataFrame:
    """Margin tail shared by M133 (exact all-pairs) and M133b (ANN
    candidates): rank the candidate pair table per side, take each
    side's top-{_MARGIN_K} neighborhood mean in exact micro-int units,
    and score each source's best target by the CCMatrix margin.  The
    candidate-generation stage is the ONLY thing the two variants
    differ in — proving the docstring claim that the margin math is
    independent of how candidates are produced."""
    from pyspark.sql.window import Window

    cos_u = F.round(F.col("cos_sim") * 1000000).cast("long")
    w_s = Window.partitionBy("s_id").orderBy(F.desc("cos_sim"), F.asc("t_id"))
    w_t = Window.partitionBy("t_id").orderBy(F.desc("cos_sim"), F.asc("s_id"))
    ranked = pairs.select(
        "s_id",
        "t_id",
        "cos_sim",
        cos_u.alias("cos_u"),
        F.row_number().over(w_s).alias("rs"),
        F.row_number().over(w_t).alias("rt"),
    )
    ms = (
        ranked.filter(F.col("rs") <= _MARGIN_K)
        .groupBy("s_id")
        .agg(F.sum("cos_u").alias("su"), F.count("*").alias("cs"))
    )
    mt = (
        ranked.filter(F.col("rt") <= _MARGIN_K)
        .groupBy("t_id")
        .agg(F.sum("cos_u").alias("tu"), F.count("*").alias("ct"))
    )
    best = ranked.filter(F.col("rs") == 1).select("s_id", "t_id", "cos_sim")
    denom = F.col("su") / (F.col("cs") * F.lit(1000000.0)) + F.col("tu") / (
        F.col("ct") * F.lit(1000000.0)
    )
    margin = F.round(F.lit(2.0) * F.col("cos_sim") / denom, 6)
    joined = best.join(ms, "s_id").join(mt, "t_id")
    return joined.select(
        "s_id",
        "t_id",
        "cos_sim",
        margin.alias("margin"),
        (margin >= _MARGIN_THRESHOLD).alias("is_aligned"),
    )


#: M133b ANN-candidate parameters: IVF cell count and per-source probe
#: fan-out (the ann_ivf_topk layout).
_BITEXT_CELLS = 8
_BITEXT_PROBE = 3

#: The margin tail as oracle SQL, shared textually by M133b (expects a
#: CTE named ``pairs`` with (s_id, t_id, cos_sim)).
_MARGIN_TAIL_SQL = f"""
    ranked AS MATERIALIZED (
        SELECT *,
               CAST(ROUND(cos_sim * 1000000) AS BIGINT) AS cos_u,
               ROW_NUMBER() OVER (
                   PARTITION BY s_id ORDER BY cos_sim DESC, t_id) AS rs,
               ROW_NUMBER() OVER (
                   PARTITION BY t_id ORDER BY cos_sim DESC, s_id) AS rt
        FROM pairs
    ),
    ms AS (
        SELECT s_id, SUM(cos_u) AS su, COUNT(*) AS cs
        FROM ranked WHERE rs <= {_MARGIN_K} GROUP BY s_id
    ),
    mt AS (
        SELECT t_id, SUM(cos_u) AS tu, COUNT(*) AS ct
        FROM ranked WHERE rt <= {_MARGIN_K} GROUP BY t_id
    ),
    best AS (SELECT s_id, t_id, cos_sim FROM ranked WHERE rs = 1)
    SELECT b.s_id, b.t_id, b.cos_sim,
           ROUND(2.0 * b.cos_sim
                 / (ms.su / (ms.cs * 1000000.0)
                    + mt.tu / (mt.ct * 1000000.0)), 6) AS margin,
           ROUND(2.0 * b.cos_sim
                 / (ms.su / (ms.cs * 1000000.0)
                    + mt.tu / (mt.ct * 1000000.0)), 6)
               >= {_MARGIN_THRESHOLD} AS is_aligned
    FROM best b
    JOIN ms ON ms.s_id = b.s_id
    JOIN mt ON mt.t_id = b.t_id
"""


@query(
    "bitext_margin_mining_ann",
    oracle=rf"""
    WITH tgtc AS MATERIALIZED (
        SELECT vec_id AS t_id,
               {embedding_sql()} AS e
        FROM embeddings WHERE label = 1
    ),
    {ivf_cells_ctes('tgtc', 't_id', _BITEXT_CELLS)},
    srcq AS MATERIALIZED (
        SELECT vec_id AS s_id,
               {embedding_sql()} AS e
        FROM embeddings WHERE label = 0
    ),
    probes AS MATERIALIZED (
        SELECT s_id, e, cell_id FROM (
            SELECT srcq.s_id, srcq.e, cents.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY srcq.s_id
                       ORDER BY list_distance(srcq.e, cents.centroid),
                                cents.cell_id) AS rn
            FROM srcq CROSS JOIN cents
        ) WHERE rn <= {_BITEXT_PROBE}
    ),
    pairs AS MATERIALIZED (
        SELECT p.s_id, a.t_id,
               ROUND(list_cosine_similarity(p.e, a.e), 6) AS cos_sim
        FROM probes p JOIN assigned a USING (cell_id)
    ),
    {_MARGIN_TAIL_SQL}
    """,
)
def bitext_margin_mining_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining over ANN CANDIDATES (M133b) — the
    PRODUCTION shape of `bitext_margin_mining`, landed so the scale
    claim in M133's docstring is driver-hash-proven rather than
    claimed (VERDICT r7 task 2).

    Candidate generation is the IVF cell layout from `ann_ivf_topk`:
    the target corpus is coarse-quantized into {_BITEXT_CELLS} cells
    (deterministic seeded centroids; a pure per-row projection — no
    join, no shuffle), each SOURCE row probes its {_BITEXT_PROBE}
    nearest cells via the inlined quantizer (again a projection), and
    candidates come from an equi-JOIN on cell_id.  Margin math is the
    identical `_margin_from_pairs` tail both variants share —
    neighborhoods are computed within the ANN candidate set, exactly
    as production margin miners (CCMatrix) do over FAISS candidates.

    Scale shape vs M133: the pair table shrinks from |S|·|T| (a
    broadcast nested loop — fixture-scale only) to
    |S|·n_probe·|T|/K ≈ |S|·√|T| rows produced by a shuffle equi-join
    on cell_id — both sides partition by the cell key, no broadcast of
    a corpus-sized side, no cartesian anywhere
    (tests/test_plans.py::test_bitext_ann_no_cartesian asserts the
    physical plan).  At 1 B vectors with trained K≈√N centroids this
    is the same candidate volume bound as `ann_ivf_topk`.
    """
    from insight_spark.operators.similarity import (
        _centroid_scores,
        cosine,
        ivf_assign,
        seeded_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("s_id"), F.col("embedding").alias("s_e")
    )
    tgt = emb.filter(F.col("label") == 1).select(
        F.col("vec_id").alias("c_vec_id"), F.col("embedding").alias("c_embedding")
    )
    cents = seeded_centroids(tgt, n_cells=_BITEXT_CELLS)
    indexed = ivf_assign(tgt, cents)
    probe = F.slice(
        F.array_sort(_centroid_scores(cents, "s_e")), 1, _BITEXT_PROBE
    )
    probes = src.select(
        "s_id",
        "s_e",
        F.explode(F.transform(probe, lambda s: s["cell_id"])).alias("cell_id"),
    )
    pairs = probes.join(indexed, "cell_id").select(
        "s_id",
        F.col("c_vec_id").alias("t_id"),
        F.round(cosine(F.col("s_e"), F.col("c_embedding")), 6).alias("cos_sim"),
    )
    return _margin_from_pairs(pairs)


#: Integer micro-unit DCG weights for ranks 1..10 (M137): round half-up
#: of 1e6 / log2(rank + 1), computed ONCE in Python and embedded as
#: literals on BOTH engine sides — log2 never runs inside either
#: engine, so there is no libm 1-ulp divergence in the hashed path.
import math as _math

_NDCG_K = 10
_DCG_W_MICRO = [
    int(_math.floor(1000000.0 / _math.log2(r + 1) + 0.5))
    for r in range(1, _NDCG_K + 1)
]
_IDCG_PREFIX = [0]
for _w in _DCG_W_MICRO:
    _IDCG_PREFIX.append(_IDCG_PREFIX[-1] + _w)


@query(
    "retrieval_eval_metrics",
    oracle=rf"""
    WITH q AS (
        SELECT vec_id AS q_id, label AS q_label,
               {embedding_sql()} AS e
        FROM embeddings WHERE vec_id < 10
    ),
    c AS (
        SELECT vec_id AS c_id, label AS c_label,
               {embedding_sql()} AS e
        FROM embeddings
    ),
    ranked AS (
        SELECT q_id, q_label, c_id, c_label,
               ROW_NUMBER() OVER (
                   PARTITION BY q_id
                   ORDER BY ROUND(list_cosine_similarity(c.e, q.e), 6) DESC,
                            c_id) AS rank
        FROM c JOIN q ON c_id <> q_id
    ),
    hits AS (
        SELECT q_id,
               rank,
               CASE WHEN c_label = q_label THEN 1 ELSE 0 END AS rel
        FROM ranked WHERE rank <= {_NDCG_K}
    ),
    per_q AS (
        SELECT q_id,
               MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel_rank,
               CAST(SUM(rel) AS BIGINT) AS n_rel,
               CAST(SUM(rel * ([{", ".join(str(w) for w in _DCG_W_MICRO)}])[rank])
                    AS BIGINT) AS dcg_micro
        FROM hits GROUP BY q_id
    )
    SELECT q_id,
           CAST(COALESCE(first_rel_rank, 0) AS INTEGER) AS first_rel_rank,
           CAST(CASE WHEN first_rel_rank IS NULL THEN 0
                     ELSE (2000000 + first_rel_rank) // (2 * first_rel_rank)
                END AS BIGINT) AS mrr_micro,
           n_rel,
           dcg_micro,
           CAST(([{", ".join(str(p) for p in _IDCG_PREFIX)}])[n_rel + 1]
                AS BIGINT) AS idcg_micro,
           CASE WHEN n_rel = 0 THEN 0.0
                ELSE CAST(dcg_micro AS DOUBLE)
                     / ([{", ".join(str(p) for p in _IDCG_PREFIX)}])[n_rel + 1]
           END AS ndcg
    FROM per_q
    """,
)
def retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed IR evaluation (M137): MRR and nDCG@10 for the exact
    cosine top-10 of each of 10 query vectors, with binary relevance =
    same cluster label — the eval harness every retrieval stack runs
    after each index build, expressed so the whole metric pipeline is
    hash-checkable.

    Float discipline (the interesting part): DCG's 1/log2(rank+1)
    weights are INTEGER micro-units precomputed in Python and embedded
    as literals on both engine sides — no engine ever evaluates log2,
    so there is no libm divergence; per-query DCG/IDCG are exact
    BIGINT sums of those weights, MRR is the exact rational
    (2e6 + r) div (2r), and the only double in the output (ndcg) is
    ONE bit-equal division of two integers.  Scale shape: scoring is
    the knn broadcast pattern (10 query vectors against the corpus,
    map-side), ranking windows partition per query, everything after
    is |queries|-sized.
    """
    from insight_spark.operators.similarity import cosine
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_e"),
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_e"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    ranked = (
        c.join(F.broadcast(q), F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "q_label",
            "c_id",
            "c_label",
            F.round(cosine(F.col("c_e"), F.col("q_e")), 6).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _NDCG_K)
    )
    rel = (F.col("c_label") == F.col("q_label")).cast("int")
    w_arr = F.array(*[F.lit(v) for v in _DCG_W_MICRO])
    idcg_arr = F.array(*[F.lit(v) for v in _IDCG_PREFIX])
    hits = ranked.select(
        "q_id",
        "rank",
        rel.alias("rel"),
        (rel * F.element_at(w_arr, F.col("rank"))).alias("_w"),
    )
    per_q = hits.groupBy("q_id").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("_frr"),
        F.sum("rel").cast("long").alias("n_rel"),
        F.sum("_w").cast("long").alias("dcg_micro"),
    )
    idcg = F.element_at(idcg_arr, (F.col("n_rel") + 1).cast("int")).cast(
        "long"
    )
    return per_q.select(
        "q_id",
        F.coalesce("_frr", F.lit(0)).cast("int").alias("first_rel_rank"),
        F.when(F.col("_frr").isNull(), F.lit(0).cast("long"))
        .otherwise(
            F.expr("(2000000 + _frr) div (2 * _frr)").cast("long")
        )
        .alias("mrr_micro"),
        "n_rel",
        "dcg_micro",
        idcg.alias("idcg_micro"),
        F.when(F.col("n_rel") == 0, F.lit(0.0))
        .otherwise(F.col("dcg_micro").cast("double") / idcg)
        .alias("ndcg"),
    )


@query(
    "ann_recall_eval",
    oracle=f"""
    WITH c AS MATERIALIZED (
        SELECT vec_id AS c_id,
               {embedding_sql()} AS e
        FROM embeddings
    ),
    q AS MATERIALIZED (SELECT c_id AS q_id, e FROM c WHERE c_id < 10),
    exact AS (
        SELECT q_id, c_id FROM (
            SELECT q.q_id, c.c_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY ROUND(list_cosine_similarity(q.e, c.e), 6)
                                    DESC,
                                c.c_id) AS rn
            FROM q CROSS JOIN c
        ) WHERE rn <= 5
    ),
    {ivf_cells_ctes('c', 'c_id', 8)},
    probes AS (
        SELECT q_id, e, cell_id FROM (
            SELECT q.q_id, q.e, cents.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY list_distance(q.e, cents.centroid),
                                cents.cell_id) AS rn
            FROM q CROSS JOIN cents
        ) WHERE rn <= 3
    ),
    approx AS (
        SELECT q_id, c_id FROM (
            SELECT p.q_id, a.c_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.q_id
                       ORDER BY ROUND(list_cosine_similarity(p.e, a.e), 6)
                                    DESC,
                                a.c_id) AS rn
            FROM probes p JOIN assigned a USING (cell_id)
        ) WHERE rn <= 5
    )
    SELECT q.q_id AS q_vec_id,
           CAST(COALESCE(h.n_hits, 0) AS INTEGER) AS n_hits,
           ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 5, 6) AS recall
    FROM q
    LEFT JOIN (
        SELECT e.q_id, COUNT(*) AS n_hits
        FROM exact e JOIN approx a USING (q_id, c_id)
        GROUP BY e.q_id
    ) h USING (q_id)
    """,
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query ANN recall EVAL report (M149): the standing recall
    GATE (``ann_ivf_recall_gate``, a single boolean row) made a
    one-shot per-query evaluation — for each of the 10 eval queries,
    how many of the exact brute-force top-5 the IVF(8 cells, 3-probe)
    index returned, and the recall fraction.  This is the table an
    index-tuning sweep reads (which queries lose neighbors → which
    cells are under-probed), where the gate only answers pass/fail.

    FULLY value-oracled — unlike the gate's TRUE/count bound oracle,
    the DuckDB side replays the whole IVF pipeline bit-identically
    (seeded centroids = first 8 vectors by id, argmin assignment with
    cell-id tie-break, 3-probe candidate join, rounded-cosine rank
    with id tie-break — the ``bitext_margin_mining_ann`` replay
    pattern over the full corpus), so a regression anywhere in
    assign/probe/rank flips the driver hash, not just a threshold.

    Zero-hit queries are anchored at recall 0 via the left join (the
    gate's anchoring rule).  Scale: the eval query set is bounded by
    design, so the exact side's broadcast-anchor cross join costs
    |eval|·N — the standard offline recall-eval job; the IVF side is
    the production cell-pruned equi-join.
    """
    from insight_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        knn_topk,
        seeded_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_vec_id"),
        F.col("embedding").alias("c_embedding"),
    )
    exact = knn_topk(queries, corpus, k=5).select("q_vec_id", "c_vec_id")
    cents = seeded_centroids(corpus, n_cells=8)
    approx = ivf_topk(
        queries, ivf_assign(corpus, cents), cents, k=5, n_probe=3
    ).select("q_vec_id", "c_vec_id")
    hits = exact.join(approx, ["q_vec_id", "c_vec_id"], "left_semi")
    counts = hits.groupBy("q_vec_id").agg(F.count("*").alias("n_hits"))
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0))
    return (
        queries.select("q_vec_id")
        .join(counts, "q_vec_id", "left")
        .select(
            "q_vec_id",
            n_hits.cast("int").alias("n_hits"),
            F.round(n_hits.cast("double") / 5, 6).alias("recall"),
        )
    )


@query(
    "ivf_cell_load_audit",
    oracle=f"""
    WITH c AS MATERIALIZED (
        SELECT vec_id AS c_id,
               {embedding_sql()} AS e
        FROM embeddings
    ),
    q AS MATERIALIZED (SELECT c_id AS q_id, e FROM c WHERE c_id < 10),
    {ivf_cells_ctes('c', 'c_id', 8)},
    probes AS (
        SELECT q_id, cell_id FROM (
            SELECT q.q_id, cents.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY list_distance(q.e, cents.centroid),
                                cents.cell_id) AS rn
            FROM q CROSS JOIN cents
        ) WHERE rn <= 3
    ),
    loads AS (
        SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n_vectors
        FROM assigned GROUP BY cell_id
    ),
    pr AS (
        SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n_probes
        FROM probes GROUP BY cell_id
    )
    SELECT loads.cell_id, loads.n_vectors,
           CAST(COALESCE(pr.n_probes, 0) AS BIGINT) AS n_probes,
           CAST(loads.n_vectors * COALESCE(pr.n_probes, 0) AS BIGINT)
               AS scanned_pairs
    FROM loads LEFT JOIN pr USING (cell_id)
    """,
)
def ivf_cell_load_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-load audit (M151) — the ANN twin of the LSH band-load
    audit (M146): per cell, how many vectors the coarse quantizer
    assigned (``n_vectors``), how many eval-query probes hit it
    (``n_probes``), and the resulting exact-scan volume
    ``scanned_pairs = n_vectors · n_probes`` — the cost model of every
    IVF query (Σ scanned_pairs IS the candidate count ``ann_ivf_topk``
    ranks).  A skewed cell here is the ANN equivalent of a shuffle
    hot key: queries probing it pay its whole load, and the fix
    (re-train centroids / split the cell) happens BEFORE serving, which
    is why this audit exists as its own one-shot query.

    Scale: assignment is the per-row inlined-quantizer projection (no
    join, no shuffle — tests/test_plans.py::test_ivf_assign_no_exchange_no_join); both loads are
    map-side-combined aggregates on ≤K keys; the audit join is
    K-sized.  Fully value-oracled via the M133b/M149 DuckDB IVF replay.
    """
    from insight_spark.operators.similarity import (
        _centroid_scores,
        ivf_assign,
        seeded_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("c_vec_id"),
        F.col("embedding").alias("c_embedding"),
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
    )
    cents = seeded_centroids(corpus, n_cells=8)
    loads = (
        ivf_assign(corpus, cents)
        .groupBy("cell_id")
        .agg(F.count("*").alias("n_vectors"))
    )
    probe = F.slice(
        F.array_sort(_centroid_scores(cents, "q_embedding")), 1, 3
    )
    pr = (
        queries.select(
            F.explode(
                F.transform(probe, lambda s: s["cell_id"])
            ).alias("cell_id")
        )
        .groupBy("cell_id")
        .agg(F.count("*").alias("n_probes"))
    )
    n_probes = F.coalesce(F.col("n_probes"), F.lit(0))
    return loads.join(pr, "cell_id", "left").select(
        "cell_id",
        "n_vectors",
        n_probes.alias("n_probes"),
        (F.col("n_vectors") * n_probes).alias("scanned_pairs"),
    )


@query(
    "ann_pq_recall_eval",
    oracle=f"""
    WITH c AS MATERIALIZED (
        SELECT vec_id AS c_id,
               {embedding_sql()} AS v
        FROM embeddings
    ),
    q AS MATERIALIZED (SELECT c_id AS q_id, v FROM c WHERE c_id < 10),
    cb AS MATERIALIZED (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY c_id) - 1 AS INTEGER) AS j,
               v
        FROM (SELECT * FROM c ORDER BY c_id LIMIT 16)
    ),
    cbl AS MATERIALIZED (SELECT list(v ORDER BY j) AS cvs FROM cb),
    subs AS (SELECT CAST(range AS INTEGER) AS s FROM range(0, 8)),
    enc AS MATERIALIZED (
        SELECT c_id, s, j AS code FROM (
            SELECT c.c_id, subs.s, cb.j,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.c_id, subs.s
                       ORDER BY list_sum(list_transform(range(1, 9),
                           i -> (c.v[subs.s * 8 + i] - cb.v[subs.s * 8 + i])
                              * (c.v[subs.s * 8 + i] - cb.v[subs.s * 8 + i]))),
                                cb.j) AS rn
            FROM c CROSS JOIN subs CROSS JOIN cb
        ) WHERE rn = 1
    ),
    encv AS MATERIALIZED (
        SELECT c_id, list(code ORDER BY s) AS codes FROM enc GROUP BY c_id
    ),
    short AS (
        SELECT q_id, c_id FROM (
            SELECT q.q_id, e.c_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY ROUND(list_sum(list_transform(range(0, 8),
                           s -> list_sum(list_transform(range(1, 9),
                               i -> (q.v[s * 8 + i]
                                     - cbl.cvs[e.codes[s + 1] + 1][s * 8 + i])
                                  * (q.v[s * 8 + i]
                                     - cbl.cvs[e.codes[s + 1] + 1][s * 8 + i])
                           )))), 6) ASC,
                                e.c_id) AS rn
            FROM q CROSS JOIN encv e CROSS JOIN cbl
        ) WHERE rn <= 50
    ),
    approx AS (
        SELECT q_id, c_id FROM (
            SELECT short.q_id, short.c_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY short.q_id
                       ORDER BY ROUND(list_cosine_similarity(qv.v, cv.v), 6)
                                    DESC,
                                short.c_id) AS rn
            FROM short
            JOIN c qv ON qv.c_id = short.q_id
            JOIN c cv ON cv.c_id = short.c_id
        ) WHERE rn <= 5
    ),
    exact AS (
        SELECT q_id, c_id FROM (
            SELECT q.q_id, c.c_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY ROUND(list_cosine_similarity(q.v, c.v), 6)
                                    DESC,
                                c.c_id) AS rn
            FROM q CROSS JOIN c
        ) WHERE rn <= 5
    )
    SELECT q.q_id AS q_vec_id,
           CAST(COALESCE(h.n_hits, 0) AS INTEGER) AS n_hits,
           ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 5, 6) AS recall
    FROM q
    LEFT JOIN (
        SELECT e.q_id, COUNT(*) AS n_hits
        FROM exact e JOIN approx a ON a.q_id = e.q_id AND a.c_id = e.c_id
        GROUP BY e.q_id
    ) h ON h.q_id = q.q_id
    """,
)
def ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query PQ recall eval (M157) — the third and final leg of the
    ANN eval suite (M149 IVF, M155 LSH): for each of the 10 eval
    queries, how many of the exact top-5 the PQ pipeline (8 subspaces x
    16 codes, ADC shortlist-50, exact re-rank) returned.  Upgrades the
    last bound-oracle ANN gate (`ann_pq_recall_gate`'s TRUE row) to a
    fully value-hash-checked report: the DuckDB side replays the seeded
    codebooks (first 16 vectors by id, subspace slices), per-subspace
    argmin encoding with code-id tie-break, the rounded ADC shortlist
    rank, and the rounded-cosine re-rank — a regression in encode /
    ADC / shortlist width / re-rank flips the driver hash, and the
    per-query rows localize it.

    Float-parity note: every distance is an in-order sum of doubles on
    both sides (Spark's sequential fold == DuckDB list_sum over the
    ordered range list; products written as x·x, never pow), ranked
    only after 6-digit rounding with id tie-breaks — the established
    rank-on-rounded-score discipline.

    Scale: the eval set is bounded, so the exact side and the ADC scan
    cost |eval|·N with the scan touching only code ints (the PQ
    storage win); encode is the per-row inlined-codebook projection.
    """
    from insight_spark.operators.similarity import (
        knn_topk,
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_vec_id"),
        F.col("embedding").alias("c_embedding"),
    )
    exact = knn_topk(queries, corpus, k=5).select("q_vec_id", "c_vec_id")
    cbs = pq_codebooks(corpus, n_subspaces=8, n_codes=16)
    approx = pq_adc_topk(
        queries, pq_encode(corpus, cbs), cbs, corpus, k=5, shortlist=50
    ).select("q_vec_id", "c_vec_id")
    hits = exact.join(approx, ["q_vec_id", "c_vec_id"], "left_semi")
    counts = hits.groupBy("q_vec_id").agg(F.count("*").alias("n_hits"))
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0))
    return (
        queries.select("q_vec_id")
        .join(counts, "q_vec_id", "left")
        .select(
            "q_vec_id",
            n_hits.cast("int").alias("n_hits"),
            F.round(n_hits.cast("double") / 5, 6).alias("recall"),
        )
    )


@query(
    "class_centroid_outliers",
    oracle="""
    WITH q AS MATERIALIZED (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS e
        FROM embeddings
    ),
    dims AS (
        SELECT label, d, CAST(SUM(e[d]) AS BIGINT) AS s
        FROM q CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS d)
        GROUP BY label, d
    ),
    cent AS (SELECT label, list(s ORDER BY d) AS sv FROM dims GROUP BY label),
    cnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY label),
    scored AS (
        SELECT q.label, cnt.n,
               list_sum(list_transform(range(1, 65),
                   d -> CAST(cnt.n * q.e[d] - cent.sv[d] AS HUGEINT)
                      * CAST(cnt.n * q.e[d] - cent.sv[d] AS HUGEINT)))
                   AS dist2
        FROM q JOIN cent USING (label) JOIN cnt USING (label)
    ),
    windowed AS (
        SELECT label, n, dist2,
               SUM(dist2) OVER (PARTITION BY label) AS cls_sum
        FROM scored
    )
    SELECT label,
           CAST(MAX(n) AS BIGINT) AS n_items,
           CAST(COUNT(*) FILTER (WHERE n * dist2 > 4 * cls_sum)
                AS BIGINT) AS n_outliers,
           CAST(MAX(n) * MAX(dist2) AS DOUBLE) / CAST(SUM(dist2) AS DOUBLE)
               AS worst_over_mean
    FROM windowed GROUP BY label
    """,
)
def class_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-centroid outlier audit (M161) — the embedding-space
    mislabeled-data detector (data-centric AI's cleanlab-style gate):
    per label class, how many members sit anomalously far from their
    class centroid (squared L2 > 4x the class mean), plus how extreme
    the worst offender is relative to the class mean.  High outlier
    counts per class are the "relabel or drop before training" signal.

    Exactness: with micro-int coordinates x and per-class dim sums S,
    the n^2-scaled squared distance sum_d (n*x_d - S_d)^2 is EXACT
    integer arithmetic (the centroid never materializes as a float),
    and the flag n*dist2 > 4*sum(dist2) is the cross-multiplied form
    of dist2 > 4*mean — no division, no float in the flag.  Spark
    accumulates in DECIMAL(38,0), DuckDB in HUGEINT; the hashed
    outputs are exact BIGINTs plus worst_over_mean = n*max/sum — a
    single IEEE division of exact integers (no DecimalType leaves the
    query, per the schema-discipline guard).

    Scale: per-dim class sums are ONE map-side-combined aggregate over
    the posexploded coords (|classes| x dims rows of model state,
    broadcast back); scoring is a map-only zip_with fold; the verdict
    a |classes|-keyed aggregate.  Nothing shuffles the corpus twice.
    """
    from insight_spark.operators.clustering import quantize_micro

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", "label", quantize_micro(F.col("embedding")).alias("e")
    )
    dims = (
        q.select("label", F.posexplode("e").alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.sum("x").alias("s"))
    )
    cent = dims.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "s"))),
            lambda t: t["s"],
        ).alias("sv")
    )
    cnt = q.groupBy("label").agg(F.count("*").alias("n"))
    model = F.broadcast(cent.join(cnt, "label"))
    dec = "decimal(38,0)"
    scored = q.join(model, "label").select(
        "label",
        "n",
        F.aggregate(
            F.zip_with(
                "e",
                "sv",
                lambda x, sd: (F.col("n") * x - sd).cast(dec)
                * (F.col("n") * x - sd).cast(dec),
            ),
            F.lit(0).cast(dec),
            lambda acc, v: acc + v,
        ).alias("dist2"),
    )
    w_cls = Window.partitionBy("label")
    flagged = scored.withColumn(
        "is_out",
        F.col("n").cast(dec) * F.col("dist2")
        > 4 * F.sum("dist2").over(w_cls),
    )
    return flagged.groupBy("label").agg(
        F.max("n").alias("n_items"),
        F.count_if(F.col("is_out")).alias("n_outliers"),
        (
            (F.max("n") * F.max("dist2")).cast("double")
            / F.sum("dist2").cast("double")
        ).alias("worst_over_mean"),
    )


@query(
    "matryoshka_dim_recall_eval",
    oracle=f"""
    WITH c AS MATERIALIZED (
        SELECT vec_id AS c_id,
               {embedding_sql()} AS v
        FROM embeddings
    ),
    q AS MATERIALIZED (SELECT c_id AS q_id, v FROM c WHERE c_id < 10),
    dims AS (SELECT CAST(unnest([16, 32, 64]) AS INTEGER) AS dim),
    exact AS (
        SELECT q_id, c_id FROM (
            SELECT q.q_id, c.c_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY ROUND(list_cosine_similarity(q.v, c.v), 6)
                                    DESC,
                                c.c_id) AS rn
            FROM q CROSS JOIN c
        ) WHERE rn <= 5
    ),
    approx AS (
        SELECT dim, q_id, c_id FROM (
            SELECT d.dim, q.q_id, c.c_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.dim, q.q_id
                       ORDER BY ROUND(list_cosine_similarity(
                                    q.v[1:d.dim], c.v[1:d.dim]), 6) DESC,
                                c.c_id) AS rn
            FROM q CROSS JOIN c CROSS JOIN dims d
        ) WHERE rn <= 5
    )
    SELECT q.q_id AS q_vec_id, d.dim,
           CAST(COALESCE(h.n, 0) AS INTEGER) AS n_hits,
           ROUND(CAST(COALESCE(h.n, 0) AS DOUBLE) / 5, 6) AS recall
    FROM q CROSS JOIN dims d
    LEFT JOIN (
        SELECT a.dim, a.q_id, COUNT(*) AS n
        FROM approx a
        JOIN exact e ON e.q_id = a.q_id AND e.c_id = a.c_id
        GROUP BY a.dim, a.q_id
    ) h ON h.q_id = q.q_id AND h.dim = d.dim
    """,
)
def matryoshka_dim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation recall eval (M163): per eval query and
    serving dimension d in {16, 32, 64}, how many of the full-dim
    exact top-5 a prefix-truncated cosine search returns — the
    dimension-vs-recall trade table read before picking an MRL
    embedding's serving width (truncating to a prefix cuts index
    memory and ADC/scan cost linearly; this is the recall price).
    The d=64 leg equals the ground truth (recall 1.0 by construction)
    and anchors the report.

    Parity: both engines rank on 6-digit-rounded cosine over the SAME
    prefix slice (F.slice / list v[1:d]) with id tie-breaks — the
    established rank-on-rounded-score discipline of the ANN eval suite
    (M149/M155/M157).

    Scale: the eval set is bounded (broadcast), so each leg is a
    map-side |eval|x|corpus| scan over corpus partitions — no corpus
    shuffle; legs union to |eval|x|dims| output rows.  A production
    variant slices once into a short column and reuses the ANN index
    path; the eval's exact scan is the measurement instrument, not
    the serving plan.
    """
    from insight_spark.operators.similarity import knn_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_vec_id"),
        F.col("embedding").alias("c_embedding"),
    )
    exact = knn_topk(qs, corpus, k=5).select("q_vec_id", "c_vec_id")
    legs = []
    for d in (16, 32, 64):
        qd = qs.select(
            "q_vec_id", F.slice("q_embedding", 1, d).alias("q_embedding")
        )
        cd = corpus.select(
            "c_vec_id", F.slice("c_embedding", 1, d).alias("c_embedding")
        )
        legs.append(
            knn_topk(qd, cd, k=5).select(
                F.lit(d).alias("dim"), "q_vec_id", "c_vec_id"
            )
        )
    approx = legs[0].unionByName(legs[1]).unionByName(legs[2])
    hits = (
        approx.join(exact, ["q_vec_id", "c_vec_id"], "left_semi")
        .groupBy("dim", "q_vec_id")
        .agg(F.count("*").alias("n"))
    )
    grid = qs.select("q_vec_id").crossJoin(
        spark.range(3).select(
            (16 * F.pow(F.lit(2), F.col("id")))
            .cast("int")
            .alias("dim")
        )
    )
    n = F.coalesce(F.col("n"), F.lit(0))
    return grid.join(hits, ["dim", "q_vec_id"], "left").select(
        "q_vec_id",
        "dim",
        n.cast("int").alias("n_hits"),
        F.round(n.cast("double") / 5, 6).alias("recall"),
    )


@query(
    "late_interaction_maxsim",
    oracle="""
    WITH sl AS MATERIALIZED (
        SELECT vec_id AS c_id,
               list_transform(range(0, 8), s ->
                   list_transform(range(1, 9), k ->
                       CAST(embedding[s * 8 + k] AS DOUBLE))) AS sl
        FROM embeddings
    ),
    n AS MATERIALIZED (
        SELECT c_id, sl,
               list_transform(sl, v -> sqrt(list_sum(
                   list_transform(range(1, 9), k -> v[k] * v[k])))) AS nn
        FROM sl
    ),
    q AS (SELECT c_id AS q_id, sl AS qsl, nn AS qnn FROM n
          WHERE c_id < 5),
    scored AS (
        SELECT q.q_id, n.c_id,
               list_sum(list_transform(range(1, 9), i ->
                   round(list_max(list_transform(range(1, 9), j ->
                       list_sum(list_transform(range(1, 9), k ->
                           q.qsl[i][k] * n.sl[j][k]))
                       / (q.qnn[i] * n.nn[j]))), 6))) AS score
        FROM q CROSS JOIN n
    )
    SELECT q_id AS q_vec_id, c_id AS c_vec_id,
           CAST(rn AS INTEGER) AS rank,
           ROUND(score, 6) AS score
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY q_id
                   ORDER BY ROUND(score, 6) DESC, c_id) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
)
def late_interaction_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval (M170): score(q, d) =
    sum over query token-vectors of the max cosine against any doc
    token-vector (MaxSim), top-3 per query — the retrieval family's
    missing leg between single-vector dense (J3) and cross-encoder
    rerank: token-level interaction at dot-product cost.  The fixture's
    64-dim embeddings stand in as 8 token-vectors of 8 dims (a real
    multi-vector table swaps in its token matrix; every expression is
    unchanged).

    Parity: every dot/norm is an in-order double fold (Spark aggregate
    == DuckDB list_sum over the ordered range, x*x not pow — the M157
    discipline); sqrt is IEEE-exact; each per-token cosine is ROUNDed 6
    BEFORE the max; the 8 rounded maxes sum in slice order; ranking is
    on the rounded score with id tie-breaks.

    Scale: queries broadcast (bounded eval set), corpus scanned once
    map-side — |eval| x N scored pairs, no corpus shuffle; the per-pair
    8x8 interaction runs inside whole-stage codegen.  Production
    swaps the exhaustive scan for the ANN shortlist (M151/M157) and
    applies MaxSim only to the shortlist — same scoring expression.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    idx8 = F.sequence(F.lit(0), F.lit(7))
    sl = F.transform(
        idx8,
        lambda s: F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda k: F.element_at(
                F.col("embedding"), (s * 8 + k).cast("int")
            ).cast("double"),
        ),
    )
    norms = lambda slc: F.transform(  # noqa: E731
        slc,
        lambda v: F.sqrt(
            F.aggregate(
                v, F.lit(0.0), lambda acc, x: acc + x * x
            )
        ),
    )
    n = emb.select(F.col("vec_id").alias("c_id"), sl.alias("sl")).select(
        "c_id", "sl", norms(F.col("sl")).alias("nn")
    )
    q = (
        n.filter(F.col("c_id") < 5)
        .select(
            F.col("c_id").alias("q_id"),
            F.col("sl").alias("qsl"),
            F.col("nn").alias("qnn"),
        )
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    score = F.aggregate(
        F.zip_with(
            F.col("qsl"),
            F.col("qnn"),
            lambda qi, qni: F.array_max(
                F.zip_with(
                    F.col("sl"),
                    F.col("nn"),
                    lambda dj, nj: F.round(dot(qi, dj) / (qni * nj), 6),
                )
            ),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = n.crossJoin(F.broadcast(q)).select(
        "q_id", "c_id", score.alias("score")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc(F.round("score", 6)), F.asc("c_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("q_id").alias("q_vec_id"),
            F.col("c_id").alias("c_vec_id"),
            F.col("rn").cast("int").alias("rank"),
            F.round("score", 6).alias("score"),
        )
    )


@query(
    "embedding_norm_audit",
    oracle="""
    WITH q AS (
        SELECT label,
               list_sum(list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                   * CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                          AS BIGINT))) AS norm2
        FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(MIN(norm2) AS BIGINT) AS min_norm2,
           CAST(MAX(norm2) AS BIGINT) AS max_norm2,
           CAST(SUM(norm2) AS DOUBLE) / COUNT(*) AS mean_norm2,
           CAST(COUNT(*) FILTER (WHERE norm2 < 100000000) AS BIGINT)
               AS n_degenerate
    FROM q GROUP BY label
    """,
)
def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm audit (M173) — the ANN-index pre-flight: per
    label class, the distribution of vector norms (squared, micro^2
    units) and the count of degenerate near-zero vectors (norm <
    0.01).  Mixed-norm corpora break inner-product indexes and make
    cosine vs dot-product ranking diverge; near-zero vectors make
    cosine undefined — both must be caught BEFORE the index build
    (M151/M157), and this is the report that catches them (the vector
    twin of the ``table_profile`` relational health check).

    Exactness: each norm^2 is an in-order BIGINT fold of micro-int
    squares (exact — 64·(1e6)^2 bounds well under 2^63); min/max/
    counts exact; mean ONE IEEE division.

    Scale: map-only projection + a |classes|-keyed aggregate.  Zero
    joins, zero windows — the cheapest query in the vector family,
    which is the point of a pre-flight.
    """
    from insight_spark.operators.clustering import quantize_micro

    emb = load_table(spark, sf_dir, "embeddings")
    norm2 = F.aggregate(
        quantize_micro(F.col("embedding")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x * x,
    )
    q = emb.select("label", norm2.alias("norm2"))
    return q.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.min("norm2").alias("min_norm2"),
        F.max("norm2").alias("max_norm2"),
        (F.sum("norm2").cast("double") / F.count("*")).alias("mean_norm2"),
        F.count_if(F.col("norm2") < 100000000).alias("n_degenerate"),
    )


@query(
    "knn_label_agreement",
    oracle=f"""
    WITH probes AS (
        SELECT vec_id AS q_vec_id, label AS q_label,
               {embedding_sql()} AS qe
        FROM embeddings
        WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'
    ),
    cand AS (
        SELECT vec_id AS c_vec_id, label AS c_label,
               {embedding_sql()} AS ce
        FROM embeddings
    ),
    ranked AS (
        SELECT q_vec_id, q_label, c_vec_id, c_label,
               ROW_NUMBER() OVER (
                   PARTITION BY q_vec_id
                   ORDER BY ROUND(list_cosine_similarity(qe, ce), 6) DESC,
                            c_vec_id) AS rank
        FROM probes CROSS JOIN cand
    ),
    nn AS (
        SELECT * FROM ranked
        WHERE rank <= 4 AND c_vec_id <> q_vec_id
    )
    SELECT q_vec_id, q_label,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           CAST(count_if(c_label = q_label) AS BIGINT) AS n_same,
           CAST(count_if(c_label = q_label) AS DOUBLE) / COUNT(*)
               AS agree_frac
    FROM nn GROUP BY q_vec_id, q_label
    """,
)
def knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-agreement audit (M183): for a deterministic md5-keyed
    probe sample (~1/16 of vectors), do the 3 nearest cosine
    neighbors share the probe's label?  The LOCAL-neighborhood
    mislabel detector that complements M161's global class-centroid
    audit — a probe whose neighborhood votes against its label is the
    classic confident-learning relabel candidate, and the aggregate
    agreement rate is the "is this embedding space even separable by
    these labels" pre-flight before training a classifier head on it.

    Ranking discipline: top-4 per probe on the ROUNDed cosine with id
    tie-breaks (the `knn_cosine_topk` parity pattern), then self is
    dropped — leaving the 3 non-self neighbors regardless of where
    duplicate-vector ties place the self row.

    Scale: the bounded probe side broadcasts; the corpus is scanned
    once map-side (|probes|×N pairs inside codegen, no corpus
    shuffle); per-probe state is a top-4 heap.  Production points the
    same agreement aggregate at the ANN shortlist (M68's IVF probe)
    instead of the exact scan — the audit columns are unchanged.
    """
    from insight_spark.operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) == "0"
    ).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_embedding"),
    )
    cand = emb.select(
        F.col("vec_id").alias("c_vec_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_embedding"),
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.desc("cos_sim"), F.asc("c_vec_id")
    )
    ranked = (
        cand.crossJoin(F.broadcast(probes))
        .select(
            "q_vec_id",
            "q_label",
            "c_vec_id",
            "c_label",
            F.round(
                cosine(F.col("q_embedding"), F.col("c_embedding")), 6
            ).alias("cos_sim"),
        )
        .select("*", F.row_number().over(w).alias("rank"))
    )
    nn = ranked.where(
        (F.col("rank") <= 4) & (F.col("c_vec_id") != F.col("q_vec_id"))
    )
    same = F.count_if(F.col("c_label") == F.col("q_label"))
    return nn.groupBy("q_vec_id", "q_label").agg(
        F.count("*").cast("long").alias("n_neighbors"),
        same.cast("long").alias("n_same"),
        (same.cast("double") / F.count("*")).alias("agree_frac"),
    )


@query(
    "embedding_dim_variance",
    oracle="""
    WITH q AS MATERIALIZED (
        SELECT list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS e
        FROM embeddings
    ),
    dims AS (
        SELECT d,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(e[d]) AS BIGINT) AS s,
               SUM(CAST(e[d] AS HUGEINT) * e[d]) AS qq
        FROM q CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS d)
        GROUP BY d
    ),
    scored AS (
        SELECT d, n, s, n * qq - CAST(s AS HUGEINT) * s AS num
        FROM dims
    )
    SELECT CAST(d AS INT) AS dim, n,
           CAST(s AS DOUBLE) / n AS mean_micro,
           CAST(num AS DOUBLE) / CAST(n * n AS DOUBLE) AS var_micro2
    FROM scored
    ORDER BY num DESC, d
    LIMIT 5
    """,
)
def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance profile (M196): the 5 highest-variance
    embedding dimensions with mean and variance — the feature-pruning
    / whitening pre-flight that answers "which dims carry the signal"
    before a PCA/MRL truncation decision (a near-zero-variance dim is
    dead weight in every distance computation; one dominant dim says
    the space needs whitening before cosine means anything).
    Complements M173's per-vector norm audit with the per-DIMENSION
    view.

    Exactness: coordinates are micro-ints (M161's quantize_micro);
    per-dim moment sums accumulate in DECIMAL(38,0)/HUGEINT, the
    n²-scaled variance numerator n·Q − S² is exact integer
    arithmetic, ordering/limit run on that exact integer with the dim
    as tie-break, and the two output doubles are each ONE IEEE
    division of exact values (no DecimalType leaves the query, per
    the schema-discipline guard).

    Scale: ONE map-side-combined aggregate over the posexploded
    coords — 64 rows of model state; everything after is 64-row math.
    """
    from insight_spark.operators.clustering import quantize_micro

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(quantize_micro(F.col("embedding")).alias("e"))
    dims = (
        q.select(F.posexplode("e").alias("d0", "x"))
        .groupBy((F.col("d0") + 1).alias("d"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("s"),
            F.sum(
                F.col("x").cast("decimal(38,0)") * F.col("x")
            ).alias("qq"),
        )
    )
    num = F.col("n") * F.col("qq") - F.col("s").cast("decimal(38,0)") * F.col(
        "s"
    )
    return (
        dims.select("d", "n", "s", num.alias("num"))
        .orderBy(F.desc("num"), F.asc("d"))
        .limit(5)
        .select(
            F.col("d").cast("int").alias("dim"),
            "n",
            (F.col("s").cast("double") / F.col("n")).alias("mean_micro"),
            (
                F.col("num").cast("double")
                / (F.col("n") * F.col("n")).cast("double")
            ).alias("var_micro2"),
        )
    )


@query(
    "pca_top2_closed_form",
    oracle="""
    WITH m AS (
        SELECT list_transform(embedding,
                   v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS e
        FROM embeddings
    ),
    pos AS (
        SELECT d, e[d] AS x
        FROM m CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS d)
    ),
    per_dim AS (
        SELECT d, CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS qq
        FROM pos GROUP BY d
    ),
    top2 AS (
        SELECT d, row_number() OVER (ORDER BY n * qq - s * s DESC, d ASC)
                   AS rk
        FROM per_dim
        ORDER BY rk LIMIT 2
    ),
    dims AS (
        SELECT (SELECT d FROM top2 WHERE rk = 1) AS da,
               (SELECT d FROM top2 WHERE rk = 2) AS db
    ),
    pair AS (
        SELECT CAST(e[da] AS HUGEINT) AS xa, CAST(e[db] AS HUGEINT) AS xb
        FROM m, dims
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(xa) AS sa, SUM(xb) AS sb,
               SUM(xa * xa) AS saa, SUM(xb * xb) AS sbb,
               SUM(xa * xb) AS sab
        FROM pair
    ),
    cov AS (
        SELECT CAST(n * saa - sa * sa AS DOUBLE)
                   / (CAST(n AS DOUBLE) * n) / 1000000000000.0 AS a,
               CAST(n * sbb - sb * sb AS DOUBLE)
                   / (CAST(n AS DOUBLE) * n) / 1000000000000.0 AS c,
               CAST(n * sab - sa * sb AS DOUBLE)
                   / (CAST(n AS DOUBLE) * n) / 1000000000000.0 AS b
        FROM sums
    )
    SELECT CAST(dims.da AS INTEGER) AS dim_a,
           CAST(dims.db AS INTEGER) AS dim_b,
           cov.a AS var_a, cov.c AS var_b, cov.b AS cov_ab,
           (cov.a + cov.c) / 2
               + sqrt(((cov.a - cov.c) / 2) * ((cov.a - cov.c) / 2)
                      + cov.b * cov.b) AS lambda1,
           (cov.a + cov.c) / 2
               - sqrt(((cov.a - cov.c) / 2) * ((cov.a - cov.c) / 2)
                      + cov.b * cov.b) AS lambda2,
           ((cov.a + cov.c) / 2
               + sqrt(((cov.a - cov.c) / 2) * ((cov.a - cov.c) / 2)
                      + cov.b * cov.b))
           / (((cov.a + cov.c) / 2
               + sqrt(((cov.a - cov.c) / 2) * ((cov.a - cov.c) / 2)
                      + cov.b * cov.b))
              + ((cov.a + cov.c) / 2
                 - sqrt(((cov.a - cov.c) / 2) * ((cov.a - cov.c) / 2)
                        + cov.b * cov.b))) AS top_share
    FROM cov, dims
    """,
)
def pca_top2_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding anisotropy audit via CLOSED-FORM 2-D PCA (M214): pick
    the two highest-variance dimensions by EXACT integer score
    (n·Σx² − (Σx)², micro-int arithmetic, dim-index tie-break — the
    `embedding_dim_variance` selection, so both engines agree), form
    their 2×2 covariance from exact sums, and eigendecompose it in
    closed form: λ = (a+c)/2 ± √(((a−c)/2)² + b²).  `top_share` =
    λ₁/(λ₁+λ₂) is the anisotropy signal — a share near 1 means the
    embedding collapsed toward a line (a training-failure smell that
    also degrades every cosine-based dedup/ANN op downstream).

    Float parity: variances/covariance are exact BIGINT/HUGEINT
    numerators with ONE identical division tree to double; the
    eigenvalues add only +,−,×,/ and IEEE-correctly-rounded sqrt on
    bit-equal inputs — no libm transcendentals, no iteration, so the
    hash is bit-stable cross-engine (the power-iteration alternative
    is NOT oracle-replicable; the 2-D closed form is).

    Scale: pass 1 is one posexploded map-side-combined aggregate
    (64 groups); pass 2 one 6-sum aggregate; the only driver state is
    the two winning dim indices.  100 TB cost = two corpus scans,
    zero joins, zero windows over data.
    """
    from insight_spark.operators.clustering import quantize_micro

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(quantize_micro(F.col("embedding")).alias("e"))
    per_dim = (
        q.select(F.posexplode("e").alias("d0", "x"))
        .groupBy((F.col("d0") + 1).alias("d"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("decimal(38,0)").alias("s"),
            F.sum(
                F.col("x").cast("decimal(38,0)") * F.col("x")
            ).alias("qq"),
        )
    )
    score = F.col("n") * F.col("qq") - F.col("s") * F.col("s")
    top2 = (
        per_dim.select("d", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("d"))
        .limit(2)
        .collect()
    )  # bounded driver state: the two winning dim indices
    da, db = int(top2[0]["d"]), int(top2[1]["d"])

    pair = q.select(
        F.element_at("e", da).alias("xa"), F.element_at("e", db).alias("xb")
    )
    sums = pair.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xa").cast("decimal(38,0)").alias("sa"),
        F.sum("xb").cast("decimal(38,0)").alias("sb"),
        F.sum(F.col("xa").cast("decimal(38,0)") * F.col("xa")).alias("saa"),
        F.sum(F.col("xb").cast("decimal(38,0)") * F.col("xb")).alias("sbb"),
        F.sum(F.col("xa").cast("decimal(38,0)") * F.col("xb")).alias("sab"),
    )
    n_d = F.col("n").cast("double")
    a = (
        (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast("double")
        / (n_d * F.col("n"))
        / 1000000000000.0
    )
    c = (
        (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")
        / (n_d * F.col("n"))
        / 1000000000000.0
    )
    b = (
        (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
        / (n_d * F.col("n"))
        / 1000000000000.0
    )
    covd = sums.select(a.alias("a"), c.alias("c"), b.alias("b"))
    mean = (F.col("a") + F.col("c")) / 2
    half = (F.col("a") - F.col("c")) / 2
    disc = F.sqrt(half * half + F.col("b") * F.col("b"))
    l1, l2 = mean + disc, mean - disc
    return covd.select(
        F.lit(da).cast("int").alias("dim_a"),
        F.lit(db).cast("int").alias("dim_b"),
        F.col("a").alias("var_a"),
        F.col("c").alias("var_b"),
        F.col("b").alias("cov_ab"),
        l1.alias("lambda1"),
        l2.alias("lambda2"),
        (l1 / (l1 + l2)).alias("top_share"),
    )


@query(
    "nearest_centroid_confusion",
    oracle="""
    WITH m AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS e
        FROM embeddings
    ),
    pos AS (
        SELECT label, d, e[d] AS x
        FROM m CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INTEGER)
                               AS d)
    ),
    sums AS (
        SELECT label, d, CAST(SUM(x) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pos GROUP BY label, d
    ),
    cent AS (
        SELECT label, d,
               (s - ((s % n + n) % n)) // n AS c
        FROM sums
    ),
    centarr AS (
        SELECT label AS clabel, list(c ORDER BY d) AS c
        FROM cent GROUP BY label
    ),
    dist AS (
        SELECT m.vec_id, m.label, ca.clabel,
               list_sum(list_transform(range(1, 65),
                   i -> (m.e[i] - ca.c[i]) * (m.e[i] - ca.c[i]))) AS dd
        FROM m CROSS JOIN centarr ca
    ),
    ranked AS (
        SELECT vec_id, label, clabel,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dd, clabel) AS rk
        FROM dist
    )
    SELECT CAST(label AS INTEGER) AS true_label,
           CAST(clabel AS INTEGER) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ranked WHERE rk = 1
    GROUP BY 1, 2
    """,
)
def nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classifier confusion matrix (M230) — the
    label-quality readout the eval family was missing: train the
    simplest possible classifier (per-label centroid, the model
    `label_centroids` computes) and cross-tabulate prediction vs
    truth.  A strong diagonal says labels are linearly separable in
    embedding space; a hot off-diagonal cell names the confusable
    class pair — the signal that drives relabeling or class merging.

    Exactness: centroids are FLOOR-DIV of exact micro-int sums using
    the sign-safe identity (s − ((s%n + n)%n)) div n (Spark `div`
    truncates, DuckDB `//` floors — the identity makes both exact
    floor); distances are exact BIGINT squared sums; argmin orders by
    (distance, label).  Scale: centroids are a 10-row broadcast; the
    N×10 distance fan-out is a broadcast nested loop (bounded side),
    argmin a per-vec min(struct) — no N² anywhere.
    """
    from insight_spark.operators.clustering import quantize_micro

    emb = load_table(spark, sf_dir, "embeddings")
    m = emb.select(
        "vec_id", "label", quantize_micro(F.col("embedding")).alias("e")
    )
    pos = m.select("label", F.posexplode("e").alias("d", "x"))
    sums = pos.groupBy("label", "d").agg(
        F.sum("x").alias("s"), F.count("*").alias("n")
    )
    cent = sums.select(
        "label",
        "d",
        F.expr("(s - ((s % n + n) % n)) div n").alias("c"),
    )
    centarr = cent.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "c"))),
            lambda s: s["c"],
        ).alias("c")
    )
    dist = m.crossJoin(F.broadcast(centarr)).select(
        "vec_id",
        "label",
        "clabel",
        F.aggregate(
            F.zip_with("e", "c", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dd"),
    )
    pred = dist.groupBy("vec_id", "label").agg(
        F.min(F.struct("dd", "clabel")).alias("best")
    )
    return pred.groupBy(
        F.col("label").cast("int").alias("true_label"),
        F.col("best.clabel").cast("int").alias("pred_label"),
    ).agg(F.count("*").alias("n"))


@query(
    "silhouette_simplified",
    oracle="""
    WITH m AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS e
        FROM embeddings
    ),
    pos AS (
        SELECT label, d, e[d] AS x
        FROM m CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INTEGER)
                               AS d)
    ),
    sums AS (
        SELECT label, d, CAST(SUM(x) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pos GROUP BY label, d
    ),
    cent AS (
        SELECT label, d, (s - ((s % n + n) % n)) // n AS c
        FROM sums
    ),
    centarr AS (
        SELECT label AS clabel, list(c ORDER BY d) AS c
        FROM cent GROUP BY label
    ),
    dist AS (
        SELECT m.vec_id, m.label, ca.clabel,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> (m.e[i] - ca.c[i]) * (m.e[i] - ca.c[i])))
                    AS BIGINT) AS dd
        FROM m CROSS JOIN centarr ca
    ),
    ab AS (
        SELECT vec_id, label,
               MIN(CASE WHEN clabel = label THEN dd END) AS a2,
               MIN(CASE WHEN clabel <> label THEN dd END) AS b2
        FROM dist GROUP BY vec_id, label
    ),
    sil AS (
        SELECT vec_id, label,
               CASE WHEN greatest(sqrt(CAST(a2 AS DOUBLE)),
                                  sqrt(CAST(b2 AS DOUBLE))) = 0
                    THEN CAST(0 AS BIGINT)
                    ELSE CAST(floor(1000000
                         * ((sqrt(CAST(b2 AS DOUBLE))
                             - sqrt(CAST(a2 AS DOUBLE)))
                            / greatest(sqrt(CAST(a2 AS DOUBLE)),
                                       sqrt(CAST(b2 AS DOUBLE))))
                         + 0.5) AS BIGINT)
               END AS sil_ppm
        FROM ab
    )
    SELECT CAST(label AS INTEGER) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(sil_ppm) AS BIGINT) AS sum_sil_ppm,
           CAST(SUM(sil_ppm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS mean_sil_ppm,
           CAST(SUM(CASE WHEN sil_ppm < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_negative
    FROM sil GROUP BY label
    """,
)
def silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette score per label (M249):
    a = distance to the OWN label centroid, b = distance to the
    nearest OTHER centroid, s = (b-a)/max(a,b) — the clustering/label
    coherence metric that completes the centroid eval family
    (nearest_centroid_confusion M230 says WHERE labels confuse;
    silhouette says HOW SEPARABLE each class is, and n_negative counts
    vectors sitting closer to a foreign centroid).  The simplified
    form is the 100 TB version: true silhouette needs all-pairs
    distances (N² — impossible); against K centroids it is one
    broadcast fan-out.

    Exactness: micro-int embeddings, floor-div centroids (sign-safe
    identity), exact BIGINT squared distances; per-vector s uses only
    IEEE sqrt / division / greatest on identical trees, then quantizes
    to ppm BIGINT so the per-label SUM is exact-integer
    (order-independent); the mean is ONE division of exact integers.
    Scale: K-row centroid broadcast, N×K map-side fan-out, one keyed
    aggregate — the nearest_centroid_confusion shape.
    """
    from insight_spark.operators.clustering import quantize_micro

    emb = load_table(spark, sf_dir, "embeddings")
    m = emb.select(
        "vec_id", "label", quantize_micro(F.col("embedding")).alias("e")
    )
    pos = m.select("label", F.posexplode("e").alias("d", "x"))
    sums = pos.groupBy("label", "d").agg(
        F.sum("x").alias("s"), F.count("*").alias("n")
    )
    cent = sums.select(
        "label", "d", F.expr("(s - ((s % n + n) % n)) div n").alias("c")
    )
    centarr = cent.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "c"))),
            lambda s: s["c"],
        ).alias("c")
    )
    dist = m.crossJoin(F.broadcast(centarr)).select(
        "vec_id",
        "label",
        "clabel",
        F.aggregate(
            F.zip_with("e", "c", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dd"),
    )
    ab = dist.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clabel") == F.col("label"), F.col("dd"))).alias(
            "a2"
        ),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("dd"))).alias(
            "b2"
        ),
    )
    sa = F.sqrt(F.col("a2").cast("double"))
    sb = F.sqrt(F.col("b2").cast("double"))
    den = F.greatest(sa, sb)
    sil = ab.select(
        "label",
        F.when(den == 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor(1000000 * ((sb - sa) / den) + F.lit(0.5)).cast("long")
        )
        .alias("sil_ppm"),
    )
    return sil.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum("sil_ppm").cast("long").alias("sum_sil_ppm"),
        (
            F.sum("sil_ppm").cast("double")
            / F.count("*").cast("double")
        ).alias("mean_sil_ppm"),
        F.sum((F.col("sil_ppm") < 0).cast("int")).cast("long").alias(
            "n_negative"
        ),
    )


@query(
    "hamming_binary_rerank",
    oracle="""
    WITH m AS (
        SELECT vec_id,
               list_transform(embedding,
                   v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS e,
               CAST(list_sum(list_transform(range(1, 33),
                   i -> CASE WHEN embedding[i] >= 0
                        THEN (CAST(1 AS BIGINT) << (i - 1))
                        ELSE 0 END)) AS BIGINT) AS h_lo,
               CAST(list_sum(list_transform(range(33, 65),
                   i -> CASE WHEN embedding[i] >= 0
                        THEN (CAST(1 AS BIGINT) << (i - 33))
                        ELSE 0 END)) AS BIGINT) AS h_hi
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS q_id, e AS qe, h_lo AS q_lo, h_hi AS q_hi
        FROM m ORDER BY vec_id LIMIT 5
    ),
    cand AS (
        SELECT q.q_id, m.vec_id,
               CAST(bit_count(xor(m.h_lo, q.q_lo))
                    + bit_count(xor(m.h_hi, q.q_hi)) AS BIGINT) AS hamming
        FROM m CROSS JOIN q
        WHERE m.vec_id <> q.q_id
    ),
    short AS (
        SELECT q_id, vec_id, hamming,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY hamming, vec_id) AS hrk
        FROM cand
    ),
    rer AS (
        SELECT s.q_id, s.vec_id, s.hamming,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> (m.e[i] - q.qe[i]) * (m.e[i] - q.qe[i])))
                    AS BIGINT) AS d2
        FROM short s
        JOIN m ON m.vec_id = s.vec_id
        JOIN q ON q.q_id = s.q_id
        WHERE s.hrk <= 32
    )
    SELECT q_id, vec_id,
           CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id)
                AS INTEGER) AS rank,
           hamming, d2
    FROM rer
    QUALIFY rank <= 5
    """,
)
def hamming_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN with exact rerank (M253): sign-binarize
    every embedding into TWO BIGINTs (64 dims -> 128 bits of sign
    structure, a 32x scan-size reduction vs float32), shortlist top-32
    neighbors per query by POPCOUNT hamming distance (pure
    bit_count(xor) — whole-stage-codegen integer ops, no float math in
    the scan), then rerank the shortlist with the exact micro-int
    distance — the modern binary-embedding retrieval stack
    (int8_quantize_embeddings M128's 1-bit sibling), completing the
    quantization ladder float -> int8 -> binary.

    Exactness: packing thresholds raw float sign (deterministic on the
    shared parquet values); hamming and rerank distances are exact
    BIGINTs; both rank windows tie-break on vec_id.  Scale: the
    hamming scan reads 16 bytes/vector instead of 256 (the 100 TB win:
    the binary index fits in memory 32x earlier); candidates bounded
    at 32/query before any float-width data moves; windows partition
    per query.
    """
    emb = load_table(spark, sf_dir, "embeddings")

    def pack(lo: int, hi: int):
        return F.aggregate(
            F.expr(
                f"transform(sequence({lo}, {hi}), "
                f"i -> if(embedding[i - 1] >= 0f, shiftleft(1L, i - {lo}),"
                " 0L))"
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    from insight_spark.operators.clustering import quantize_micro

    m = emb.select(
        "vec_id",
        quantize_micro(F.col("embedding")).alias("e"),
        pack(1, 32).alias("h_lo"),
        pack(33, 64).alias("h_hi"),
    )
    q = (
        m.orderBy("vec_id")
        .limit(5)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("e").alias("qe"),
            F.col("h_lo").alias("q_lo"),
            F.col("h_hi").alias("q_hi"),
        )
    )
    cand = (
        m.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "e",
            "qe",
            (
                F.bit_count(F.expr("h_lo ^ q_lo"))
                + F.bit_count(F.expr("h_hi ^ q_hi"))
            )
            .cast("long")
            .alias("hamming"),
        )
    )
    wh = Window.partitionBy("q_id").orderBy("hamming", "vec_id")
    short = cand.select(
        "*", F.row_number().over(wh).alias("hrk")
    ).filter(F.col("hrk") <= 32)
    rer = short.select(
        "q_id",
        "vec_id",
        "hamming",
        F.aggregate(
            F.zip_with("e", "qe", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("d2"),
    )
    wr = Window.partitionBy("q_id").orderBy("d2", "vec_id")
    return rer.select(
        "*", F.row_number().over(wr).cast("int").alias("rank")
    ).filter(F.col("rank") <= 5).select(
        "q_id", "vec_id", "rank", "hamming", "d2"
    )


@query(
    "embedding_mean_shift_audit",
    oracle="""
    WITH m AS (
        SELECT CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
                         <= '7' THEN 0 ELSE 1 END AS half,
               list_transform(embedding,
                   v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS e
        FROM embeddings
    ),
    pos AS (
        SELECT half, d, e[d] AS x
        FROM m CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INTEGER)
                               AS d)
    ),
    g AS (
        SELECT d,
               CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN half = 0 THEN x ELSE 0 END)
                    AS BIGINT) AS s_a,
               CAST(SUM(CASE WHEN half = 0
                    THEN CAST(x AS HUGEINT) * x ELSE 0 END)
                    AS HUGEINT) AS q_a,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN half = 1 THEN x ELSE 0 END)
                    AS BIGINT) AS s_b,
               CAST(SUM(CASE WHEN half = 1
                    THEN CAST(x AS HUGEINT) * x ELSE 0 END)
                    AS HUGEINT) AS q_b
        FROM pos GROUP BY d
    ),
    smd AS (
        SELECT d, n_a, n_b,
               ((CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                 - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                / sqrt(((CAST(CAST(n_a AS HUGEINT) * q_a
                              - CAST(s_a AS HUGEINT) * s_a AS DOUBLE)
                         / CAST(n_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                      + (CAST(CAST(n_b AS HUGEINT) * q_b
                              - CAST(s_b AS HUGEINT) * s_b AS DOUBLE)
                         / CAST(n_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
                       / 2)) AS z
        FROM g
    ),
    ranked AS (
        SELECT d AS dim, n_a, n_b,
               CAST(floor(1000000 * z + 0.5) AS BIGINT) AS smd_ppm,
               CAST(floor(1000000 * abs(z) + 0.5) AS BIGINT)
                   AS smd_abs_ppm
        FROM smd
    )
    SELECT dim, n_a, n_b, smd_ppm FROM ranked
    ORDER BY smd_abs_ppm DESC, dim LIMIT 16
    """,
)
def embedding_mean_shift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding drift monitor (M261): split the corpus
    into two keyed halves (production: last week vs history) and rank
    dimensions by standardized mean difference — the embedding-space
    twin of psi_drift (M107): a re-trained encoder, a data-source
    shift, or a silent preprocessing change shows up as a few
    high-|SMD| dimensions long before downstream recall moves.

    Exactness: per-dim (n, s, q) moments as exact micro BIGINTs with
    DECIMAL(38,0)/HUGEINT squares; SMD = identical double tree over
    those integers (IEEE sqrt/divisions), quantized to ppm BIGINT, and
    the top-16 ORDER is on the quantized value (rank-on-rounded, the
    float-ordering discipline) with dim tie-break.  Scale: one
    posexplode + one 64-group aggregate (map-side combined) — no
    joins, no windows on data.
    """
    from insight_spark.operators.clustering import quantize_micro

    emb = load_table(spark, sf_dir, "embeddings")
    m = emb.select(
        F.when(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
            <= "7",
            0,
        )
        .otherwise(1)
        .alias("half"),
        quantize_micro(F.col("embedding")).alias("e"),
    )
    pos = m.select("half", F.posexplode("e").alias("d0", "x")).select(
        (F.col("d0") + 1).cast("int").alias("d"), "half", "x"
    )
    dec = "decimal(38,0)"
    half0 = F.col("half") == 0
    g = pos.groupBy("d").agg(
        F.sum(F.when(half0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(half0, F.col("x")).otherwise(0))
        .cast("long")
        .alias("s_a"),
        F.sum(
            F.when(half0, F.col("x").cast(dec) * F.col("x")).otherwise(0)
        ).alias("q_a"),
        F.sum(F.when(~half0, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(~half0, F.col("x")).otherwise(0))
        .cast("long")
        .alias("s_b"),
        F.sum(
            F.when(~half0, F.col("x").cast(dec) * F.col("x")).otherwise(0)
        ).alias("q_b"),
    )
    mean_gap = F.col("s_a").cast("double") / F.col("n_a").cast(
        "double"
    ) - F.col("s_b").cast("double") / F.col("n_b").cast("double")
    var_a = (
        (
            F.col("n_a").cast(dec) * F.col("q_a")
            - F.col("s_a").cast(dec) * F.col("s_a")
        ).cast("double")
        / F.col("n_a").cast("double")
        / F.col("n_a").cast("double")
    )
    var_b = (
        (
            F.col("n_b").cast(dec) * F.col("q_b")
            - F.col("s_b").cast(dec) * F.col("s_b")
        ).cast("double")
        / F.col("n_b").cast("double")
        / F.col("n_b").cast("double")
    )
    z = mean_gap / F.sqrt((var_a + var_b) / 2)
    ranked = g.select(
        F.col("d").alias("dim"),
        "n_a",
        "n_b",
        F.floor(1000000 * z + F.lit(0.5)).cast("long").alias("smd_ppm"),
        F.floor(1000000 * F.abs(z) + F.lit(0.5))
        .cast("long")
        .alias("smd_abs_ppm"),
    )
    return (
        ranked.orderBy(F.desc("smd_abs_ppm"), "dim")
        .limit(16)
        .select("dim", "n_a", "n_b", "smd_ppm")
    )


@query(
    "mips_dot_topk",
    oracle="""
    WITH m AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS e
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS q_vec_id, e AS qe FROM m WHERE vec_id < 10
    ),
    pairs AS (
        SELECT q.q_vec_id, m.vec_id AS c_vec_id,
               CAST(list_dot_product(
                   list_transform(qe, x -> CAST(x AS DOUBLE)),
                   list_transform(e, x -> CAST(x AS DOUBLE))
               ) AS BIGINT) AS dot_micro2
        FROM m CROSS JOIN q
        WHERE m.vec_id <> q.q_vec_id
    )
    SELECT q_vec_id, c_vec_id, dot_micro2, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_vec_id ORDER BY dot_micro2 DESC, c_vec_id
        ) AS rank
        FROM pairs
    )
    WHERE rank <= 5
    """,
)
def mips_dot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search, exact top-5 (M268): rank the
    corpus by RAW dot product instead of cosine — the retrieval
    semantics of recommendation and learned-sparse models, where
    vector NORM carries signal (popularity, term importance) that
    cosine's normalization deliberately erases.  `knn_cosine_topk` and
    this query are different ORDERINGS of the same pair scores; both
    belong in the serving surface.  The classic MIPS→NN reduction
    (Bachrach et al. 2014, public): augmenting each corpus vector with
    sqrt(M² − |x|²) makes cosine order equal dot order — pinned as a
    property test (tests/test_r10_ops.py) so the ANN stack (IVF/LSH)
    can serve MIPS through the same cosine index.

    Exactness: micro-int coordinates (M161 discipline) make every dot
    an exact integer — 64 dims × (5.3e5)² ≈ 1.8e13 < 2⁵³, so DuckDB's
    double list_dot_product is exact and the BIGINT cast lossless;
    ranking on (exact integer, id tie-break) — no float order anywhere.

    Scale: 10-row query side broadcast → map-side nested loop over
    corpus partitions (the knn_topk shape) — the corpus never
    shuffles; per-query top-5 via rank window partitioned by query.
    This is the correctness oracle of the family; the scale path is
    the same IVF/LSH cell-join with the augmentation applied.
    """
    from insight_spark.operators.clustering import quantize_micro

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize_micro(F.col("embedding")).alias("e")
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_vec_id"), F.col("e").alias("qe")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qe"), F.col("e"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pairs = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_vec_id"))
        .select(
            "q_vec_id",
            F.col("vec_id").alias("c_vec_id"),
            dot.alias("dot_micro2"),
        )
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.desc("dot_micro2"), F.asc("c_vec_id")
    )
    return pairs.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= 5)


@query(
    "triplet_margin_audit",
    oracle="""
    WITH m AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS e
        FROM embeddings
    ),
    anchors AS (SELECT vec_id AS a_id, label AS a_label, e AS ae
                FROM m WHERE vec_id < 10),
    pairs AS (
        SELECT a.a_id, a.a_label, m.label AS c_label,
               CAST(list_dot_product(
                        list_transform(ae, x -> CAST(x AS DOUBLE)),
                        list_transform(ae, x -> CAST(x AS DOUBLE)))
                    + list_dot_product(
                        list_transform(e, x -> CAST(x AS DOUBLE)),
                        list_transform(e, x -> CAST(x AS DOUBLE)))
                    - 2 * list_dot_product(
                        list_transform(ae, x -> CAST(x AS DOUBLE)),
                        list_transform(e, x -> CAST(x AS DOUBLE)))
                    AS BIGINT) AS d2
        FROM m CROSS JOIN anchors a
        WHERE m.vec_id <> a.a_id
    )
    SELECT a_id, a_label,
           CAST(MIN(CASE WHEN c_label = a_label THEN d2 END) AS BIGINT)
               AS d2_pos,
           CAST(MIN(CASE WHEN c_label <> a_label THEN d2 END) AS BIGINT)
               AS d2_neg,
           CAST(MIN(CASE WHEN c_label <> a_label THEN d2 END)
                - MIN(CASE WHEN c_label = a_label THEN d2 END)
                AS BIGINT) AS margin,
           CAST(MIN(CASE WHEN c_label <> a_label THEN d2 END)
                > MIN(CASE WHEN c_label = a_label THEN d2 END) AS INT)
               AS healthy
    FROM pairs GROUP BY a_id, a_label
    """,
)
def triplet_margin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet margin audit (M300): per anchor vector, the squared
    distance to its nearest SAME-label neighbor (positive) and nearest
    OTHER-label neighbor (negative), and whether the margin is
    positive — the metric-learning health check run on an embedding
    space before trusting label-based retrieval or kNN classification
    (a negative margin anchor is one `knn_label_agreement` will
    misclassify and `hard_negative_mining` will surface; this query
    QUANTIFIES how far the space is from satisfying the triplet
    property).

    Exactness: micro-int coordinates make every squared distance an
    exact BIGINT (computed in the oracle via the |a−b|² = |a|²+|b|²
    −2ab identity over exact-integer dot products, all < 2⁵³ so
    double folds are lossless); mins and the margin are integer
    arithmetic; no floats anywhere hashed.

    Scale: 10-row anchor broadcast → map-side nested loop (the
    knn_topk shape — the corpus never shuffles), conditional-min
    aggregate per anchor; output is |anchors| rows of metadata.
    """
    from insight_spark.operators.clustering import quantize_micro, sq_dist_micro

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", quantize_micro(F.col("embedding")).alias("e")
    )
    anchors = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("e").alias("ae"),
    )
    pairs = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("a_id"))
        .select(
            "a_id",
            "a_label",
            F.col("label").alias("c_label"),
            sq_dist_micro(F.col("ae"), F.col("e")).alias("d2"),
        )
    )
    d_pos = F.min(F.when(F.col("c_label") == F.col("a_label"), F.col("d2")))
    d_neg = F.min(F.when(F.col("c_label") != F.col("a_label"), F.col("d2")))
    return pairs.groupBy("a_id", "a_label").agg(
        d_pos.cast("long").alias("d2_pos"),
        d_neg.cast("long").alias("d2_neg"),
        (d_neg - d_pos).cast("long").alias("margin"),
        (d_neg > d_pos).cast("int").alias("healthy"),
    )


@query(
    "active_learning_margin_pick",
    oracle="""
    WITH m AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS e
        FROM embeddings
    ),
    cdims AS (
        SELECT label, i AS dim,
               CAST((2 * SUM(e[i]) + COUNT(*) + 2 * COUNT(*) * 1000000)
                    // (2 * COUNT(*)) - 1000000 AS BIGINT) AS c
        FROM m, unnest(range(1, 65)) t(i)
        GROUP BY label, i
    ),
    pt AS (
        SELECT vec_id, m.label AS true_label, i AS dim, e[i] AS v
        FROM m, unnest(range(1, 65)) t(i)
    ),
    dist AS (
        SELECT p.vec_id, p.true_label, c.label AS cand,
               CAST(SUM(CAST(p.v - c.c AS HUGEINT) * (p.v - c.c))
                    AS BIGINT) AS d2
        FROM pt p JOIN cdims c ON c.dim = p.dim
        GROUP BY p.vec_id, p.true_label, c.label
    ),
    ranked AS (
        SELECT vec_id, true_label, cand, d2,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY d2, cand
               ) AS r
        FROM dist
    ),
    margins AS (
        SELECT vec_id, true_label,
               CAST(MAX(CASE WHEN r = 1 THEN cand END) AS INTEGER)
                   AS best_label,
               CAST(MAX(CASE WHEN r = 2 THEN d2 END)
                    - MAX(CASE WHEN r = 1 THEN d2 END) AS BIGINT)
                   AS margin
        FROM ranked WHERE r <= 2
        GROUP BY vec_id, true_label
    )
    SELECT vec_id, true_label, best_label, margin
    FROM margins ORDER BY margin, vec_id LIMIT 20
    """,
)
def active_learning_margin_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-learning margin sampling (M336): the 20 vectors whose
    two nearest LABEL CENTROIDS are closest together — the
    smallest-margin points are where the (centroid) classifier is
    least certain, so they are the highest-value candidates for the
    next labeling budget (Lewis & Gale margin sampling, public).
    Completes the embedding-labeling loop: `label_centroids` builds
    the model, `nearest_centroid_confusion` scores it, THIS decides
    what to label next.

    Exactness: centroids are half-up integer micro means with a
    +10⁶ OFFSET inside the div — Σv can be NEGATIVE and the two
    engines disagree on negative integer division (Spark div
    truncates toward zero, DuckDB // floors); the offset keeps every
    numerator positive where they agree (a new entry in the
    integer-rounding discipline).  Distances are exact HUGEINT sums
    of squared integer differences; the margin is integer
    subtraction; selection is (margin, id)-ordered.

    Scale: |labels|×64 centroid table broadcast; per-point distances
    via the dim join (the nearest-centroid shape); top-2 rank window
    partitioned PER POINT over |labels| rows; TakeOrdered(20).
    """
    from pyspark.sql.window import Window

    from insight_spark.operators.clustering import quantize_micro

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").alias("true_label"),
        quantize_micro(F.col("embedding")).alias("e"),
    )
    pt = emb.select(
        "vec_id",
        "true_label",
        F.posexplode(F.col("e")).alias("dim0", "v"),
    ).select("vec_id", "true_label", (F.col("dim0") + 1).alias("dim"), "v")
    cdims = pt.groupBy(F.col("true_label").alias("label"), "dim").agg(
        F.expr(
            "CAST((2 * SUM(v) + COUNT(*) + 2 * COUNT(*) * 1000000)"
            " div (2 * COUNT(*)) - 1000000 AS BIGINT)"
        ).alias("c")
    )
    dec = "decimal(38,0)"
    dist = (
        pt.join(F.broadcast(cdims), "dim")
        .groupBy("vec_id", "true_label", F.col("label").alias("cand"))
        .agg(
            F.sum(
                (F.col("v") - F.col("c")).cast(dec)
                * (F.col("v") - F.col("c"))
            )
            .cast("long")
            .alias("d2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cand")
    ranked = dist.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") <= 2
    )
    margins = ranked.groupBy("vec_id", "true_label").agg(
        F.max(F.when(F.col("r") == 1, F.col("cand")))
        .cast("int")
        .alias("best_label"),
        (
            F.max(F.when(F.col("r") == 2, F.col("d2")))
            - F.max(F.when(F.col("r") == 1, F.col("d2")))
        )
        .cast("long")
        .alias("margin"),
    )
    return margins.orderBy("margin", "vec_id").limit(20)


@query(
    "weighted_jaccard_pairs",
    oracle=rf"""
    WITH tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM (
            SELECT doc_id,
                   unnest({tokens_sql('text')}) AS token
            FROM documents
        ) GROUP BY doc_id, token
    ),
    tot AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY doc_id
    ),
    inter AS (
        SELECT a.doc_id AS a_id,
               CAST(SUM(least(a.c, b.c)) AS BIGINT) AS i
        FROM tf a JOIN tf b
          ON b.doc_id = a.doc_id + 1 AND b.token = a.token
        GROUP BY a.doc_id
    )
    SELECT ta.doc_id AS a_id, tb.doc_id AS b_id,
           ta.n AS n_a, tb.n AS n_b,
           CAST(COALESCE(i.i, 0) AS BIGINT) AS inter_mass,
           CAST((2000000 * COALESCE(i.i, 0)
                 + (ta.n + tb.n - COALESCE(i.i, 0)))
                // (2 * (ta.n + tb.n - COALESCE(i.i, 0))) AS BIGINT)
               AS weighted_jaccard_ppm
    FROM tot ta
    JOIN tot tb ON tb.doc_id = ta.doc_id + 1
    LEFT JOIN inter i ON i.a_id = ta.doc_id
    """,
)
def weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (multiset) Jaccard of adjacent doc pairs (M338):
    Σ min(tfₐ, tf_b) / Σ max(tfₐ, tf_b) over TERM COUNTS — the
    bag-of-words refinement of `token_jaccard_pairs`' set Jaccard,
    and the right near-dup metric for TEMPLATED text (two documents
    repeating the same boilerplate 1× vs 20× are set-identical but
    multiset-distant; set Jaccard merges them, weighted Jaccard
    doesn't — the false-merge mode template-heavy crawls hit).

    Exactness: Σmax rewritten as nₐ + n_b − Σmin, so the whole
    measure is three exact integer aggregates and ONE half-up ppm —
    no per-term max materialization, no floats.

    Scale: term-frequency reduce (the word-count shuffle), the
    intersection as a (doc-pair, term) equi-join — candidate pairs
    are the bounded adjacent-id set (the J7 convention; any
    LSH/blocking candidate generator slots into the same shape),
    never all-pairs.
    """
    tf = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", F.explode(tokenize(F.col("text"))).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = tf.groupBy("doc_id").agg(F.sum("c").cast("long").alias("n"))
    a = tf.select(
        F.col("doc_id").alias("a_id"), "token", F.col("c").alias("ca")
    )
    b = tf.select(
        (F.col("doc_id") - 1).alias("a_id"),
        "token",
        F.col("c").alias("cb"),
    )
    inter = (
        a.join(b, ["a_id", "token"])
        .groupBy("a_id")
        .agg(
            F.sum(F.least(F.col("ca"), F.col("cb")))
            .cast("long")
            .alias("i")
        )
    )
    ta = tot.select(F.col("doc_id").alias("a_id"), F.col("n").alias("n_a"))
    tb = tot.select(
        (F.col("doc_id") - 1).alias("a_id"), F.col("n").alias("n_b")
    )
    return (
        ta.join(tb, "a_id")
        .join(inter, "a_id", "left")
        .select(
            "a_id",
            (F.col("a_id") + 1).alias("b_id"),
            "n_a",
            "n_b",
            F.coalesce(F.col("i"), F.lit(0))
            .cast("long")
            .alias("inter_mass"),
            F.expr(
                "CAST((2000000 * COALESCE(i, 0)"
                " + (n_a + n_b - COALESCE(i, 0)))"
                " div (2 * (n_a + n_b - COALESCE(i, 0))) AS BIGINT)"
            ).alias("weighted_jaccard_ppm"),
        )
    )


@query(
    "centroid_2fold_accuracy",
    oracle="""
    WITH m AS (
        SELECT vec_id, label, vec_id % 2 AS fold,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS e
        FROM embeddings
    ),
    pt AS (
        SELECT vec_id, label, fold, i AS dim, e[i] AS v
        FROM m, unnest(range(1, 65)) t(i)
    ),
    cdims AS (
        SELECT fold AS train_fold, label, dim,
               CAST((2 * SUM(v) + COUNT(*) + 2 * COUNT(*) * 1000000)
                    // (2 * COUNT(*)) - 1000000 AS BIGINT) AS c
        FROM pt GROUP BY fold, label, dim
    ),
    dist AS (
        SELECT p.vec_id, p.label AS true_label, c.label AS cand,
               CAST(SUM(CAST(p.v - c.c AS HUGEINT) * (p.v - c.c))
                    AS BIGINT) AS d2
        FROM pt p JOIN cdims c
          ON c.dim = p.dim AND c.train_fold = 1 - p.fold
        GROUP BY p.vec_id, p.label, c.label
    ),
    assigned AS (
        SELECT vec_id, true_label,
               CAST(min(struct_pack(d := d2, l := cand))['l'] AS INTEGER)
                   AS pred
        FROM dist GROUP BY vec_id, true_label
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(count_if(pred = true_label) AS BIGINT) AS n_correct,
           CAST((2000000 * count_if(pred = true_label) + COUNT(*))
                // (2 * COUNT(*)) AS BIGINT) AS accuracy_ppm
    FROM assigned
    """,
)
def centroid_2fold_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Honest 2-fold nearest-centroid accuracy (M341): each vector is
    classified by centroids trained on the OTHER fold (vec_id
    parity), so the score is a generalization estimate — the honest
    complement of `nearest_centroid_confusion`, whose train==test
    protocol flatters the model (a centroid partly built FROM the
    test point pulls toward it; with K classes and small folds the
    gap is measurable).  Together the two queries bracket the
    model's optimism bias.

    Exactness: fold centroids use the offset-div half-up mean (the
    M336 negative-division rule); distances exact HUGEINT; the
    assignment is a (distance, label) struct min — deterministic
    tie-break; accuracy half-up ppm.

    Scale: the centroid table is 2·|labels|×64 rows broadcast; per-
    point distances via the dim join; per-point struct-min reduce —
    the nearest-centroid shape with a fold predicate on the join.
    """
    from insight_spark.operators.clustering import quantize_micro

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").alias("true_label"),
        (F.col("vec_id") % 2).alias("fold"),
        quantize_micro(F.col("embedding")).alias("e"),
    )
    pt = emb.select(
        "vec_id",
        "true_label",
        "fold",
        F.posexplode(F.col("e")).alias("dim0", "v"),
    ).select(
        "vec_id", "true_label", "fold", (F.col("dim0") + 1).alias("dim"), "v"
    )
    cdims = pt.groupBy(
        F.col("fold").alias("train_fold"),
        F.col("true_label").alias("label"),
        "dim",
    ).agg(
        F.expr(
            "CAST((2 * SUM(v) + COUNT(*) + 2 * COUNT(*) * 1000000)"
            " div (2 * COUNT(*)) - 1000000 AS BIGINT)"
        ).alias("c")
    )
    dec = "decimal(38,0)"
    cd = cdims.select(
        "train_fold",
        F.col("label").alias("cand"),
        F.col("dim").alias("cdim"),
        "c",
    )
    dist = (
        pt.join(
            F.broadcast(cd),
            (F.col("dim") == F.col("cdim"))
            & (F.col("train_fold") == 1 - F.col("fold")),
        )
        .groupBy("vec_id", "true_label", "cand")
        .agg(
            F.sum(
                (F.col("v") - F.col("c")).cast(dec)
                * (F.col("v") - F.col("c"))
            )
            .cast("long")
            .alias("d2")
        )
    )
    assigned = dist.groupBy("vec_id", "true_label").agg(
        F.min(F.struct(F.col("d2"), F.col("cand")))
        .getField("cand")
        .cast("int")
        .alias("pred")
    )
    return assigned.agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.count_if(F.col("pred") == F.col("true_label"))
        .cast("long")
        .alias("n_correct"),
        F.expr(
            "CAST((2000000 * count_if(pred = true_label) + COUNT(*))"
            " div (2 * COUNT(*)) AS BIGINT)"
        ).alias("accuracy_ppm"),
    )


@query(
    "overlap_coefficient_pairs",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {token_set_sql('text')} AS s
        FROM documents
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter_size,
           CAST(least(len(a.s), len(b.s)) AS BIGINT) AS min_size,
           CAST((2000000 * len(list_intersect(a.s, b.s))
                 + least(len(a.s), len(b.s)))
                // (2 * least(len(a.s), len(b.s))) AS BIGINT)
               AS overlap_ppm
    FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
    """,
)
def overlap_coefficient_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap (Szymkiewicz-Simpson) coefficient pairs (M349):
    |A∩B| / min(|A|, |B|) for candidate doc pairs — the CONTAINMENT
    similarity completing the pairwise-set trio (Jaccard J7
    penalizes size difference, weighted Jaccard M338 counts
    multiplicity; overlap is 1.0 whenever one vocabulary CONTAINS
    the other, whatever the size gap) — exactly the quote-inclusion
    / excerpt-republication case whole-doc Jaccard scores low and
    misses.

    Exactness: exact set sizes and intersection; half-up ppm; the
    bounded adjacent-id candidate set (the J7 convention — any
    blocking generator slots in).

    Scale: map-side distinct-token arrays, one candidate equi-join,
    codegen'd array intersect — no shuffle of content beyond the
    pair join key.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.array_distinct(tokenize(F.col("text"))).alias("s")
    )
    a = toks.select(
        F.col("doc_id").alias("a_id"), F.col("s").alias("sa")
    )
    b = toks.select(
        (F.col("doc_id") - 1).alias("a_id"),
        F.col("doc_id").alias("b_id"),
        F.col("s").alias("sb"),
    )
    j = a.join(b, "a_id")
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    mn = F.least(F.size(F.col("sa")), F.size(F.col("sb")))
    return j.select(
        "a_id",
        "b_id",
        inter.cast("long").alias("inter_size"),
        mn.cast("long").alias("min_size"),
        (
            (2000000 * inter + mn)
            .cast("long")
        ).alias("_num"),
    ).select(
        "a_id",
        "b_id",
        "inter_size",
        "min_size",
        F.expr("CAST(_num div (2 * min_size) AS BIGINT)").alias(
            "overlap_ppm"
        ),
    )
