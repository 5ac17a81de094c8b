"""LLM-pipeline dedup/ANN variants + K2/K3 batch forms + D13.

Fills the remaining SURVEY.md §2 rows: SimHash near-dup (J6 family),
embedding-cosine near-dup, LSH-bucketed ANN (J3 scale path, rows-only),
n-gram Jaccard (I4+J7), sliding/session windows (K2/K3 batch forms),
GROUPING SETS (D13).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_spark.operators.dedup import (
    jaccard,
    simhash_fingerprints,
    simhash_oracle_sql,
)
from insight_spark.operators.relational import money_out
from insight_spark.operators.similarity import (
    cosine,
    dot,
    embedding_sql,
    ivf_cells_ctes,
    l2_norm,
    lsh_bucket_join,
)
from insight_spark.operators.text import ngrams, tokenize, tokens_sql
from insight_spark.queries import StressCap, query
from insight_spark.sources import load_table

MONEY = "decimal(38,6)"


@query(
    "simhash_near_dup",
    oracle=simhash_oracle_sql()
    + """
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON b.doc_id = a.doc_id + 1
    """,
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints + Hamming distance of adjacent doc pairs.

    The fingerprint uses an md5-nibble hash so the whole sketch is
    value-oracle-checkable cross-engine (operators/dedup.py).  At scale:
    one shuffle to build fingerprints (16 bytes/doc), then candidate
    pairing is by fingerprint band — here adjacent ids keep the oracle
    exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = simhash_fingerprints(docs)
    a = fp.select(F.col("doc_id").alias("a_id"), F.col("simhash").alias("a_fp"))
    b = fp.select(F.col("doc_id").alias("b_id"), F.col("simhash").alias("b_fp"))
    return (
        a.join(b, F.col("b_id") == F.col("a_id") + 1)
        .select(
            "a_id",
            "b_id",
            F.bit_count(F.col("a_fp").bitwiseXOR(F.col("b_fp")))
            .cast("int")
            .alias("hamming"),
        )
    )


# Cost cap for the O(n²) exact baseline below (the
# jaccard_threshold_join idiom, corpus_extra.py): above 1,000 vectors
# (sf0.1 has 2,000) both sides keep the md5-range quarter of vectors;
# the driver tier (500 vectors) keeps the exact full-corpus form.
_ENDUP_CAP = StressCap("embeddings", "vec_id", 1_000)


@query(
    "embedding_near_dup",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label,
               {embedding_sql()} AS v
        FROM embeddings WHERE {_ENDUP_CAP.sql}
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM e a JOIN e b ON b.vec_id > a.vec_id
    WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.4
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup mandate).

    Exact all-pairs form — the correctness baseline.  The 100 TB path
    swaps in the LSH bucket prefilter (ann_lsh_topk below /
    operators/similarity.lsh_bucket_join): same scoring, candidate set
    shrunk from O(N²) to same-bucket pairs.  Threshold 0.4 sits in the
    top tail of the fixture's near-random vectors (max pairwise ≈ 0.51).

    Norms are computed once per ROW before the pair join, not once per
    pair (N vs N² sqrt-of-fold evaluations — measured 11.0 s → 2.9 s
    cold at sf0.01); the arithmetic is the identical expression tree
    just hoisted, so scores stay bit-equal to the naive form.
    """
    emb = _ENDUP_CAP.load(spark, sf_dir)
    a = emb.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_v"),
        l2_norm(F.col("embedding")).alias("a_n"),
    )
    b = emb.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_v"),
        l2_norm(F.col("embedding")).alias("b_n"),
    )
    denom = F.col("a_n") * F.col("b_n")
    sim = F.round(
        F.when(denom == 0.0, F.lit(0.0)).otherwise(
            dot(F.col("a_v"), F.col("b_v")) / denom
        ),
        6,
    )
    return (
        a.join(b, F.col("b_id") > F.col("a_id"))
        .select("a_id", "b_id", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.4)
    )


def _ann_lsh_oracle(
    k: int = 5, n_planes: int = 4, n_tables: int = 8, dim: int = 64
) -> str:
    """DuckDB replay of the literal-sign-matrix LSH: the same ±1 plane
    components (operators/similarity.lsh_plane_signs) embedded as a
    VALUES table, projections as exact BIGINT sums of floor(x·1e6)·s —
    associative integer math, so bucket ids match Spark bit-for-bit."""
    from insight_spark.operators.similarity import lsh_plane_signs

    signs = lsh_plane_signs(n_tables, n_planes, dim)
    rows = ",\n            ".join(
        f"({t}, {p}, [{', '.join(str(s) for s in signs[t][p])}])"
        for t in range(n_tables)
        for p in range(n_planes)
    )
    return f"""
    WITH planes AS (
        SELECT * FROM (VALUES
            {rows}
        ) AS t(tbl, p, s)
    ),
    vecs AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS iv,
               {embedding_sql()} AS v
        FROM embeddings
    ),
    proj AS (
        SELECT vec_id, tbl, p,
               list_sum(list_transform(range(1, {dim + 1}),
                   i -> iv[i] * s[i])) AS pr
        FROM vecs CROSS JOIN planes
    ),
    bkt AS (
        SELECT vec_id, tbl,
               SUM(CASE WHEN pr >= 0
                   THEN CAST(POW(2, p) AS BIGINT) ELSE 0 END) AS bucket
        FROM proj GROUP BY vec_id, tbl
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS q_vec_id, c.vec_id AS c_vec_id
        FROM bkt q JOIN bkt c ON q.tbl = c.tbl AND q.bucket = c.bucket
        WHERE q.vec_id < 10
    ),
    pairs AS (
        SELECT q_vec_id, c_vec_id,
               ROUND(list_cosine_similarity(qv.v, cv.v), 6) AS cos_sim
        FROM cand
        JOIN vecs qv ON qv.vec_id = q_vec_id
        JOIN vecs cv ON cv.vec_id = c_vec_id
    )
    SELECT q_vec_id, c_vec_id, cos_sim, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_vec_id ORDER BY cos_sim DESC, c_vec_id
        ) AS rank
        FROM pairs
    )
    WHERE rank <= {k}
    """


@query("ann_lsh_topk", oracle=_ann_lsh_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate knn via random-hyperplane LSH buckets (J3 scale path).

    r6: upgraded from rows-only to full value parity — the hyperplanes
    are a literal ±1 sign matrix (md5-derived driver-side, O(T·P·D)
    model state) and the projection is an exact BIGINT sum, so the
    DuckDB oracle replays bucketing, candidate generation, scoring,
    and ranking bit-identically.  Recall vs the exact knn_cosine_topk
    is additionally gated in ann_lsh_recall_gate /
    tests/test_pipeline_extra.py.
    """
    from insight_spark.operators.similarity import lsh_plane_signs

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_vec_id"), F.col("embedding").alias("c_embedding")
    )
    return lsh_bucket_join(
        queries,
        corpus,
        k=5,
        plane_signs=lsh_plane_signs(8, 4, 64),
    )


@query(
    "event_type_sequences",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(event_type)), ',') AS types_sorted,
           COUNT(*) AS n,
           concat('{"user_id":', user_id, ',"n":', COUNT(*), '}') AS json_summary
    FROM events
    GROUP BY user_id
    """,
)
def event_type_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list (D10, array_sort both sides — Spark collect order is
    nondeterministic) + to_json struct serialization (H14 write side;
    the oracle reproduces Spark's compact JSON byte-for-byte).

    Driver-facing schema is all-scalar: the sorted array is serialized
    with array_join (oracle: array_to_string) because the driver's
    canonicalizer sorts the pandas frame and a raw array column is
    unhashable (round-2 error row)."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list("event_type")).alias("_types"),
        F.count("*").alias("n"),
    )
    return g.select(
        "user_id",
        F.array_join("_types", ",").alias("types_sorted"),
        "n",
        F.to_json(F.struct("user_id", "n")).alias("json_summary"),
    )


@query(
    "ann_ivf_topk",
    oracle=f"""
    WITH c AS (
        SELECT vec_id AS c_vec_id,
               {embedding_sql()} AS e
        FROM embeddings
    ),
    {ivf_cells_ctes('c', 'c_vec_id', 8)},
    q AS (SELECT c_vec_id AS q_vec_id, e AS q_e FROM c WHERE c_vec_id < 10),
    probes AS (
        SELECT q_vec_id, q_e, cell_id FROM (
            SELECT q.q_vec_id, q.q_e, cents.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_vec_id
                       ORDER BY list_distance(q.q_e, cents.centroid),
                                cents.cell_id) AS rn
            FROM q CROSS JOIN cents
        ) WHERE rn <= 3
    ),
    pairs AS (
        SELECT p.q_vec_id, a.c_vec_id,
               ROUND(list_cosine_similarity(p.q_e, a.e), 6) AS cos_sim
        FROM probes p JOIN assigned a USING (cell_id)
    )
    SELECT q_vec_id, c_vec_id, cos_sim, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_vec_id ORDER BY cos_sim DESC, c_vec_id
        ) AS rank
        FROM pairs
    ) WHERE rank <= 5
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate knn via IVF cells (J3 scale path #2).

    Deterministic coarse quantizer (first-8-by-id centroids) + 3-cell
    probe; recall vs exact knn asserted in
    tests/test_pipeline_extra.py.  Value-oracled as of r5: every stage
    (centroid seeding, nearest-cell assignment with (dist, cell) tie
    break, probe selection, per-cell cosine ranking) is replayed by
    DuckDB — Euclidean argmin ordering is monotone-invariant to the
    sqrt so list_distance mirrors l2_distance exactly.
    """
    from insight_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        seeded_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_vec_id"), F.col("embedding").alias("c_embedding")
    )
    cents = seeded_centroids(corpus, n_cells=8)
    indexed = ivf_assign(corpus, cents)
    return ivf_topk(queries, indexed, cents, k=5, n_probe=3)


@query(
    "ngram_jaccard",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                   i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS s
        FROM toks
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           ROUND(CASE WHEN len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) = 0
                      THEN 0.0
                      ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                 END, 6) AS trigram_jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    """,
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram shingle Jaccard of adjacent doc pairs (I4 + J7 — the
    n-gram near-dup signal from the dedup mandate)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.array_distinct(ngrams(tokenize(F.col("text")), 3)).alias("s"),
    )
    a = sh.select(F.col("doc_id").alias("a_id"), F.col("s").alias("a_s"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("s").alias("b_s"))
    return a.join(b, F.col("b_id") == F.col("a_id") + 1).select(
        "a_id",
        "b_id",
        F.round(jaccard(F.col("a_s"), F.col("b_s")), 6).alias("trigram_jaccard"),
    )


@query(
    "sliding_window_counts",
    oracle="""
    SELECT time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE * s
               AS window_start,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_value
    FROM events, unnest([0, 1]) AS t(s)
    GROUP BY 1
    """,
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 10-min window, 5-min slide (K2 batch form).

    Each event lands in exactly 2 epoch-aligned windows; the oracle
    materializes both shifted 5-min buckets.  Streaming form: identical
    expression under readStream + watermark (insight_spark.streaming).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast(MONEY)).alias("_sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "n_users",
            money_out("_sum_value").alias("sum_value"),
        )
    )


@query(
    "session_window_agg",
    oracle="""
    WITH flags AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER w < INTERVAL 30 MINUTE
                    THEN 0 ELSE 1 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flags
    )
    SELECT user_id, MIN(ts) AS session_start,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_value
    FROM sess GROUP BY user_id, sid
    """,
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows, 30-min gap (K3 batch form).

    ``F.session_window`` merges events whose windows overlap (strict
    ``<`` gap); the oracle reproduces that with lag-gap sessionization.
    Streaming form: same expression + withWatermark (state-store backed,
    tests/test_streaming.py).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(MONEY)).alias("_sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            money_out("_sum_value").alias("sum_value"),
        )
    )


@query(
    "session_window_dynamic_gap",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, epoch_ms(ts) AS t,
               CASE event_type WHEN 'click' THEN 600000
                               WHEN 'view' THEN 1200000
                               ELSE 1800000 END AS gap_ms
        FROM events
    ),
    m AS (
        SELECT user_id, t, t + gap_ms AS e_end,
               MAX(t + gap_ms) OVER (
                   PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_max
        FROM e
    ),
    f AS (
        SELECT user_id, t, e_end,
               CASE WHEN prev_max IS NULL OR t >= prev_max
                    THEN 1 ELSE 0 END AS brk
        FROM m
    ),
    s AS (
        SELECT user_id, t, e_end,
               SUM(brk) OVER (
                   PARTITION BY user_id ORDER BY t, e_end
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM f
    )
    SELECT user_id,
           MIN(t) AS session_start_ms,
           MAX(e_end) AS session_end_ms,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows (K3 depth): the inactivity gap is a
    per-EVENT expression — clicks tolerate 10 idle minutes, views 20,
    purchases/signups 30 — so engaged-intent events hold a session
    open longer.  Each event contributes the interval [ts, ts+gap) and
    Spark merges overlapping intervals per key; this is genuine
    interval-union semantics (an event can bridge two otherwise-apart
    neighbors), NOT the fixed-gap lag test, which is why the oracle
    replays it with the running-max-of-interval-end island algorithm
    rather than lag().

    Boundary pinned by the oracle's ``t >= prev_max`` break: Spark
    windows are end-EXCLUSIVE, so an event landing exactly on the
    running end starts a new session.  Epoch-ms outputs keep the hash
    free of timestamp rendering.  Scale: one user-key shuffle, same
    state shape as the fixed-gap form.
    """
    ev = load_table(spark, sf_dir, "events")
    gap = (
        F.when(F.col("event_type") == "click", F.lit("10 minutes"))
        .when(F.col("event_type") == "view", F.lit("20 minutes"))
        .otherwise(F.lit("30 minutes"))
    )
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_millis("w.start").alias("session_start_ms"),
            F.unix_millis("w.end").alias("session_end_ms"),
            "n_events",
        )
    )


@query(
    "nulls_ordering",
    oracle="""
    SELECT event_id, nullif(event_type, 'click') AS et
    FROM events
    ORDER BY et DESC NULLS LAST, event_id
    LIMIT 50
    """,
)
def nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULLS FIRST/LAST ordering (F2) with a unique tie-break (§7.4.3)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id", F.nullif(F.col("event_type"), F.lit("click")).alias("et")
        )
        .orderBy(F.desc_nulls_last("et"), F.asc("event_id"))
        .limit(50)
    )


@query(
    "sql_registered_udf",
    oracle="""
    SELECT doc_id,
           ROUND(1.0 / (1.0 + exp(-(CAST(length(text) AS DOUBLE) / 100.0))), 6)
               AS quality
    FROM documents
    """,
)
def sql_registered_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UDF registration (L6): the L1 pandas UDF registered via
    ``spark.udf.register`` and invoked from ``spark.sql`` — the SQL-string
    entry path of SURVEY.md §3.2."""
    from insight_spark.queries.vectors_extra import _sigmoid_len_score

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "_l6_documents"
    )
    spark.udf.register("quality_score", _sigmoid_len_score())
    return spark.sql(
        "SELECT doc_id, ROUND(quality_score(text), 6) AS quality"
        " FROM _l6_documents"
    )


@query(
    "grouping_sets_agg",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (D13): per-status, per-priority, and grand totals
    in one pass (Spark expands to a single expand+hash-agg, one
    shuffle)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast(MONEY)).alias("_sum_price"),
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            "n",
            money_out("_sum_price").alias("sum_price"),
        )
    )


@query(
    "ivm_additive_merge",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value * 1000000 AS BIGINT)) AS BIGINT)
               AS sum_micro,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
    """,
)
def ivm_additive_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for additive aggregates: the corpus
    splits into a BASE batch and a DELTA batch (md5 range — the
    yesterday/today ingest boundary), each is aggregated
    independently, and the two partial states merge algebraically
    (counts add, micro-sums add, min/least, max/greatest) — never
    touching base rows again.

    The oracle aggregates the WHOLE table in one pass: the hash check
    proves merged-partials == full recompute, the property that makes
    a 100 TB rolling aggregate maintainable by shipping only each
    day's delta partials.  Values quantize to integer micros before
    summing, so partial sums merge exactly in any order (the SURVEY
    §7.4 discipline applied to state, not just output).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    is_delta = F.substring(
        F.md5(F.col("event_id").cast("string")), 1, 2
    ) >= "c0"
    micro = F.round(F.col("value") * 1000000).cast("long")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(micro).alias("sum_micro"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )

    base = partial(ev.filter(~is_delta))
    delta = partial(ev.filter(is_delta))
    b, d = base.alias("b"), delta.alias("d")
    return (
        b.join(d, F.col("b.event_type") == F.col("d.event_type"), "full")
        .select(
            F.coalesce(F.col("b.event_type"), F.col("d.event_type")).alias(
                "event_type"
            ),
            (
                F.coalesce(F.col("b.n_events"), F.lit(0))
                + F.coalesce(F.col("d.n_events"), F.lit(0))
            ).alias("n_events"),
            (
                F.coalesce(F.col("b.sum_micro"), F.lit(0))
                + F.coalesce(F.col("d.sum_micro"), F.lit(0))
            ).alias("sum_micro"),
            F.least(F.col("b.min_value"), F.col("d.min_value")).alias(
                "min_value"
            ),
            F.greatest(F.col("b.max_value"), F.col("d.max_value")).alias(
                "max_value"
            ),
        )
    )


@query(
    "ivm_join_delta",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view — the delta-rule
    companion of ``ivm_additive_merge``'s pure-aggregate case.  With
    both join inputs split into base and delta batches (A = A0 ∪ ΔA,
    B = B0 ∪ ΔB; md5-range ingest boundaries, independent per table),
    the view decomposes exactly:

        A ⋈ B  =  (A0 ⋈ B0)  ∪  (ΔA ⋈ B)  ∪  (A0 ⋈ ΔB)

    (the ΔA⋈B term absorbs ΔA⋈ΔB, so each new-row pair is produced
    exactly once).  The aggregate on top is additive, so the three
    branches union BELOW one hash aggregate: Spark computes map-side
    partials per branch and merges them in a single shuffle — the
    merge algebra IS the plan, not driver code.

    The oracle joins and aggregates the whole tables in one pass: the
    hash check proves delta-decomposed == full recompute.  At 100 TB
    the base term agg(A0 ⋈ B0) is the materialized view state
    computed once; each refresh ships only the two delta joins, whose
    cost scales with the DELTA (broadcast when a day's ingest fits,
    shuffled-on-key otherwise) — never rejoining base-with-base.
    Revenue follows the DECIMAL(38,6) money discipline, so partial
    sums merge exactly in any order.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o_is_delta = (
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) >= "d0"
    )
    l_is_delta = (
        F.substring(
            F.md5(
                F.concat_ws(
                    "-",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            1,
            2,
        )
        >= "d0"
    )
    o0, od = orders.filter(~o_is_delta), orders.filter(o_is_delta)
    l0, ld = li.filter(~l_is_delta), li.filter(l_is_delta)

    def joined(o: DataFrame, l: DataFrame) -> DataFrame:
        return o.join(
            l, F.col("o_orderkey") == F.col("l_orderkey")
        ).select(
            "o_orderpriority",
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast(MONEY)
            .alias("_rev"),
        )

    view = joined(o0, l0).unionAll(joined(od, li)).unionAll(joined(o0, ld))
    return view.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        money_out(F.sum("_rev")).alias("revenue"),
    )


@query(
    "hashing_trick_features",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest({tokens_sql('text')}) AS token
        FROM documents
    ),
    bucketed AS (
        SELECT doc_id,
               CAST(strpos('0123456789abcdef', substr(md5(token), 1, 1)) - 1
                    AS INTEGER) AS bucket
        FROM toks
    )
    SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS weight
    FROM bucketed GROUP BY doc_id, bucket
    """,
)
def hashing_trick_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick): tokens hash directly into a
    fixed 16-dim bucket space — the vocabulary-free featurizer that
    feeds linear quality classifiers at corpus scale (no vocab table
    to build, broadcast, or version; collisions are the accepted
    trade).

    Bucket = the first md5 hex nibble decoded via the simhash idiom
    ``instr('0123456789abcdef', nibble) - 1`` (cross-engine, pure
    string ops, no hex-to-int cast) — a uniform 0..15 value, every
    bucket reachable with equal probability.  Map-only explode + one
    (doc, bucket) count aggregate; output is the sparse (doc_id,
    bucket, weight) triple form that assembles into vectors
    downstream.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("token")
    )
    bucket = F.expr(
        "instr('0123456789abcdef', substr(md5(token), 1, 1)) - 1"
    )
    return (
        toks.select("doc_id", bucket.cast("int").alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("weight"))
    )


def _ann_lsh_recall_eval_oracle(
    k: int = 5, n_planes: int = 4, n_tables: int = 8, dim: int = 64
) -> str:
    """DuckDB replay for the per-query LSH recall eval: the
    `_ann_lsh_oracle` bucketing/candidate CTEs plus a brute-force exact
    top-k side, met per (query, candidate) and anchored on the full
    query set (zero-hit queries count as recall 0)."""
    from insight_spark.operators.similarity import lsh_plane_signs

    signs = lsh_plane_signs(n_tables, n_planes, dim)
    rows = ",\n            ".join(
        f"({t}, {p}, [{', '.join(str(s) for s in signs[t][p])}])"
        for t in range(n_tables)
        for p in range(n_planes)
    )
    return f"""
    WITH planes AS (
        SELECT * FROM (VALUES
            {rows}
        ) AS t(tbl, p, s)
    ),
    vecs AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS iv,
               {embedding_sql()} AS v
        FROM embeddings
    ),
    proj AS (
        SELECT vec_id, tbl, p,
               list_sum(list_transform(range(1, {dim + 1}),
                   i -> iv[i] * s[i])) AS pr
        FROM vecs CROSS JOIN planes
    ),
    bkt AS (
        SELECT vec_id, tbl,
               SUM(CASE WHEN pr >= 0
                   THEN CAST(POW(2, p) AS BIGINT) ELSE 0 END) AS bucket
        FROM proj GROUP BY vec_id, tbl
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
        FROM bkt q JOIN bkt c ON q.tbl = c.tbl AND q.bucket = c.bucket
        WHERE q.vec_id < 10
    ),
    approx AS (
        SELECT q_id, c_id FROM (
            SELECT cand.q_id, cand.c_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY cand.q_id
                       ORDER BY ROUND(list_cosine_similarity(qv.v, cv.v), 6)
                                    DESC,
                                cand.c_id) AS rn
            FROM cand
            JOIN vecs qv ON qv.vec_id = cand.q_id
            JOIN vecs cv ON cv.vec_id = cand.c_id
        ) WHERE rn <= {k}
    ),
    exact AS (
        SELECT q_id, c_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND(list_cosine_similarity(q.v, c.v), 6)
                                    DESC,
                                c.vec_id) AS rn
            FROM vecs q CROSS JOIN vecs c
            WHERE q.vec_id < 10
        ) WHERE rn <= {k}
    )
    SELECT q.vec_id AS q_vec_id,
           CAST(COALESCE(h.n_hits, 0) AS INTEGER) AS n_hits,
           ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {k}, 6) AS recall
    FROM (SELECT vec_id FROM vecs WHERE vec_id < 10) q
    LEFT JOIN (
        SELECT e.q_id, COUNT(*) AS n_hits
        FROM exact e JOIN approx a ON a.q_id = e.q_id AND a.c_id = e.c_id
        GROUP BY e.q_id
    ) h ON h.q_id = q.vec_id
    """


@query("ann_lsh_recall_eval", oracle=_ann_lsh_recall_eval_oracle())
def ann_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query LSH recall eval (M155) — the LSH leg of the eval suite
    `ann_recall_eval` (M149) opened for IVF: for each of the 10 eval
    queries, how many of the exact top-5 the 8-table/4-plane
    hyperplane-LSH index returned, and the recall fraction.  Upgrades
    the second bound-oracle gate (`ann_lsh_recall_gate`, a TRUE row)
    to a fully value-hash-checked report: the DuckDB side replays the
    literal ±1 sign matrix, integer-micro projections, bucket ids,
    candidate join, and rounded-cosine rank bit-identically
    (`_ann_lsh_oracle`'s machinery), so a regression anywhere in the
    bucketing flips the driver hash — and the per-query rows say WHICH
    queries lose neighbors, where the gate only said pass/fail.

    Scale: identical legs to M149 — the exact side is the bounded-eval
    broadcast baseline, the LSH side the production bucket equi-join.
    """
    from insight_spark.operators.similarity import (
        knn_topk,
        lsh_bucket_join,
        lsh_plane_signs,
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
    approx = lsh_bucket_join(
        queries,
        corpus,
        k=5,
        plane_signs=lsh_plane_signs(8, 4, 64),
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
    "sft_dialogue_assembly",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type IN ('click', 'view', 'signup')
                    THEN 'U' ELSE 'A' END AS role
        FROM events
    ),
    lagged AS (
        SELECT user_id, ts, event_id, role,
               LAG(role) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM tagged
    ),
    assembled AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_turns,
               CAST(COUNT(*) FILTER (WHERE role = prev) AS BIGINT)
                   AS n_violations,
               string_agg(role, '' ORDER BY ts, event_id) AS transcript
        FROM lagged GROUP BY user_id
    )
    SELECT user_id, n_turns, n_violations,
           n_turns - n_violations AS n_merged_turns,
           transcript,
           substr(transcript, 1, 1) = 'U' AS opens_with_user
    FROM assembled
    """,
)
def sft_dialogue_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT dialogue assembly (M162) — the chat-data prep step that turns
    an event log into per-conversation turn sequences: each user's
    events, time-ordered, become a role transcript ('U'ser /
    'A'ssistant — here a deterministic event_type mapping stands in for
    the real message-role column), with the QA numbers every SFT
    pipeline gates on before templating: turn count, role-alternation
    violations (adjacent same-role messages — real pipelines merge
    them, so the post-merge turn count ships too), and whether the
    conversation opens with a user turn (chat templates require it).

    Exactness: everything is counts, ordered string assembly with a
    unique (ts, event_id) tie-break, and a substring test — no floats.

    Scale: ONE shuffle on the conversation key serves both the lag
    window and the ordered collect (same partitioning); per-key state
    is one conversation's turns — the transcript column is the
    conversation itself, which is exactly what the op must emit.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    role = F.when(
        F.col("event_type").isin("click", "view", "signup"), F.lit("U")
    ).otherwise(F.lit("A"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id", "ts", "event_id", role.alias("role")
    ).withColumn("prev", F.lag("role").over(w))
    assembled = lagged.groupBy("user_id").agg(
        F.count("*").alias("n_turns"),
        F.count_if(F.col("role") == F.col("prev")).alias("n_violations"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "role"))
                ),
                lambda t: t["role"],
            ),
            "",
        ).alias("transcript"),
    )
    return assembled.select(
        "user_id",
        "n_turns",
        "n_violations",
        (F.col("n_turns") - F.col("n_violations")).alias("n_merged_turns"),
        "transcript",
        (F.substring("transcript", 1, 1) == "U").alias("opens_with_user"),
    )


@query(
    "feature_hash_collision_audit",
    oracle=f"""
    WITH vocab AS (
        SELECT DISTINCT
               unnest({tokens_sql('text')}) AS token
        FROM documents
    ),
    tf AS (
        SELECT token, COUNT(*) AS occurrences
        FROM (
            SELECT unnest({tokens_sql('text')}) AS token
            FROM documents
        ) GROUP BY token
    ),
    bucketed AS (
        SELECT v.token, tf.occurrences,
               CAST((strpos('0123456789abcdef', substr(md5(v.token), 1, 1))
                     - 1) * 16
                    + strpos('0123456789abcdef', substr(md5(v.token), 2, 1))
                    - 1 AS INTEGER) AS bucket
        FROM vocab v JOIN tf USING (token)
    ),
    loads AS (
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(occurrences) AS BIGINT) AS occurrences
        FROM bucketed GROUP BY bucket
    )
    SELECT n_tokens AS load,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(occurrences) AS BIGINT) AS occurrences
    FROM loads GROUP BY n_tokens
    """,
)
def feature_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hash collision audit (M185): the load histogram of the
    hashing trick's bucket space — for a 256-bucket table, how many
    buckets hold 1 distinct token, 2, 3, … and how many token
    OCCURRENCES ride each load class.  The dimensioning report read
    before committing a hash width: heavy multi-token buckets mean
    the collision noise the trick accepts is landing on real signal
    mass (occurrences), and vocab/256 ≫ typical load says widen the
    table.  Buckets with zero tokens simply don't appear (n_empty =
    256 − Σ n_buckets).

    Bucket = the first TWO md5 hex nibbles decoded via the
    cross-engine ``instr('0123456789abcdef', nibble) − 1`` idiom (the
    `hashing_trick_features` / simhash convention — pure string ops,
    no hex-to-int cast divergence).

    Scale: one token-keyed distinct+count aggregate (the word-count
    shuffle), then everything runs on ≤256 bucket rows and ≤|vocab|
    load classes.  All columns exact BIGINTs — no division at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokenize(F.col("text"))).alias("token")
    )
    tf = toks.groupBy("token").agg(F.count("*").alias("occurrences"))
    bucket = F.expr(
        "(instr('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 16"
        " + instr('0123456789abcdef', substr(md5(token), 2, 1)) - 1"
    )
    loads = (
        tf.select(bucket.cast("int").alias("bucket"), "occurrences")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("occurrences").cast("long").alias("occurrences"),
        )
    )
    return loads.groupBy(F.col("n_tokens").alias("load")).agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum("occurrences").cast("long").alias("occurrences"),
    )


@query(
    "pass_at_k_estimator",
    oracle="""
    WITH per_prompt AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(count_if(event_type = 'purchase') AS BIGINT) AS c
        FROM events GROUP BY user_id
    ),
    ks AS (SELECT unnest([1, 5, 10]) AS k),
    est AS (
        SELECT k, user_id,
               CASE WHEN n - c < k THEN CAST(1000000 AS BIGINT)
                    ELSE CAST(floor(1000000 * (1.0 - list_reduce(
                        list_prepend(CAST(1.0 AS DOUBLE),
                            list_transform(range(k),
                                i -> CAST(n - c - i AS DOUBLE) / (n - i))),
                        (a, b) -> a * b)) + 0.5) AS BIGINT)
               END AS pass_micro
        FROM per_prompt, ks
        WHERE n >= k
    )
    SELECT CAST(k AS INT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_prompts,
           CAST(SUM(pass_micro) AS DOUBLE) / (1000000.0 * COUNT(*))
               AS mean_pass_at_k
    FROM est GROUP BY k
    """,
)
def pass_at_k_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k (M203, Chen et al. 2021 "Evaluating LLMs
    Trained on Code"): per prompt with n samples and c correct,
    pass@k = 1 − C(n−c,k)/C(n,k), averaged over prompts — the
    code-eval headline metric, computed with the numerically-stable
    product form Π_{i<k} (n−c−i)/(n−i) instead of factorials (the
    paper's own recommendation; binomials overflow fast).  user_id
    stands in for the prompt key, events for samples, purchases for
    "passed the tests"; swap in the real (n, c) columns and nothing
    changes.  k ∈ {1, 5, 10}; prompts with n < k are excluded from
    that k's average (the metric is undefined there), and n−c < k
    forces pass@k = 1 exactly (every k-subset contains a pass).

    Parity: the product is an IN-ORDER left fold over the same
    sequence in both engines (the `vector_norms` list_reduce
    discipline) — identical doubles — and each per-prompt estimate is
    half-up micro-quantized BEFORE the average (the `psi_drift`
    discipline), so the mean is ONE IEEE division of an exact BIGINT
    sum.

    Scale: one prompt-keyed conditional aggregate (map-side
    combined), a 3-row broadcast cross join, per-row O(k) fold inside
    codegen, and a 3-key aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    per_prompt = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n"),
        F.count_if(F.col("event_type") == "purchase")
        .cast("long")
        .alias("c"),
    )
    ks = spark.createDataFrame([(1,), (5,), (10,)], "k int")
    prod = F.aggregate(
        F.sequence(F.lit(0), F.col("k") - 1),
        F.lit(1.0),
        lambda acc, i: acc
        * (
            (F.col("n") - F.col("c") - i).cast("double")
            / (F.col("n") - i)
        ),
    )
    pass_micro = F.when(
        F.col("n") - F.col("c") < F.col("k"), F.lit(1000000).cast("long")
    ).otherwise(
        F.floor(F.lit(1000000) * (F.lit(1.0) - prod) + F.lit(0.5)).cast(
            "long"
        )
    )
    est = (
        per_prompt.crossJoin(F.broadcast(ks))
        .where(F.col("n") >= F.col("k"))
        .select("k", pass_micro.alias("pass_micro"))
    )
    return est.groupBy("k").agg(
        F.count("*").cast("long").alias("n_prompts"),
        (
            F.sum("pass_micro").cast("double")
            / (F.lit(1000000.0) * F.count("*"))
        ).alias("mean_pass_at_k"),
    ).select(
        F.col("k").cast("int").alias("k"), "n_prompts", "mean_pass_at_k"
    )


@query(
    "pseudonym_consistency_audit",
    oracle="""
    WITH mapped AS (
        SELECT user_id,
               md5(CONCAT('v1:', CAST(user_id AS VARCHAR))) AS pseudo
        FROM events
    ),
    per_user AS (
        SELECT user_id, ANY_VALUE(pseudo) AS pseudo, COUNT(*) AS n
        FROM mapped GROUP BY user_id
    ),
    per_pseudo AS (
        SELECT pseudo, COUNT(*) AS n
        FROM mapped GROUP BY pseudo
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM per_user) AS n_users,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM per_pseudo)
               AS n_pseudonyms,
           (SELECT CAST(SUM(n * n) AS BIGINT) FROM per_user)
               AS sum_sq_user,
           (SELECT CAST(SUM(n * n) AS BIGINT) FROM per_pseudo)
               AS sum_sq_pseudo,
           (SELECT MIN(pseudo) FROM per_pseudo) AS min_pseudonym
    """,
)
def pseudonym_consistency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization audit (M220) — the privacy-family op next
    to `k_anonymity_suppress` / `pii_scrub_audit` / `dp_noisy_release`:
    replace user ids with a salted digest so a dataset can leave the
    trust boundary with join structure intact, then PROVE the two
    properties pseudonymization must preserve:

    - injectivity on this corpus: n_pseudonyms == n_users (a digest
      collision would silently MERGE two users' histories — the audit
      catches it as a count mismatch);
    - grouping structure: Σ count² per pseudonym == Σ count² per user
      (the second frequency moment is invariant iff the mapping
      neither merges nor splits groups — the same F₂ statistic
      `join_key_skew_profile` uses, here as an equality witness).

    The salt rides in the digest input ('v1:'), so rotating it
    re-keys every pseudonym — the unlinkability lever.  Scale: two
    word-count-shaped aggregates (map-side combined) + a 5-scalar
    reduce; no joins, no windows, no driver state.
    """
    ev = load_table(spark, sf_dir, "events")
    mapped = ev.select(
        "user_id",
        F.md5(F.concat(F.lit("v1:"), F.col("user_id").cast("string"))).alias(
            "pseudo"
        ),
    )
    per_user = mapped.groupBy("user_id").agg(
        F.count("*").alias("n"), F.any_value("pseudo").alias("pseudo")
    )
    per_pseudo = mapped.groupBy("pseudo").agg(F.count("*").alias("n"))
    u = per_user.agg(
        F.count("*").alias("n_users"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq_user"),
    )
    p = per_pseudo.agg(
        F.count("*").alias("n_pseudonyms"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq_pseudo"),
        F.min("pseudo").alias("min_pseudonym"),
    )
    return u.crossJoin(p).select(
        "n_users",
        "n_pseudonyms",
        "sum_sq_user",
        "sum_sq_pseudo",
        "min_pseudonym",
    )


@query(
    "ivm_delete_recompute",
    oracle="""
    WITH surv AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(38,6)) * 1000000 AS BIGINT)
                   AS vu
        FROM events
        WHERE NOT (event_type IN ('click', 'error')
                   AND substr(md5(CAST(event_id AS VARCHAR)), 1, 1)
                       IN ('0', '1'))
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(vu) AS BIGINT) AS max_micro,
           CAST(CASE WHEN event_type IN ('click', 'error')
                     THEN 1 ELSE 0 END AS INT) AS recomputed
    FROM surv GROUP BY event_type
    """,
)
def ivm_delete_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-scoped IVM under DELETES for a NON-additive aggregate
    (M276): MAX is a mergeable monoid under inserts
    (`ivm_additive_merge`) but NOT under deletes — removing the
    current max row invalidates the group state with no algebraic
    undo.  The standard IVM answer (maintenance under deletions for
    non-invertible aggregates): recompute ONLY the groups the delete
    log touches, carry every other group's materialized state forward
    UNREAD.  The md5-keyed delete log (~1/8 of 'click'/'error'
    events — a GDPR purge hitting two event types) drives the scope;
    the hash proves incremental == full recompute, and the
    `recomputed` flag rides in the hash so a lost carry-over or an
    over-wide recompute is a value mismatch.

    Scale: the recompute leg is semi-joined to the |affected-groups|
    broadcast BEFORE the scan aggregate, so its input is the affected
    partitions only — cost O(affected data), not O(table); the
    carry-over leg is an anti join on the |groups|-bounded MV (zero
    fact-table IO).  Deletes are applied by event_id anti join (the
    log's key), never a full-table NOT filter.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(38,6)") * 1000000)
        .cast("long")
        .alias("vu"),
    )
    mv_old = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.max("vu").cast("long").alias("max_micro"),
    )
    deletes = ev.filter(
        F.col("event_type").isin("click", "error")
        & F.expr(
            "substr(md5(CAST(event_id AS STRING)), 1, 1) IN ('0', '1')"
        )
    ).select("event_id", "event_type")
    affected = deletes.select("event_type").distinct()
    carried = mv_old.join(F.broadcast(affected), "event_type", "anti").select(
        "event_type",
        "n_rows",
        "max_micro",
        F.lit(0).cast("int").alias("recomputed"),
    )
    recomputed = (
        ev.join(F.broadcast(affected), "event_type", "semi")
        .join(deletes.select("event_id"), "event_id", "anti")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.max("vu").cast("long").alias("max_micro"),
        )
        .select(
            "event_type",
            "n_rows",
            "max_micro",
            F.lit(1).cast("int").alias("recomputed"),
        )
    )
    return carried.unionByName(recomputed)


def _capped_walk_segments(part, delta):
    """Closed-form clamp walk over ALL groups in one shot (numpy).

    Inputs are int64 arrays sorted by group key (``part``) with rows
    in event order within each group.  The clamp recurrence
    ``bal_t = max(0, bal_{t-1} + d_t)`` resolves to
    ``bal_t = S_t − m_t`` where ``S`` is the group-local prefix sum
    and ``m_t = min(0, min_{k≤t} S_k)`` — a floor hit erases exactly
    the history below the running minimum.  Segmented running-min
    across many groups in one array uses a strictly-decreasing
    per-group offset so ``np.minimum.accumulate`` never carries a
    minimum across a group boundary.  Returns a pandas DataFrame with
    one row per group: (part, final_balance, peak_balance,
    floor_hits).  Property-pinned against the scalar recurrence in
    ``tests/test_r11_ops.py``."""
    import numpy as np
    import pandas as pd

    n = len(part)
    bounds = np.concatenate(([True], part[1:] != part[:-1]))
    starts = np.flatnonzero(bounds)
    gidx = np.cumsum(bounds) - 1
    s_raw = np.cumsum(delta)
    base = (s_raw - delta)[starts]  # prefix sum just before the group
    s = s_raw - base[gidx]  # group-local prefix sums S_1..S_n
    big = int(np.abs(s).max()) + 1 if n else 1
    off = -gidx.astype(np.int64) * big
    m = np.minimum(off, np.minimum.accumulate(s + off)) - off
    bal = s - m  # bal_t for every row, >= 0 by construction
    ends = np.concatenate((starts[1:], [n])) - 1
    # floor hit at t <=> S_t < m_{t-1}; m_{t-1} at a group start is
    # the virtual S_0 = 0.
    m_prev = np.concatenate(([0], m[:-1]))
    m_prev[starts] = 0
    hits = np.add.reduceat((s < m_prev).astype(np.int64), starts)
    return pd.DataFrame(
        {
            "part": part[starts],
            "final_balance": bal[ends],
            "peak_balance": np.maximum.reduceat(bal, starts),
            "floor_hits": hits,
        }
    )


@query(
    "capped_running_balance",
    oracle="""
    WITH RECURSIVE x AS (
        SELECT l_partkey AS part,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
               ) AS BIGINT) AS rn,
               CASE WHEN l_suppkey % 2 = 0
                    THEN CAST(CAST(l_quantity AS DECIMAL(38,6)) AS BIGINT)
                    ELSE -CAST(CAST(l_quantity AS DECIMAL(38,6)) AS BIGINT)
               END AS delta
        FROM lineitem
    ),
    r AS (
        SELECT part, rn,
               CAST(greatest(delta, 0) AS BIGINT) AS bal,
               CAST(greatest(delta, 0) AS BIGINT) AS peak,
               CAST(CASE WHEN delta < 0 THEN 1 ELSE 0 END AS BIGINT)
                   AS hits
        FROM x WHERE rn = 1
        UNION ALL
        SELECT x.part, x.rn,
               CAST(greatest(r.bal + x.delta, 0) AS BIGINT),
               CAST(greatest(r.peak, greatest(r.bal + x.delta, 0))
                    AS BIGINT),
               CAST(r.hits + CASE WHEN r.bal + x.delta < 0
                                  THEN 1 ELSE 0 END AS BIGINT)
        FROM r JOIN x ON x.part = r.part AND x.rn = r.rn + 1
    ),
    last AS (
        SELECT part, CAST(MAX(rn) AS BIGINT) AS max_rn FROM x GROUP BY part
    )
    SELECT r.part, r.bal AS final_balance, r.peak AS peak_balance,
           r.hits AS floor_hits
    FROM r JOIN last l ON r.part = l.part AND r.rn = l.max_rn
    """,
)
def capped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-capped inventory running balance (M296): per part, walk
    lineitems in ship order, add quantity for receipts (even supplier
    keys) and subtract for issues, CLAMPING AT ZERO — the warehouse
    stock ledger whose clamp makes the recurrence NON-LINEAR:
    bal_t = max(0, bal_{t-1} + Δ_t) has no prefix-sum/window rewrite
    (a clamp event erases history), which is exactly the SURVEY §7
    case (c): a custom stateful operator Spark's built-ins cannot
    express.

    Implemented as ``repartition(part) + sortWithinPartitions +
    mapInPandas`` with a numpy SEGMENTED walk (VERDICT r10 "what's
    wrong" #2: the former per-group ``applyInPandas`` paid a pandas
    DataFrame construction per ~30-row part — per-PARTITION Python
    overhead beats per-GROUP by orders of magnitude at 40k+ groups).
    The clamp recurrence has a closed vectorized form:
    ``bal_t = S_t − m_t`` with ``S`` the group-local prefix sum and
    ``m_t = min(0, min_{k≤t} S_k)`` (a reset erases exactly the
    history below the running minimum), so peak = max(S−m), and a
    floor hit at t ⇔ S_t < m_{t−1}.  Segmented running-min across the
    many groups in one Arrow batch uses a strictly-decreasing
    per-group offset, so the whole batch is O(1) numpy calls — no
    per-row OR per-group Python.  Groups split across Arrow batch
    boundaries are carried forward (rows of an open group buffer into
    the next batch).  The 100 TB shape is one shuffle on the group
    key then embarrassingly parallel per-partition work.  The DuckDB
    oracle replays the recurrence as a RECURSIVE CTE — an INDEPENDENT
    formulation, so the hash checks the operator, not a mirrored
    expression.

    Exactness: quantities are integral (DECIMAL-cast to BIGINT —
    truncate==round); ordering has the unique (shipdate, orderkey,
    linenumber) tie-break; all outputs exact BIGINTs.
    """
    import numpy as np

    ev = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("part"),
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.when(
            F.col("l_suppkey") % 2 == 0,
            F.col("l_quantity").cast("decimal(38,6)").cast("long"),
        )
        .otherwise(-F.col("l_quantity").cast("decimal(38,6)").cast("long"))
        .alias("delta"),
    )

    def walk(batches):
        held_p = np.empty(0, dtype=np.int64)
        held_d = np.empty(0, dtype=np.int64)
        for pdf in batches:
            part = np.concatenate(
                (held_p, pdf["part"].to_numpy(np.int64))
            )
            delta = np.concatenate(
                (held_d, pdf["delta"].to_numpy(np.int64))
            )
            if not len(part):
                continue
            # hold back the last group — it may continue next batch
            cut = np.flatnonzero(part != part[-1])
            cut = (cut[-1] + 1) if len(cut) else 0
            held_p, held_d = part[cut:], delta[cut:]
            if cut:
                yield _capped_walk_segments(part[:cut], delta[:cut])
        if len(held_p):
            yield _capped_walk_segments(held_p, held_d)

    return (
        ev.repartition("part")
        .sortWithinPartitions(
            "part", "l_shipdate", "l_orderkey", "l_linenumber"
        )
        .mapInPandas(
            walk,
            "part long, final_balance long, peak_balance long,"
            " floor_hits long",
        )
    )
