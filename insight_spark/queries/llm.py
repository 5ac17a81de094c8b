"""LLM-data-pipeline queries: dedup, quality, fingerprints (SURVEY.md §2.J)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_spark.operators.dedup import (
    MD5_VERIFY_SQL,
    _md5_shingle_bands,
    exact_dedup,
    md5_band_ctes,
    minhash_band_cardinality_oracle_sql,
    minhash_lsh_pairs_md5,
    minhash_lsh_pairs_md5_oracle_sql,
    near_dedup_minhash,
)
from insight_spark.operators.text import ngrams, tokenize, tokens_sql
from insight_spark.queries import query
from insight_spark.sources import load_table


@query(
    "dedup_hash",
    oracle="""
    SELECT sha256(text) AS content_sha256,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_dups
    FROM documents
    GROUP BY sha256(text)
    """,
)
def dedup_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup of documents (J5): sha256 group, keep min id."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, content_col="text", id_col="doc_id")


@query(
    "minhash_near_dup_pairs",
    oracle=minhash_lsh_pairs_md5_oracle_sql(keep_all=True),
)
def minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate candidate AUDIT (J6, keep_all form):
    every LSH candidate pair with its exact ``jaccard_sim`` and an
    integer-form ``is_dup`` verdict — the verification evidence is in
    the output, not just the survivors, so the false-positive rate is
    observable downstream.

    Value-oracled since r7: the md5 chunked hash family makes the
    candidate set itself DuckDB-replayable (previously rows-only under
    the xxhash64 family).  The xxhash64 production family
    (``near_dedup_minhash``) remains exercised by
    ``minhash_recall_gate`` (recall bound vs brute-force ground
    truth) and the unit suite; ``minhash_lsh_pairs`` is the
    survivors-only twin.
    """
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs_md5(docs, keep_all=True)


@query(
    "minhash_recall_gate",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
        WHERE doc_id < 500
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(l) - 2, 0) + 1),
                   i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS s
        FROM toks WHERE len(l) >= 3
    ),
    exact AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM sh a JOIN sh b ON b.doc_id > a.doc_id
        WHERE 10 * len(list_intersect(a.s, b.s))
              >= 8 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           TRUE AS recall_ok
    FROM exact
    """,
)
def minhash_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH quality gate (bound-oracle pattern, M15/ANN-gate
    style): measures the sketch pipeline's recall IN-PLAN against
    brute-force 3-shingle-Jaccard ground truth at J >= 0.8, and gates
    at mean recall >= 0.8 — so a banding/signature regression flips
    the driver hash even though the candidate set itself is not
    SQL-expressible.  ``n_exact_pairs`` is exactly oracle-checked
    (the brute-force count), anchoring the denominator.

    With 16 hashes / 4 bands, P(candidate | J=0.8) = 1-(1-0.8^4)^4
    ~ 0.96, and the fixture's planted near-dups sit at J >= 0.8, so
    the 0.8 gate has real margin.  Scale shape: ground truth is an
    exact inverted-index similarity join (see inline notes) over a
    bounded QA sample — at 100 TB the sample is fixed-size, so the
    gate's cost is corpus-independent (the fixture's 500-doc
    documents table IS that sample); the MinHash side under
    measurement is the production bucketed pipeline unchanged.
    Threshold 8/10 as exact integer math on both sides (float J*u can
    round the wrong way at the boundary).
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = F.array_distinct(ngrams(tokenize(F.col("text")), 3))
    # ground truth only over the bounded QA sample (doc_id < 500): at
    # sf0.01 this is the whole table, at larger SFs it pins the gate's
    # cost to the sample size (the historical O(n²) NLJ form measured
    # 475 s uncapped at sf0.1 — the cap predates the inverted-index
    # rewrite below and still bounds its gram-frequency worst case).
    sample = docs.filter(F.col("doc_id") < 500)
    sets = sample.select(F.col("doc_id").alias("_id"), sh.alias("_sh")).filter(
        F.size("_sh") > 0
    )
    # exact ground truth via inverted index, not a nested-loop join:
    # explode shingles (distinct per doc), equi-join on the gram, and
    # the per-pair match count IS |∩| — only pairs sharing >= 1 gram
    # ever materialize, and any pair at J >= 4/5 > 0 shares grams, so
    # nothing true is lost.  Two exact prefilters ride the join:
    # b_id > a_id, and the size bound (J <= min/max of set sizes, so
    # J >= 4/5 forces 10*min >= 8*max).  This replaces the O(n²·|set|)
    # array_intersect NLJ with a shuffle join keyed on the gram — the
    # shape that distributes at scale (whole query measured 15.9 s →
    # 3.0 s cold at sf0.01, identical result set; the residual cost is
    # the production MinHash side under test, not the ground truth).
    grams = sets.select(
        "_id", F.size("_sh").alias("_n"), F.explode("_sh").alias("_g")
    )
    ga = grams.select(
        F.col("_id").alias("a_id"), F.col("_n").alias("_na"), "_g"
    )
    gb = grams.select(
        F.col("_id").alias("b_id"), F.col("_n").alias("_nb"), "_g"
    )
    co = ga.join(gb, "_g").filter(
        (F.col("b_id") > F.col("a_id"))
        & (F.lit(10) * F.col("_na") >= F.lit(8) * F.col("_nb"))
        & (F.lit(10) * F.col("_nb") >= F.lit(8) * F.col("_na"))
    )
    inter_pairs = co.groupBy("a_id", "b_id", "_na", "_nb").agg(
        F.count("*").alias("_i")
    )
    exact = inter_pairs.filter(
        F.lit(10) * F.col("_i")
        >= F.lit(8) * (F.col("_na") + F.col("_nb") - F.col("_i"))
    ).select("a_id", "b_id")
    found = near_dedup_minhash(docs, threshold=0.5).select(
        "a_id", "b_id", F.lit(1).alias("_hit")
    )
    marked = exact.join(found, ["a_id", "b_id"], "left")
    return marked.agg(
        F.count("*").alias("n_exact_pairs"),
        F.coalesce(
            (
                F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                / F.count("*")
            )
            >= 0.8,
            F.lit(True),  # vacuous gate on an empty ground-truth set
        ).alias("recall_ok"),
    )


@query(
    "minhash_band_cardinality",
    oracle=minhash_band_cardinality_oracle_sql(),
)
def minhash_band_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-load audit (M146): per-band bucket statistics for the
    production J6 MinHash config (the md5 family's ``MD5_N_HASHES`` /
    ``MD5_N_BANDS`` — the exact bands ``minhash_lsh_pairs`` joins on).

    The skew PRE-FLIGHT for banded dedup: ``candidate_pairs`` =
    Σ n·(n−1)/2 over buckets is the exact number of pairs the LSH
    stage will explode per band, and ``max_bucket`` is the single-task
    ceiling for the bucket-array candidate generator
    (``_bucket_pair_candidates`` collects each bucket's id array on
    one task).  Run this BEFORE the pair join at a new scale: a
    mega-bucket (≫ thousands) here means exact dedup wasn't run first
    or the corpus is template-heavy, and the pair stage would OOM a
    task — the audit costs one word-count-shaped job (band shuffle +
    two bounded aggregates), no pair explosion.

    Fully value-oracled: the md5 band family is bit-identical in
    DuckDB, so bucket keys — and therefore every load statistic —
    hash-match exactly.
    """
    docs = load_table(spark, sf_dir, "documents")
    _sh, bands = _md5_shingle_bands(docs)
    bucket_sizes = bands.groupBy("_band", "_bkey").agg(
        F.count("*").alias("n")
    )
    return bucket_sizes.groupBy(F.col("_band").alias("band")).agg(
        F.count("*").alias("n_buckets"),
        F.sum("n").alias("n_docs"),
        F.max("n").alias("max_bucket"),
        F.sum(F.when(F.col("n") >= 2, 1).otherwise(0)).alias("n_colliding"),
        F.sum(F.expr("n * (n - 1) div 2")).alias("candidate_pairs"),
    )


@query("minhash_lsh_pairs", oracle=minhash_lsh_pairs_md5_oracle_sql())
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with full value parity (J6): md5 hash
    family + lexicographic-min signatures make every stage (signature,
    band key, candidate set, verified pair) bit-identical in DuckDB —
    the sketch pipeline itself is hash-checked, not just row-counted."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs_md5(docs)


#: English marker words for the n-gram language heuristic (shared with
#: the oracle SQL verbatim).
_EN_MARKERS = ("the", "a", "of", "and", "to", "in", "is", "on", "for")
_EN_SQL = ", ".join(f"'{w}'" for w in _EN_MARKERS)


@query(
    "lang_id_heuristic",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, lang,
               {tokens_sql('text')} AS l
        FROM documents
    )
    SELECT doc_id, lang,
           ROUND(CAST(len(list_filter(l, t -> t IN ({_EN_SQL}))) AS DOUBLE)
                 / NULLIF(len(l), 0), 6) AS en_score,
           CASE WHEN CAST(len(list_filter(l, t -> t IN ({_EN_SQL}))) AS DOUBLE)
                     / NULLIF(len(l), 0) > 0.05
                THEN 'en' ELSE 'other' END AS lang_guess
    FROM toks
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (LLM-pipeline mandate): English marker-word
    ratio per document.  A real system swaps the marker list for per-
    language n-gram profiles; the Spark shape (rowwise array filter, no
    UDF, no shuffle) is the scale path either way."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    n_en = F.size(F.filter(toks, lambda t: t.isin(*_EN_MARKERS)))
    score = n_en.cast("double") / F.nullif(F.size(toks), F.lit(0))
    return docs.select(
        "doc_id",
        "lang",
        F.round(score, 6).alias("en_score"),
        F.when(score > 0.05, "en").otherwise("other").alias("lang_guess"),
    )


@query(
    "token_count_bpe",
    oracle=rf"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
                AS INTEGER) AS n_bpe_tokens,
           CAST(len({tokens_sql('text')})
                AS INTEGER) AS n_ws_tokens
    FROM documents
    """,
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (LLM-pipeline mandate): BPE-ish regex segmentation
    (letter runs / digit runs / single punctuation) vs whitespace count.
    Pattern kept to the RE2/Java-safe shared dialect (SURVEY §7.4.5)."""
    docs = load_table(spark, sf_dir, "documents")
    # group 0 = whole match (the pattern has no capture groups)
    bpe = F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    return docs.select(
        "doc_id",
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(tokenize(F.col("text"))).alias("n_ws_tokens"),
    )


@query(
    "dedup_keep_best",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source, sha256(text) AS h,
               ROW_NUMBER() OVER (
                   PARTITION BY sha256(text)
                   ORDER BY CASE source
                                WHEN 'src0' THEN 0
                                WHEN 'src1' THEN 1
                                ELSE 2
                            END,
                            doc_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY sha256(text)) AS n_dups
        FROM documents
    )
    SELECT h AS content_sha256, doc_id AS keep_id, source AS keep_source,
           n_dups
    FROM ranked WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with source-priority survivor selection (J5 policy
    variant): among byte-identical documents, keep the copy from the
    most trusted source (src0 > src1 > rest), tie-broken by doc_id —
    the canonical-selection policy a multi-source corpus needs
    (pass-through dedup keeps whichever copy hashed first; pipelines
    want the licensed/cleanest origin to win).

    One hash-shuffle on the content digest; the priority is a CASE
    rank, so the survivor rule is pure ordering — no second pass, no
    join back.  WindowGroupLimit prunes each group to its head.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    prio = (
        F.when(F.col("source") == "src0", 0)
        .when(F.col("source") == "src1", 1)
        .otherwise(2)
    )
    w = Window.partitionBy("content_sha256").orderBy(prio, "doc_id")
    wc = Window.partitionBy("content_sha256")
    return (
        docs.select(
            "doc_id", "source", F.sha2("text", 256).alias("content_sha256")
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_dups", F.count("*").over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "content_sha256",
            F.col("doc_id").alias("keep_id"),
            F.col("source").alias("keep_source"),
            "n_dups",
        )
    )


#: Corpus/batch split point for the incremental-dedup query: documents
#: below this id are the "existing snapshot", the rest the new batch.
_INCR_SPLIT = 250


@query(
    "incremental_dedup_summary",
    oracle=f"""
    WITH corpus AS (
        SELECT DISTINCT sha256(text) AS d FROM documents
        WHERE doc_id < {_INCR_SPLIT}
    ),
    batch AS (
        SELECT doc_id, source, sha256(text) AS d FROM documents
        WHERE doc_id >= {_INCR_SPLIT}
    ),
    marked AS (
        SELECT b.doc_id, b.source,
               CASE WHEN c.d IS NOT NULL THEN 'corpus_dup'
                    WHEN b.doc_id <> MIN(b.doc_id) OVER (PARTITION BY b.d)
                        THEN 'batch_dup'
               END AS drop_reason
        FROM batch b LEFT JOIN corpus c ON b.d = c.d
    )
    SELECT source,
           CAST(COUNT(*) FILTER (drop_reason IS NULL) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (drop_reason = 'corpus_dup') AS BIGINT)
               AS n_corpus_dups,
           CAST(COUNT(*) FILTER (drop_reason = 'batch_dup') AS BIGINT)
               AS n_batch_dups
    FROM marked
    GROUP BY source
    ORDER BY source
    """,
)
def incremental_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (day-2) dedup: deduplicate an incoming batch against
    an existing corpus snapshot — the op every continuously-ingesting
    training pipeline runs far more often than full-corpus dedup.
    Splits the documents fixture into snapshot (doc_id < 250) and
    batch; every batch doc is marked kept / corpus_dup / batch_dup and
    the per-source summary is returned (the ingest report a pipeline
    materializes before appending the kept slice).

    Scale: the corpus side is reduced to DISTINCT 32-byte digests
    before moving, so the join shuffles hashes, never documents, and
    the batch is the small side; an optional bloom prefilter
    (bloom_semi_agg pattern) cuts the corpus-side IO further with this
    exact join still guaranteeing zero false drops.
    """
    from insight_spark.operators.dedup import incremental_dedup

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < _INCR_SPLIT)
    batch = docs.filter(F.col("doc_id") >= _INCR_SPLIT)
    marked = incremental_dedup(corpus, batch)
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.when(F.col("drop_reason").isNull(), 1)).alias("n_kept"),
            F.count(F.when(F.col("drop_reason") == "corpus_dup", 1)).alias(
                "n_corpus_dups"
            ),
            F.count(F.when(F.col("drop_reason") == "batch_dup", 1)).alias(
                "n_batch_dups"
            ),
        )
        .orderBy("source")
    )


def _md5_cluster_ctes() -> str:
    """Shared recursive-CTE chain for dedup-cluster oracles: exact-dedup
    keep map -> md5-family MinHash+LSH pairs over survivors ->
    transitive closure -> per-survivor canonical (``canon``).  The
    DuckDB twin of ``_md5_clusters``; consumers append their own final
    SELECT (and any extra CTEs).  ``pairs`` and ``canon`` are
    MATERIALIZED: each has several consumers, and DuckDB otherwise
    re-runs the band join (and the recursive closure) per reference —
    ~20 s -> ~2.5 s for the pipeline oracle at sf0.1 (DuckDB 1.0.0,
    4 cores)."""
    return f"""
    WITH RECURSIVE keepmap AS (
        SELECT sha256(text) AS h, MIN(doc_id) AS keep_id
        FROM documents GROUP BY sha256(text)
    ),
    docs2 AS (
        SELECT d.doc_id, d.text
        FROM documents d JOIN keepmap k ON d.doc_id = k.keep_id
    ),
    {md5_band_ctes("docs2")},
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                    AND a.doc_id < b.doc_id
    ),
    pairs AS MATERIALIZED (
        SELECT a_id, b_id
        FROM cand
        JOIN sh2 sa ON sa.doc_id = a_id
        JOIN sh2 sb ON sb.doc_id = b_id
        WHERE {MD5_VERIFY_SQL}
    ),
    edges AS (
        SELECT a_id AS u, b_id AS w FROM pairs
        UNION
        SELECT b_id, a_id FROM pairs
    ),
    reach AS (
        SELECT DISTINCT u AS v, u AS w FROM edges
        UNION
        SELECT r.v, e.w FROM reach r JOIN edges e ON e.u = r.w
    ),
    canon AS MATERIALIZED (SELECT v, MIN(w) AS c FROM reach GROUP BY v)
    """


def _md5_clusters(
    docs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Dedup-cluster chain over ``docs``, the Spark twin of
    ``_md5_cluster_ctes``: exact-dedup survivors, their md5-family
    near-dup ``(a_id, b_id)`` pairs, and each survivor's
    ``(doc_id, canonical_id)`` from distributed connected components.

    Survivors and pairs are each materialized once.  The sketch stage,
    the survivor count and the CC id universe all consume the
    survivors — without the barrier the sha256 digest-shuffle subplan
    re-runs per consumer (measured ~0.9 s of the sf0.1 funnel).  The
    CC rounds and every downstream count reuse the (small) pair list
    instead of re-running the sketch pipeline per consumer."""
    from insight_spark.operators.components import canonical_assignment

    keep = exact_dedup(docs, content_col="text", id_col="doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    survivors = docs.join(keep, "doc_id", "left_semi").localCheckpoint()
    pairs = (
        minhash_lsh_pairs_md5(survivors)
        .select("a_id", "b_id")
        .localCheckpoint()
    )
    canon = canonical_assignment(pairs, survivors.select("doc_id"))
    return survivors, pairs, canon


def _md5_pipeline_oracle() -> str:
    """One-row oracle for the full dedup pipeline funnel (see
    ``_md5_cluster_ctes`` for the shared stage chain)."""
    return (
        _md5_cluster_ctes()
        + """
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
           CAST((SELECT COUNT(*) FROM docs2) AS BIGINT) AS n_exact_survivors,
           CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_near_pairs,
           CAST((SELECT COUNT(DISTINCT coalesce(c.c, d2.doc_id))
                 FROM docs2 d2 LEFT JOIN canon c ON c.v = d2.doc_id)
                AS BIGINT) AS n_canonical
    """
    )


@query("dedup_pipeline_summary", oracle=_md5_pipeline_oracle())
def dedup_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship corpus-hygiene pipeline, end to end in ONE plan:
    exact dedup (sha256 keyed arg-min) -> MinHash+LSH near-dup pairs
    over the survivors (md5 hash family, every stage bit-reproducible
    cross-engine) -> distributed connected components -> canonical
    count.  Returns the stage-by-stage funnel a production ingest
    report materializes: n_docs, n_exact_survivors, n_near_pairs,
    n_canonical — each exactly value-checked against a DuckDB replay
    (recursive CTE for the transitive closure).

    Composition order is load-bearing at scale (measured in SCALE.md:
    verbatim duplicates inflate LSH pair output quadratically — a 10x
    dup-heavy corpus produced 979x pairs): the one cheap digest
    shuffle of exact dedup runs FIRST so byte-identical copies never
    reach the sketch stage.  Stages: digest shuffle -> band-bucket
    shuffles on bounded keys -> O(log d) pointer-jumping rounds; no
    driver state beyond CC's convergence flag.
    """
    docs = load_table(spark, sf_dir, "documents")
    survivors, pairs, canon = _md5_clusters(docs)
    m1 = docs.agg(F.count("*").alias("n_docs"))
    m2 = survivors.agg(F.count("*").alias("n_exact_survivors"))
    m3 = pairs.agg(F.count("*").alias("n_near_pairs"))
    m4 = canon.agg(F.countDistinct("canonical_id").alias("n_canonical"))
    return m1.crossJoin(m2).crossJoin(m3).crossJoin(m4)


def _leakage_split_oracle() -> str:
    """One-row oracle for the cluster-disjoint split: replays the full
    dedup-cluster closure (``_md5_cluster_ctes``), maps EVERY document
    to its cluster (exact-dup group keep id, then near-dup canonical),
    then computes both split policies and their leak counts.
    ``splits`` and ``per_cluster`` feed several scalar subqueries each,
    so they are MATERIALIZED too (~106 s -> ~3 s at sf0.1, same box)."""
    return (
        _md5_cluster_ctes()
        + """
    ,
    full_map AS (
        SELECT d.doc_id, coalesce(c.c, k.keep_id) AS cluster_id
        FROM documents d
        JOIN keepmap k ON sha256(d.text) = k.h
        LEFT JOIN canon c ON c.v = k.keep_id
    ),
    splits AS MATERIALIZED (
        SELECT cluster_id,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
                   AS naive_train,
               substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < '80'
                   AS safe_train
        FROM full_map
    ),
    per_cluster AS MATERIALIZED (
        SELECT cluster_id,
               COUNT(DISTINCT naive_train) AS nn,
               COUNT(DISTINCT safe_train) AS ns
        FROM splits GROUP BY cluster_id
    )
    SELECT CAST((SELECT COUNT(*) FROM splits) AS BIGINT) AS n_docs,
           CAST((SELECT COUNT(*) FROM per_cluster) AS BIGINT) AS n_clusters,
           CAST((SELECT SUM(CASE WHEN nn > 1 THEN 1 ELSE 0 END)
                 FROM per_cluster) AS BIGINT) AS naive_leaky_clusters,
           CAST((SELECT SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END)
                 FROM per_cluster) AS BIGINT) AS safe_leaky_clusters,
           CAST((SELECT SUM(CASE WHEN safe_train THEN 1 ELSE 0 END)
                 FROM splits) AS BIGINT) AS train_docs,
           CAST((SELECT SUM(CASE WHEN NOT safe_train THEN 1 ELSE 0 END)
                 FROM splits) AS BIGINT) AS test_docs
    """
    )


@query("leakage_safe_split", oracle=_leakage_split_oracle())
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-disjoint train/test split (M73): the step a training-data
    pipeline runs BETWEEN dedup and shard export so near-duplicates of
    training documents cannot contaminate the eval split.

    A naive per-document hash split leaks: any multi-document
    duplicate cluster has a ~2·p·(1-p) chance of straddling the
    boundary, putting a near-copy of an eval document in train.  The
    safe policy keys the SAME md5-range split on the *cluster
    canonical id* instead, so a cluster moves as a unit and leakage is
    structurally zero.  The one-row report value-checks both policies
    side by side: document/cluster counts, leaky-cluster count under
    each policy (naive > 0 on the fixture corpus, safe = 0 — computed,
    not asserted), and the safe split's train/test sizes.

    Cluster id for every document = near-dup canonical of its
    exact-dup group representative (``_md5_clusters``, shared with
    dedup_pipeline_summary: digest shuffle -> band-bucket LSH over
    survivors -> O(log d) pointer-jumping closure).  The split itself
    adds only map-side md5 projections plus one bounded per-cluster
    aggregate — append-stable (md5-keyed, no RNG), so re-running after
    corpus growth never migrates an existing cluster between splits.
    """
    from insight_spark.operators.dedup import content_hash

    docs = load_table(spark, sf_dir, "documents")
    groups = exact_dedup(docs, content_col="text", id_col="doc_id")
    docmap = docs.select(
        "doc_id", content_hash(F.col("text")).alias("content_sha256")
    ).join(groups.select("content_sha256", "keep_id"), "content_sha256")
    _survivors, _pairs, canon = _md5_clusters(docs)
    canon = canon.select(F.col("doc_id").alias("keep_id"), "canonical_id")
    full = docmap.join(canon, "keep_id", "left").select(
        "doc_id",
        F.coalesce("canonical_id", F.col("keep_id")).alias("cluster_id"),
    )
    tagged = full.select(
        "cluster_id",
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "80")
        .alias("naive_train"),
        (F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 2) < "80")
        .alias("safe_train"),
    )
    per_cluster = tagged.groupBy("cluster_id").agg(
        F.countDistinct("naive_train").alias("nn"),
        F.countDistinct("safe_train").alias("ns"),
    )
    doc_stats = tagged.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("safe_train"), 1).otherwise(0)).alias("train_docs"),
        F.sum(F.when(~F.col("safe_train"), 1).otherwise(0)).alias("test_docs"),
    )
    cluster_stats = per_cluster.agg(
        F.count("*").alias("n_clusters"),
        F.sum(F.when(F.col("nn") > 1, 1).otherwise(0)).alias(
            "naive_leaky_clusters"
        ),
        F.sum(F.when(F.col("ns") > 1, 1).otherwise(0)).alias(
            "safe_leaky_clusters"
        ),
    )
    return doc_stats.crossJoin(cluster_stats).select(
        "n_docs",
        "n_clusters",
        "naive_leaky_clusters",
        "safe_leaky_clusters",
        "train_docs",
        "test_docs",
    )


#: Prefix length (tokens) for the KV-cache sharing estimator (M131).
_KV_PREFIX_TOKENS = 8
_KV_TOP = 10


@query(
    "kv_prefix_sharing",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    pref AS (
        SELECT doc_id,
               array_to_string(l[1:{_KV_PREFIX_TOKENS}], ' ') AS prefix,
               least(len(l), {_KV_PREFIX_TOKENS}) AS prefix_tokens
        FROM toks WHERE len(l) > 0
    ),
    grouped AS (
        SELECT prefix,
               CAST(MAX(prefix_tokens) AS INTEGER) AS prefix_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST((COUNT(*) - 1) * MAX(prefix_tokens) AS BIGINT)
                   AS saved_tokens
        FROM pref GROUP BY prefix
    )
    SELECT prefix, prefix_tokens, n_docs, saved_tokens
    FROM grouped
    ORDER BY saved_tokens DESC, n_docs DESC, prefix
    LIMIT {_KV_TOP}
    """,
)
def kv_prefix_sharing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KV-cache prefix-sharing estimator (M131): the inference-serving
    audit that tells you how much prefill compute/cache a shared-prefix
    router would save — group prompts by their first
    8 tokens; every doc after the first in a group re-uses the
    cached prefix, saving (n_docs - 1) * prefix_tokens of prefill per
    group.  Returns the top shared prefixes by saved tokens.

    Scale shape: slice + concat projection (JVM), one
    map-side-combined groupBy on the prefix string (digest-sized keys
    if prefixes are long — swap the group key for md5(prefix) at
    production token lengths), TakeOrdered head.  The same shape as
    word-count; nothing quadratic, nothing driver-side.
    """
    toks = tokenize(F.col("text"))
    pref = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.array_join(F.slice(toks, 1, _KV_PREFIX_TOKENS), " ").alias(
                "prefix"
            ),
            F.least(F.size(toks), F.lit(_KV_PREFIX_TOKENS)).alias(
                "prefix_tokens"
            ),
        )
        .filter(F.col("prefix_tokens") > 0)
    )
    grouped = pref.groupBy("prefix").agg(
        F.max("prefix_tokens").cast("int").alias("prefix_tokens"),
        F.count("*").alias("n_docs"),
        ((F.count("*") - 1) * F.max("prefix_tokens"))
        .cast("long")
        .alias("saved_tokens"),
    )
    return grouped.orderBy(
        F.desc("saved_tokens"), F.desc("n_docs"), F.asc("prefix")
    ).limit(_KV_TOP)


@query(
    "cross_source_overlap_matrix",
    oracle=rf"""
    WITH toks AS (
        SELECT source,
               {tokens_sql('text')} AS t
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT source,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(t) - 1, 1)),
                   i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS g
        FROM toks
    ),
    counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh
        FROM sh GROUP BY source
    ),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
        FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT p.src_a, p.src_b, p.n_shared_shingles,
           ROUND(CAST(p.n_shared_shingles AS DOUBLE)
                 / least(ca.n_sh, cb.n_sh), 6) AS containment
    FROM pairs p
    JOIN counts ca ON ca.source = p.src_a
    JOIN counts cb ON cb.source = p.src_b
    """,
)
def cross_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-overlap matrix (M154): for every source
    pair, the count of distinct 3-shingles present in BOTH plus the
    min-side containment ratio — the provenance report behind mixture
    weighting (a source largely contained in another silently doubles
    its effective mixture weight) and mirror detection (containment
    near 1.0 = one source is a subset/mirror of the other).  Shingle
    grain rather than whole-document digests deliberately: fixture and
    real crawls alike overlap by near-duplication and quotation far
    more than by byte-identical documents (the sf0.01 fixture has ZERO
    exact cross-source duplicates but 31-210 shared shingles per pair).

    Scale: documents reduce to DISTINCT (shingle, source) pairs first —
    a word-count-shaped explode+distinct (hash the gram to 8 bytes at
    100 TB); the shingle-keyed self-equi-join fans out C(k,2) rows for
    a shingle in k sources — bounded by the SOURCE count, never
    |docs|²; per-source totals and the final matrix are
    |sources|-bounded aggregates.  Containment is one rounded division
    over exact counts.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "source",
        F.explode(
            F.array_distinct(ngrams(tokenize(F.col("text")), 3))
        ).alias("g"),
    ).distinct()
    counts = sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("source").alias("src_a"), "g")
    b = sh.select(F.col("source").alias("src_b"), "g")
    pairs = (
        a.join(b, "g")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared_shingles"))
    )
    ca = counts.select(F.col("source").alias("src_a"), F.col("n_sh").alias("_na"))
    cb = counts.select(F.col("source").alias("src_b"), F.col("n_sh").alias("_nb"))
    return (
        pairs.join(ca, "src_a")
        .join(cb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared_shingles",
            F.round(
                F.col("n_shared_shingles").cast("double")
                / F.least("_na", "_nb"),
                6,
            ).alias("containment"),
        )
    )


@query(
    "lsh_candidate_precision",
    oracle=f"""
    WITH audited AS ({minhash_lsh_pairs_md5_oracle_sql(keep_all=True)})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(COUNT(*) FILTER (WHERE is_dup) AS BIGINT) AS n_verified,
           CAST(COUNT(*) FILTER (WHERE NOT is_dup) AS BIGINT)
               AS n_false_positives,
           CAST(COUNT(*) FILTER (WHERE is_dup) AS DOUBLE) / COUNT(*)
               AS precision
    FROM audited
    """,
)
def lsh_candidate_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate precision (M169) — the tuning complement of the
    recall evals (M149/M155/M157): of all candidate pairs the banding
    scheme surfaces, what fraction survives exact-Jaccard
    verification.  Low precision means the verify stage (the exact
    set-intersection join — the expensive step) is mostly burning
    cycles on band collisions: the direct signal to add rows per band
    or shrink bands.  Read together with ``minhash_band_cardinality``
    (bucket skew) and ``ann_lsh_recall_eval`` (what banding loses),
    this completes the LSH parameter-tuning triangle.

    Exactness: counts are integers over the SAME md5 hash family the
    ``minhash_near_dup_pairs`` audit replays; precision is ONE IEEE
    division of exact BIGINTs.

    Scale: identical plan to the keep_all audit (band-bucket groupBy,
    id-only candidates, set-join verify) plus a 1-row aggregate — the
    report costs nothing beyond the audit it summarizes.
    """
    docs = load_table(spark, sf_dir, "documents")
    audited = minhash_lsh_pairs_md5(docs, keep_all=True)
    return audited.agg(
        F.count("*").alias("n_candidates"),
        F.count_if(F.col("is_dup")).alias("n_verified"),
        F.count_if(~F.col("is_dup")).alias("n_false_positives"),
        (F.count_if(F.col("is_dup")).cast("double") / F.count("*")).alias(
            "precision"
        ),
    )
