"""Training-data pipeline queries (LLM-pipeline mandate, SURVEY §0.2).

The corpus-preparation stages a 100 TB pretraining pipeline runs after
near-dup detection: cluster closure → canonical selection,
reproducible train/test splits, deterministic stratified sampling, and
context-window packing.  All deterministic by construction (md5-based
ordering/splitting — identical in Spark and DuckDB — instead of RNG),
so results are bit-stable under any partitioning and re-run.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from insight_spark.operators.components import canonical_assignment
from insight_spark.operators.dedup import jaccard
from insight_spark.operators.text import token_set_sql, tokenize, tokens_sql
from insight_spark.queries import query
from insight_spark.sources import load_table

#: Unigram-jaccard threshold for the cluster demo edge set: adjacent-id
#: doc pairs at ≥ 0.7 overlap chain into multi-hop components on the
#: fixture corpus (median adjacent-pair jaccard is ~0.63).
_TAU = 0.7


def _adjacent_jaccard_edges(docs: DataFrame) -> DataFrame:
    """(a_id, b_id) edges: adjacent doc ids with unigram jaccard ≥ τ."""
    toks = docs.select(
        "doc_id", F.array_distinct(tokenize(F.col("text"))).alias("s")
    )
    a = toks.select(F.col("doc_id").alias("a_id"), F.col("s").alias("a_s"))
    b = toks.select(F.col("doc_id").alias("b_id"), F.col("s").alias("b_s"))
    return (
        a.join(b, F.col("b_id") == F.col("a_id") + 1)
        .filter(jaccard(F.col("a_s"), F.col("b_s")) >= _TAU)
        .select("a_id", "b_id")
    )


@query(
    "near_dup_clusters",
    oracle=rf"""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               {token_set_sql('text')} AS s
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
              >= {_TAU}
    ),
    edges AS (
        SELECT a_id AS u, b_id AS w FROM pairs
        UNION
        SELECT b_id, a_id FROM pairs
    ),
    reach AS (
        SELECT DISTINCT u AS v, u AS w FROM edges
        UNION
        SELECT r.v, e.w
        FROM reach r JOIN edges e ON e.u = r.w
    )
    SELECT d.doc_id,
           coalesce(c.canonical_id, d.doc_id) AS canonical_id
    FROM documents d
    LEFT JOIN (SELECT v, MIN(w) AS canonical_id FROM reach GROUP BY v) c
           ON c.v = d.doc_id
    """,
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cluster closure: near-dup pairs → connected components →
    canonical (min-id) assignment for every document.

    The Spark side runs the distributed iterative CC operator
    (operators/components.py: min-label propagation + pointer jumping,
    O(log diameter) rounds of join/groupBy); the oracle computes the
    same transitive closure with a recursive CTE.  Chain-shaped
    components (consecutive similar docs) exercise multi-hop closure,
    the case a single self-join would get wrong.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = _adjacent_jaccard_edges(docs)
    return canonical_assignment(pairs, docs.select("doc_id"))


@query(
    "train_test_split",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~80/20 train/test split keyed on md5(doc_id).

    Content-keyed hashing (not RNG, not row position) means the split
    is stable across engines, re-runs, repartitioning, and corpus
    appends — the property a training pipeline needs so that adding
    documents never migrates existing ones between splits.  'cd' =
    204/256 ≈ 0.797 of the hash space.
    """
    docs = load_table(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return docs.select(
        "doc_id",
        "lang",
        F.when(h2 < "cd", "train").otherwise("test").alias("split"),
    )


@query(
    "stratified_sample",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk,
               COUNT(*) OVER (PARTITION BY lang) AS n_lang
        FROM documents
    )
    SELECT doc_id, lang, CAST(rk AS INTEGER) AS rk
    FROM ranked
    WHERE rk <= CAST(ceil(0.2 * n_lang) AS BIGINT)
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% stratified sample per language (B10 at
    training-pipeline standards).

    Rank docs within each stratum by md5(doc_id) — a fixed, uniform
    pseudo-order — and keep the first ceil(0.2·n) per stratum.  Exact
    per-stratum proportions, no RNG, oracle-hashable; one window
    shuffle on the stratum key.  (``df.sampleBy`` gives the same shape
    with Bernoulli sampling but engine-specific RNG — this form is the
    reproducible variant a data pipeline should prefer.)
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    wn = Window.partitionBy("lang")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rk"),
            F.count("*").over(wn).alias("n_lang"),
        )
        .filter(F.col("rk") <= F.ceil(0.2 * F.col("n_lang")).cast("long"))
        .select("doc_id", "lang", "rk")
    )


#: Context-window budget (whitespace tokens) for pack_token_budget.
_PACK_BUDGET = 2048

#: Salt width for the packing group key.  A 100 TB corpus with one
#: dominant source would otherwise funnel into a single Arrow worker
#: (VERDICT r1 perf item 2); (source, shard) caps any group at
#: |source| / _PACK_SHARDS docs.  Raise at scale (corpus_rows /
#: (shards × sources) should fit one worker comfortably).
_PACK_SHARDS = 8


@query(
    "pack_token_budget",
    oracle=rf"""
    WITH RECURSIVE base AS (
        SELECT doc_id, source,
               CAST(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20' THEN 0
                         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40' THEN 1
                         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '60' THEN 2
                         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80' THEN 3
                         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'a0' THEN 4
                         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0' THEN 5
                         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e0' THEN 6
                         ELSE 7 END AS BIGINT) AS shard,
               CAST(len({tokens_sql('text')}) AS INTEGER) AS n_tokens
        FROM documents
    ),
    docs AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY source, shard ORDER BY doc_id) AS rn
        FROM base
    ),
    walk AS (
        SELECT doc_id, source, shard, n_tokens, rn,
               CAST(0 AS BIGINT) AS bin_id,
               CAST(n_tokens AS BIGINT) AS used
        FROM docs WHERE rn = 1
        UNION ALL
        SELECT d.doc_id, d.source, d.shard, d.n_tokens, d.rn,
               CASE WHEN w.used > 0 AND w.used + d.n_tokens > 2048
                    THEN w.bin_id + 1 ELSE w.bin_id END,
               CASE WHEN w.used > 0 AND w.used + d.n_tokens > 2048
                    THEN CAST(d.n_tokens AS BIGINT)
                    ELSE w.used + d.n_tokens END
        FROM walk w JOIN docs d
          ON d.source = w.source AND d.shard = w.shard
         AND d.rn = w.rn + 1
    )
    SELECT doc_id, source, shard, n_tokens, bin_id FROM walk
    """,
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into context-window bins of ≤ 2048 tokens per
    (source, shard) group (sequence packing for pretraining).

    Greedy first-fit in doc_id order *within each group*: a doc that
    would overflow the open bin starts a new one (docs larger than the
    budget get a bin alone).  The scan is inherently sequential per
    group — exactly what ``applyInPandas`` (L3) is for: each group's
    docs stream through one Arrow-batched Python worker while groups
    parallelize across executors.  The shard salt (md5 hex-prefix
    bands, the ``kfold_assign`` idiom — cross-engine deterministic, so
    the greedy walk is value-oracled via a recursive CTE instead of
    rows-only) bounds the largest group, so a skewed source never
    serializes the stage; bins are identified by (source, shard,
    bin_id) and stay within shards, costing at most one
    partially-filled bin per shard.
    """
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    shard = (
        F.when(h2 < "20", 0)
        .when(h2 < "40", 1)
        .when(h2 < "60", 2)
        .when(h2 < "80", 3)
        .when(h2 < "a0", 4)
        .when(h2 < "c0", 5)
        .when(h2 < "e0", 6)
        .otherwise(7)
        .cast("long")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        shard.alias("shard"),
        F.size(tokenize(F.col("text"))).alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, used = [], 0
        bin_id = 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if used > 0 and used + n > _PACK_BUDGET:
                bin_id += 1
                used = 0
            bins.append(bin_id)
            used += n
        pdf["bin_id"] = bins
        return pdf[["doc_id", "source", "shard", "n_tokens", "bin_id"]]

    return docs.groupBy("source", "shard").applyInPandas(
        pack, "doc_id long, source string, shard long, n_tokens int, bin_id long"
    )


@query(
    "group_sample_fixed_k",
    oracle="""
    WITH ranked AS (
        SELECT event_type, event_id, user_id,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
               ) AS rk
        FROM events
    )
    SELECT event_type, event_id, user_id, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 5
    """,
)
def group_sample_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k uniform sample per group — the distributed
    stand-in for per-group reservoir sampling (k exemplar rows per
    event_type for eyeballing / eval sets).

    Rank by md5(unique key) = a fixed uniform pseudo-order, keep k=5.
    The rank-≤-k filter compiles to `WindowGroupLimit`, so each map
    task forwards at most k rows per group before the window shuffle —
    the exchange carries ~k·|groups| rows, not the table.  (True
    reservoir sampling needs mutable per-partition state; hash-order
    bottom-k has the same marginal distribution and is re-run/engine
    deterministic, which the RNG form is not.)
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    return (
        ev.select("event_type", "event_id", "user_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
    )


@query(
    "kfold_assign",
    oracle="""
    WITH folds AS (
        SELECT n_chars,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '33' THEN 0
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '66' THEN 1
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '99' THEN 2
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 3
                    ELSE 4 END AS fold
        FROM documents
    )
    SELECT fold, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM folds GROUP BY fold ORDER BY fold
    """,
)
def kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation assignment, content-keyed like
    `train_test_split`: hex-prefix range buckets of md5(doc_id) (the
    boundaries quantize 256 into 5 near-equal bands).

    Stable across engines, re-runs, and corpus appends — adding
    documents never migrates existing ones between folds.  Map-only
    assignment + one 5-group aggregate; the per-fold summary is what a
    CV harness materializes before writing fold shards.
    """
    docs = load_table(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    fold = (
        F.when(h2 < "33", 0)
        .when(h2 < "66", 1)
        .when(h2 < "99", 2)
        .when(h2 < "cc", 3)
        .otherwise(4)
    )
    return (
        docs.select(F.col("n_chars"), fold.alias("fold"))
        .groupBy("fold")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .orderBy("fold")
    )


@query(
    "feature_scale_zscore",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                     / COUNT(*), 6) AS mu,
               stddev_samp(value) AS sigma,
               MIN(value) AS vmin,
               MAX(value) AS vmax
        FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type,
           ROUND((value - mu) / NULLIF(sigma, 0), 6) AS z,
           ROUND((value - vmin) / NULLIF(vmax - vmin, 0), 6) AS minmax
    FROM events e JOIN stats s ON e.event_type = s.event_type
    """,
)
def feature_scale_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature scaling (training-data prep): z-score and
    min-max normalization of the value column within each event_type.

    The grouped stats are a |types|-row aggregate broadcast back onto
    the fact — the canonical normalize-before-training pass.  The mean
    follows the exact-sum discipline (DECIMAL sum, one rounded double
    division); stddev_samp parity is the D7 contract.  Constant groups
    null out via NULLIF on both engines instead of dividing by zero.
    """
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.round(
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mu"),
        F.stddev_samp("value").alias("sigma"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    return ev.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        F.round(
            (F.col("value") - F.col("mu"))
            / F.nullif(F.col("sigma"), F.lit(0.0)),
            6,
        ).alias("z"),
        F.round(
            (F.col("value") - F.col("vmin"))
            / F.nullif(F.col("vmax") - F.col("vmin"), F.lit(0.0)),
            6,
        ).alias("minmax"),
    )


@query(
    "winsorize_values",
    oracle="""
    WITH bounds AS (
        SELECT event_type,
               quantile_cont(value, 0.01) AS p01,
               quantile_cont(value, 0.99) AS p99
        FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type,
           ROUND(GREATEST(LEAST(value, p99), p01), 6) AS value_w,
           (value < p01 OR value > p99) AS clipped
    FROM events e JOIN bounds b ON e.event_type = b.event_type
    """,
)
def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (training-data prep): clip the value
    column to its group's [p01, p99] band and flag the clipped rows —
    the outlier-capping pass run before loss-sensitive training.

    One exact-percentile aggregate per group (D11 parity), |types|
    bound rows broadcast back onto the fact, then pure codegen
    LEAST/GREATEST — no second shuffle.  The clipped flag makes the
    clip rate auditable downstream.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.01)).alias("p01"),
        F.percentile("value", F.lit(0.99)).alias("p99"),
    )
    return ev.join(F.broadcast(bounds), "event_type").select(
        "event_id",
        "event_type",
        F.round(
            F.greatest(F.least(F.col("value"), F.col("p99")), F.col("p01")), 6
        ).alias("value_w"),
        ((F.col("value") < F.col("p01")) | (F.col("value") > F.col("p99"))).alias(
            "clipped"
        ),
    )


@query(
    "oov_rate_by_source",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, source,
               unnest({tokens_sql('text')}) AS token
        FROM documents
    ),
    vocab AS (
        SELECT token FROM toks
        GROUP BY token
        ORDER BY COUNT(*) DESC, token
        LIMIT 10
    )
    SELECT source,
           COUNT(*) AS n_tokens,
           COUNT(*) FILTER (WHERE vocab.token IS NULL) AS n_oov,
           ROUND(CAST(COUNT(*) FILTER (WHERE vocab.token IS NULL) AS DOUBLE)
                 / COUNT(*), 6) AS oov_rate
    FROM toks LEFT JOIN vocab USING (token)
    GROUP BY source
    ORDER BY source
    """,
)
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per corpus source (tokenizer-coverage
    audit): build the top-10 corpus vocabulary (top-k sized to the fixture's 31-token synthetic vocab; production uses 30k+), then measure what
    fraction of each source's token stream falls outside it — the
    check run before freezing a tokenizer on a new data mix.

    The vocab is a bounded top-k (TakeOrdered over the word-count agg)
    and broadcasts into a left join against the token stream; the
    per-source rollup shares the exploded stream, so the whole audit
    is two word-count-shaped passes.  At 100 TB the vocab stays
    |top-k|-sized regardless of corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tokenize(F.col("text"))).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("_n"))
        .orderBy(F.desc("_n"), "token")
        .limit(10)
        .select("token", F.lit(True).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count_if(F.col("_in_vocab").isNull()).alias("n_oov"),
            F.round(
                F.count_if(F.col("_in_vocab").isNull()).cast("double")
                / F.count("*"),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


@query(
    "pack_sequential_bins",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, source,
               CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
               ) - n_tokens AS start_off
        FROM sized
    )
    SELECT doc_id, source, n_tokens,
           CAST(start_off // 2048 AS INTEGER) AS bin_id
    FROM cum
    """,
)
def pack_sequential_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, offset-partitioned form (M4's value-oracled
    twin): each doc's bin is floor(cumulative-start-offset / budget)
    over the doc_id-ordered stream per source — the packing rule is a
    window cumsum + integer division, fully SQL-expressible, so the
    assignment itself is driver-hash-checked (the greedy first-fit
    twin ``pack_token_budget`` is inherently sequential Python and
    stays rows-only).

    Trade-off vs first-fit: a doc straddling a budget boundary makes
    its bin overflow by at most that one doc (first-fit instead opens
    a fresh bin), in exchange for zero Python, one window pass, and a
    deterministic global layout any engine can reproduce — the form
    to prefer at 100 TB when bins feed fixed-stride tensor loaders.
    """
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "source",
        F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return sized.select(
        "doc_id",
        "source",
        "n_tokens",
        (start / 2048).cast("int").alias("bin_id"),
    )


#: Target-encoding smoothing weight (M143): the prior's pseudo-count.
_TE_SMOOTH_M = 50


@query(
    "target_encode_categories",
    oracle=f"""
    WITH g AS (
        SELECT SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS gs,
               COUNT(*) AS gn
        FROM orders
    ),
    per_cat AS (
        SELECT o_orderpriority,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS cs,
               COUNT(*) AS cn
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority,
           CAST(cn AS BIGINT) AS n,
           CAST(cs AS DOUBLE) / cn AS cat_mean,
           (CAST(cs AS DOUBLE)
            + {_TE_SMOOTH_M} * (CAST(gs AS DOUBLE) / gn))
           / (cn + {_TE_SMOOTH_M}) AS encoded
    FROM per_cat, g
    """,
)
def target_encode_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding (M143): replace a categorical feature
    by the smoothed mean of the target —
    (sum_y + m·prior) / (n + m) with the global mean as prior — the
    standard leakage-prone-if-done-wrong ML feature transform, here
    in its aggregate form (per-category encoding table; join it back
    onto rows map-side, or compose with `kfold_assign` for the
    out-of-fold variant that avoids target leakage).

    Scale: one map-side-combined aggregate per side (global + per
    category), the global single row broadcast back — no window, no
    second scan of fact rows per category.  Float discipline: sums
    are DECIMAL(38,6); every output double is a bit-equal chain of
    divisions from exact inputs, emitted unrounded (r7 rule).
    """
    orders = load_table(spark, sf_dir, "orders")
    g = orders.agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("gs"),
        F.count("*").alias("gn"),
    )
    per_cat = orders.groupBy("o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("cs"),
        F.count("*").alias("cn"),
    )
    m = F.lit(_TE_SMOOTH_M)
    return per_cat.crossJoin(F.broadcast(g)).select(
        "o_orderpriority",
        F.col("cn").cast("long").alias("n"),
        (F.col("cs").cast("double") / F.col("cn")).alias("cat_mean"),
        (
            (
                F.col("cs").cast("double")
                + m * (F.col("gs").cast("double") / F.col("gn"))
            )
            / (F.col("cn") + m)
        ).alias("encoded"),
    )


#: Shard count for the skew audit (mirrors write_training_shards' md5
#: layout so the audit describes exactly what the sink would write).
_SKEW_N_SHARDS = 16


@query(
    "shard_skew_report",
    oracle=rf"""
    WITH sharded AS (
        SELECT CAST(
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % {_SKEW_N_SHARDS} AS INTEGER) AS shard,
               len({tokens_sql('text')}) AS n_tok
        FROM documents
    ),
    per AS (
        SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM sharded GROUP BY shard
    ),
    tot AS (SELECT SUM(n_tokens) AS t FROM per)
    SELECT shard, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) * {_SKEW_N_SHARDS} / tot.t
               AS balance_ratio
    FROM per, tot
    """,
)
def shard_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard balance audit (M145): per-shard doc and token
    loads under `sinks.write_training_shards`' exact md5 layout
    (shard = first-8-hex of md5(id) mod n), plus each shard's
    balance ratio (tokens x n_shards / total — 1.0 means perfectly
    even).  The pre-flight check before a shard export: a trainer's
    slowest data-loader rank is the most-loaded shard, so skew HERE
    is step-time skew THERE.

    Map-side projection + one shard-keyed aggregate; the ratio is a
    bit-equal double over exact integer sums (unrounded, r7 rule).
    Demonstrates cross-engine hex→int parity: Spark's conv(hex,16,10)
    equals DuckDB's '0x'-prefixed VARCHAR→BIGINT cast.
    """
    docs = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _SKEW_N_SHARDS
    ).cast("int")
    per = (
        docs.select(
            shard.alias("shard"),
            F.size(tokenize(F.col("text"))).alias("n_tok"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )
    tot = per.agg(F.sum("n_tokens").alias("t"))
    return per.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "n_tokens",
        (
            F.col("n_tokens").cast("double") * _SKEW_N_SHARDS / F.col("t")
        ).alias("balance_ratio"),
    )


@query(
    "packing_waste_audit",
    oracle=rf"""
    WITH per_doc AS (
        SELECT least(CAST(len({tokens_sql('text')}) AS BIGINT),
                     512) AS n_tok
        FROM documents
    ),
    bucketed AS (
        SELECT CAST((n_tok - 1) // 64 AS INTEGER) AS len_bucket, n_tok
        FROM per_doc WHERE n_tok > 0
    )
    SELECT len_bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           CAST(SUM(512 - n_tok) AS BIGINT) AS padding_waste,
           ROUND(CAST(SUM(512 - n_tok) AS DOUBLE) / (512 * COUNT(*)), 6)
               AS waste_ratio
    FROM bucketed
    GROUP BY len_bucket
    """,
)
def packing_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit for sequence packing (M153): per 64-token
    length bucket, how many pad tokens a NAIVE one-doc-per-row batch at
    max_seq_len 512 would burn (512 − len per doc, truncation capped)
    and the waste ratio — the number that justifies running the packing
    ops at all (``pack_token_budget`` / ``pack_sequential_bins``
    eliminate exactly this waste; short-doc-heavy corpora routinely
    waste >50% of step compute on padding).

    Scale: one map-side projection (token count + bucket) and one
    bounded aggregate on ≤8 bucket keys — no joins, no windows; the
    ratio follows the exact-integer-sums / one-rounded-division rule.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.least(
        F.size(tokenize(F.col("text"))).cast("long"), F.lit(512)
    )
    bucketed = docs.select(n_tok.alias("n_tok")).filter(
        F.col("n_tok") > 0
    ).select(
        F.expr("cast((n_tok - 1) div 64 as int)").alias("len_bucket"),
        "n_tok",
    )
    return bucketed.groupBy("len_bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("sum_tokens"),
        F.sum(F.lit(512) - F.col("n_tok")).alias("padding_waste"),
        F.round(
            F.sum(F.lit(512) - F.col("n_tok")).cast("double")
            / (512 * F.count("*")),
            6,
        ).alias("waste_ratio"),
    )


@query(
    "dedup_cluster_size_histogram",
    oracle=rf"""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               {token_set_sql('text')} AS s
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
              >= {_TAU}
    ),
    edges AS (
        SELECT a_id AS u, b_id AS w FROM pairs
        UNION
        SELECT b_id, a_id FROM pairs
    ),
    reach AS (
        SELECT DISTINCT u AS v, u AS w FROM edges
        UNION
        SELECT r.v, e.w
        FROM reach r JOIN edges e ON e.u = r.w
    ),
    assign AS (
        SELECT d.doc_id,
               coalesce(c.canonical_id, d.doc_id) AS canonical_id
        FROM documents d
        LEFT JOIN (SELECT v, MIN(w) AS canonical_id FROM reach GROUP BY v) c
               ON c.v = d.doc_id
    ),
    sizes AS (
        SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM assign GROUP BY canonical_id
    )
    SELECT n AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(SUM(n - 1) AS BIGINT) AS n_removable
    FROM sizes GROUP BY n
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram (M152) — the dedup ROI report:
    for each duplicate-cluster size n (connected components over the
    ``near_dup_clusters`` edge set), how many clusters exist, how many
    documents they hold, and how many rows canonical-keep dedup would
    remove (n−1 per cluster).  This is the number quoted before
    green-lighting a dedup pass on a new corpus ("23% of the crawl
    collapses"), and the distribution says WHAT kind of duplication it
    is — a fat n=2 tail (mirrors, re-posts) vs a few mega-clusters
    (templates, boilerplate) call for different upstream fixes.
    Clusters are NEAR-dup components, not byte-identical groups,
    deliberately: real corpora (and this fixture at the driver tier)
    duplicate by near-duplication, not byte equality.

    Scale: the same O(log d) pointer-jumping closure as
    ``near_dup_clusters`` (id-pair shuffles only), then a
    canonical-keyed count and a histogram over cluster SIZES — key
    cardinality ≤ max multiplicity, a few dozen at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = _adjacent_jaccard_edges(docs)
    assign = canonical_assignment(pairs, docs.select("doc_id"))
    sizes = assign.groupBy("canonical_id").agg(F.count("*").alias("n"))
    return sizes.groupBy(F.col("n").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters"),
        F.sum("n").alias("n_docs"),
        F.sum(F.col("n") - 1).alias("n_removable"),
    )


@query(
    "preference_pair_build",
    oracle=rf"""
    WITH scored AS (
        SELECT lang, source, doc_id,
               1000000 * len(list_distinct(l)) // len(l) AS reward_micro
        FROM (
            SELECT lang, source, doc_id,
                   {tokens_sql('text')} AS l
            FROM documents
        ) WHERE len(l) > 0
    ),
    ranked AS (
        SELECT lang, source, doc_id, reward_micro,
               ROW_NUMBER() OVER (
                   PARTITION BY lang, source
                   ORDER BY reward_micro DESC, doc_id ASC) AS rn_best,
               ROW_NUMBER() OVER (
                   PARTITION BY lang, source
                   ORDER BY reward_micro ASC, doc_id DESC) AS rn_worst
        FROM scored
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(MAX(CASE WHEN rn_best = 1 THEN doc_id END) AS BIGINT)
               AS chosen_doc_id,
           CAST(MAX(CASE WHEN rn_worst = 1 THEN doc_id END) AS BIGINT)
               AS rejected_doc_id,
           CAST(MAX(CASE WHEN rn_best = 1 THEN reward_micro END)
                - MAX(CASE WHEN rn_worst = 1 THEN reward_micro END)
                AS BIGINT) AS margin_micro
    FROM ranked GROUP BY lang, source HAVING COUNT(*) >= 2
    """,
)
def preference_pair_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLHF/DPO preference-pair construction (M159): within each prompt
    group — (lang, source) stands in for the prompt key — pair the
    highest-reward candidate (chosen) against the lowest (rejected),
    with the reward margin that downstream DPO loss weighting and
    pair-quality filters (drop margin≈0 pairs) consume.  The reward
    here is the distinct-token ratio in integer micro-units; a real
    pipeline swaps in its reward-model score column and every
    downstream expression is unchanged.  Tie-breaks are polarized
    (chosen: reward DESC, id ASC; rejected: reward ASC, id DESC) so a
    constant-reward group still yields a valid distinct pair rather
    than chosen == rejected; 1-candidate groups are dropped (no pair
    exists).

    Exactness: the reward is an integer division to micro-units, the
    margin a BIGINT difference — nothing float anywhere.

    Scale: one map-only scoring projection, two row_number windows on
    the SAME (lang, source) partitioning (one shuffle, bounded
    per-group state), then a group-keyed conditional aggregate —
    |groups|-sized output.  No self-join of candidates against each
    other (the all-pairs construction would be |group|² per prompt).
    """
    docs = load_table(spark, sf_dir, "documents")
    l = tokenize(F.col("text"))
    scored = docs.select(
        "lang",
        "source",
        "doc_id",
        l.alias("l"),
    ).filter(F.size("l") > 0).select(
        "lang",
        "source",
        "doc_id",
        F.expr(
            "1000000 * size(array_distinct(l)) div size(l)"
        ).alias("reward_micro"),
    )
    w_best = Window.partitionBy("lang", "source").orderBy(
        F.desc("reward_micro"), F.asc("doc_id")
    )
    w_worst = Window.partitionBy("lang", "source").orderBy(
        F.asc("reward_micro"), F.desc("doc_id")
    )
    ranked = scored.select(
        "*",
        F.row_number().over(w_best).alias("rn_best"),
        F.row_number().over(w_worst).alias("rn_worst"),
    )
    return (
        ranked.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_candidates"),
            F.max(
                F.when(F.col("rn_best") == 1, F.col("doc_id"))
            ).alias("chosen_doc_id"),
            F.max(
                F.when(F.col("rn_worst") == 1, F.col("doc_id"))
            ).alias("rejected_doc_id"),
            (
                F.max(F.when(F.col("rn_best") == 1, F.col("reward_micro")))
                - F.max(F.when(F.col("rn_worst") == 1, F.col("reward_micro")))
            ).alias("margin_micro"),
        )
        .filter(F.col("n_candidates") >= 2)
    )


@query(
    "packed_attention_mask_audit",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, source,
               CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    binned AS (
        SELECT doc_id, source, n_tokens,
               CAST((SUM(n_tokens) OVER (
                        PARTITION BY source ORDER BY doc_id)
                     - n_tokens) // 2048 AS INTEGER) AS bin_id
        FROM sized
    ),
    linked AS (
        SELECT source, bin_id, n_tokens,
               n_tokens * (SUM(n_tokens) OVER (
                              PARTITION BY source, bin_id ORDER BY doc_id)
                           - n_tokens) AS cross_j
        FROM binned
    )
    SELECT source, bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           CAST(SUM(cross_j) AS BIGINT) AS cross_links,
           CAST(SUM(n_tokens) * (SUM(n_tokens) + 1) // 2 AS BIGINT)
               AS causal_links,
           CAST(SUM(cross_j) AS DOUBLE)
               / (SUM(n_tokens) * (SUM(n_tokens) + 1) // 2) AS leak_ratio
    FROM linked GROUP BY source, bin_id
    """,
)
def packed_attention_mask_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-sequence attention-mask audit (M165): for every packing
    bin of the ``pack_sequential_bins`` layout, the number of
    cross-document attention links a plain causal mask would leak if
    the block-diagonal document-boundary reset were forgotten —
    token t of doc j attends to every token of docs i<j in the bin,
    so leaked links = sum_j L_j * (sum_{i<j} L_i) — plus the bin's
    total causal links and the leak ratio.  This is the mask-shape
    accounting packed pretraining REQUIRES (cross-doc attention
    contaminates training) and the cost model for choosing
    block-diagonal kernels over full-causal-with-mask.

    Exactness: both windows and all link counts are exact BIGINT
    arithmetic over the same doc_id-ordered stream as the packing op;
    the ratio is ONE IEEE division of exact integers (bit-equal).

    Scale: TWO stacked windows on the same source-keyed shuffle (the
    second adds bin_id to the partition key — no extra exchange), then
    a bounded (source, bin) aggregate.  Per-bin state is one context
    window (~2048 tokens) regardless of corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "source",
        F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = sized.select(
        "doc_id",
        "source",
        "n_tokens",
        (
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(2048)
        )
        .cast("int")
        .alias("bin_id"),
    )
    w_bin = (
        Window.partitionBy("source", "bin_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    linked = binned.withColumn(
        "cross_j",
        F.col("n_tokens")
        * (F.sum("n_tokens").over(w_bin) - F.col("n_tokens")),
    )
    t = F.sum("n_tokens")
    causal = F.expr("sum(n_tokens) * (sum(n_tokens) + 1) div 2")
    return linked.groupBy("source", "bin_id").agg(
        F.count("*").alias("n_docs"),
        t.alias("bin_tokens"),
        F.sum("cross_j").alias("cross_links"),
        causal.alias("causal_links"),
        (F.sum("cross_j").cast("double") / causal).alias("leak_ratio"),
    )


@query(
    "dedup_weight_consolidation",
    oracle=rf"""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    sets AS (SELECT doc_id, list_distinct(l) AS s, len(l) AS n_tokens
             FROM toks),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM sets a JOIN sets b ON b.doc_id = a.doc_id + 1
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
              >= {_TAU}
    ),
    edges AS (
        SELECT a_id AS u, b_id AS w FROM pairs
        UNION
        SELECT b_id, a_id FROM pairs
    ),
    reach AS (
        SELECT DISTINCT u AS v, u AS w FROM edges
        UNION
        SELECT r.v, e.w
        FROM reach r JOIN edges e ON e.u = r.w
    ),
    assign AS (
        SELECT d.doc_id, d.n_tokens,
               coalesce(c.canonical_id, d.doc_id) AS canonical_id
        FROM sets d
        LEFT JOIN (SELECT v, MIN(w) AS canonical_id FROM reach GROUP BY v) c
               ON c.v = d.doc_id
    )
    SELECT canonical_id,
           CAST(COUNT(*) AS BIGINT) AS weight,
           CAST(MAX(CASE WHEN doc_id = canonical_id THEN n_tokens END)
                AS BIGINT) AS canonical_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS cluster_tokens,
           CAST(SUM(n_tokens)
                - MAX(CASE WHEN doc_id = canonical_id THEN n_tokens END)
                AS BIGINT) AS tokens_saved
    FROM assign GROUP BY canonical_id
    """,
)
def dedup_weight_consolidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup with sampling weights (M166): collapse each near-dup
    cluster to its canonical document but KEEP the duplicate count as
    a per-document weight — the "dedup without losing the popularity
    signal" variant (a doc crawled 40 times is evidence of importance;
    hard dedup throws that away, weight-carrying dedup hands it to the
    mixture/upsampling stage as a prior).  Ships the token accounting
    (canonical vs whole-cluster tokens, tokens saved) that prices the
    consolidation.

    Scale: the same O(log d) pointer-jumping closure as
    ``near_dup_clusters`` (id-pair shuffles only) plus ONE
    canonical-keyed aggregate over (doc_id, n_tokens) rows — the
    canonical's own token count surfaces via a conditional MAX inside
    that aggregate, not a second join.  All outputs exact BIGINTs.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = _adjacent_jaccard_edges(docs)
    sized = docs.select(
        "doc_id", F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens")
    )
    assign = canonical_assignment(pairs, docs.select("doc_id")).join(
        sized, "doc_id"
    )
    canon_toks = F.max(
        F.when(F.col("doc_id") == F.col("canonical_id"), F.col("n_tokens"))
    )
    return assign.groupBy("canonical_id").agg(
        F.count("*").alias("weight"),
        canon_toks.alias("canonical_tokens"),
        F.sum("n_tokens").alias("cluster_tokens"),
        (F.sum("n_tokens") - canon_toks).alias("tokens_saved"),
    )


#: Pooled-quantile grid resolution for cross-source normalization.
#: 101 points (percentiles 0..100) — the bounded model-state table a
#: production normalizer ships to executors; finer grids change the
#: constant, not the shape.
_QNORM_GRID = [i / 100.0 for i in range(101)]


@query(
    "cross_source_quantile_norm",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id) AS r,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM documents
    ),
    pct AS (
        SELECT doc_id, source, n_chars,
               CASE WHEN n > 1
                    THEN (r - 1) * 1000000 // (n - 1)
                    ELSE 500000 END AS p_micro
        FROM ranked
    ),
    grid AS (
        SELECT CAST(gi AS INTEGER) AS gi, ROUND(qv, 6) AS norm_value
        FROM (
            SELECT unnest(range(0, 101)) AS gi,
                   unnest(quantile_cont(n_chars,
                       [{", ".join(str(p) for p in _QNORM_GRID)}])) AS qv
            FROM documents
        )
    )
    SELECT p.doc_id, p.source,
           CAST(p.n_chars AS BIGINT) AS n_chars,
           CAST(p.p_micro AS BIGINT) AS p_micro,
           g.norm_value
    FROM pct p JOIN grid g ON g.gi = CAST(p.p_micro // 10000 AS INTEGER)
    """,
)
def cross_source_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization (M167) — the batch-effect
    correction run before applying one global threshold to scores from
    heterogeneous sources (each crawl/feed has its own length/quality
    distribution; a 90th-percentile doc should mean the same thing
    everywhere): each document's within-source percentile is mapped to
    the POOLED distribution's value at that percentile via a bounded
    101-point quantile grid.

    Exactness: within-source percentiles are integer rank arithmetic
    ((r−1)·1e6 div (n−1), median for singleton sources); the pooled
    grid is the exact interpolating percentile ROUNDed to 6 digits on
    both engines (the ``value_percentiles`` discipline); the grid
    lookup is an integer-division bucket join.

    Scale: one source-partitioned rank window; the grid is a 101-row
    broadcast (model state — production swaps the exact percentile for
    approx_percentile at the same grid and keeps every downstream
    expression); the mapping join is map-side.  The corpus shuffles
    once, on the source key.
    """
    docs = load_table(spark, sf_dir, "documents")
    w_rank = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    w_n = Window.partitionBy("source")
    pct = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w_rank).alias("r"),
        F.count("*").over(w_n).alias("n"),
    ).select(
        "doc_id",
        "source",
        "n_chars",
        F.when(
            F.col("n") > 1,
            F.expr("(r - 1) * 1000000 div (n - 1)"),
        )
        .otherwise(F.lit(500000))
        .alias("p_micro"),
    )
    grid_sql = ", ".join(str(p) for p in _QNORM_GRID)
    grid = (
        docs.agg(
            F.expr(f"percentile(n_chars, array({grid_sql}))").alias("qs")
        )
        .select(F.posexplode("qs").alias("gi", "qv"))
        .select("gi", F.round("qv", 6).alias("norm_value"))
    )
    return pct.join(
        F.broadcast(grid),
        F.col("gi") == F.expr("p_micro div 10000").cast("int"),
    ).select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("p_micro").cast("long").alias("p_micro"),
        "norm_value",
    )


@query(
    "split_label_shift_chi2",
    oracle="""
    WITH rated AS (
        SELECT label,
               CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
                         < '8' THEN 1 ELSE 0 END AS tr
        FROM embeddings
    ),
    cls AS (
        SELECT label,
               CAST(SUM(tr) AS BIGINT) AS o_tr,
               CAST(COUNT(*) - SUM(tr) AS BIGINT) AS o_te
        FROM rated GROUP BY label
    ),
    tot AS (
        SELECT CAST(SUM(o_tr) AS BIGINT) AS s_tr,
               CAST(SUM(o_te) AS BIGINT) AS s_te,
               CAST(SUM(o_tr) + SUM(o_te) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_classes
        FROM cls
    ),
    terms AS (
        SELECT CAST(floor(
                   (CAST(o_tr * n - (o_tr + o_te) * s_tr AS DOUBLE)
                        * (o_tr * n - (o_tr + o_te) * s_tr))
                   / (CAST(n AS DOUBLE) * (o_tr + o_te) * s_tr)
                   * 1000000000 + 0.5) AS BIGINT)
               + CAST(floor(
                   (CAST(o_te * n - (o_tr + o_te) * s_te AS DOUBLE)
                        * (o_te * n - (o_tr + o_te) * s_te))
                   / (CAST(n AS DOUBLE) * (o_tr + o_te) * s_te)
                   * 1000000000 + 0.5) AS BIGINT) AS term_nano
        FROM cls CROSS JOIN tot
    )
    SELECT t.s_tr AS n_train, t.s_te AS n_test, t.n_classes,
           ROUND(CAST(SUM(term_nano) AS DOUBLE) / 1000000000.0, 6)
               AS chi2
    FROM terms CROSS JOIN tot t
    GROUP BY t.s_tr, t.s_te, t.n_classes
    """,
)
def split_label_shift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test label-shift chi-square (M168) — the split-QA gate run
    after a content-keyed split (M2): does the md5 split preserve the
    label distribution, or did it induce covariate shift?  Pearson
    chi-square over the 2 x |classes| (split, label) table; compare to
    the chi2 critical value at |classes|-1 df before trusting
    test-set metrics.

    Exactness: each cell's (O-E)^2/E term is the cross-multiplied
    integer form (O*N - C_k*S_s)^2 / (N*C_k*S_s) — numerator and
    denominator EXACT BIGINTs, one IEEE division per cell — quantized
    to nano-units BEFORE the per-class sum (the ``psi_drift``
    discipline: sum order cannot move the result), one final rounded
    double.

    Scale: one |classes|-keyed conditional aggregate over the items, a
    1-row totals broadcast, and term math on the bounded class table.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    rated = emb.select(
        "label",
        F.when(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
            < "8",
            1,
        )
        .otherwise(0)
        .alias("tr"),
    )
    cls = rated.groupBy("label").agg(
        F.sum("tr").cast("long").alias("o_tr"),
        (F.count("*") - F.sum("tr")).cast("long").alias("o_te"),
    )
    tot = cls.agg(
        F.sum("o_tr").cast("long").alias("s_tr"),
        F.sum("o_te").cast("long").alias("s_te"),
        (F.sum("o_tr") + F.sum("o_te")).cast("long").alias("n"),
        F.count("*").cast("long").alias("n_classes"),
    )

    def term(o: str, s: str) -> F.Column:
        num = (
            F.col(o) * F.col("n")
            - (F.col("o_tr") + F.col("o_te")) * F.col(s)
        )
        # Cast BEFORE squaring/multiplying: num can reach n*class_size
        # (~3e9+ on a 100 TB corpus with a dominant class), so num*num
        # in BIGINT wraps silently in non-ANSI Spark while DuckDB
        # errors — the benford_first_digit_audit discipline.
        den = (
            F.col("n").cast("double")
            * (F.col("o_tr") + F.col("o_te"))
            * F.col(s)
        )
        return F.floor(
            num.cast("double") * num / den * 1000000000 + F.lit(0.5)
        ).cast("long")

    terms = cls.crossJoin(F.broadcast(tot)).select(
        "s_tr",
        "s_te",
        "n_classes",
        (term("o_tr", "s_tr") + term("o_te", "s_te")).alias("term_nano"),
    )
    return terms.groupBy(
        F.col("s_tr").alias("n_train"),
        F.col("s_te").alias("n_test"),
        "n_classes",
    ).agg(
        F.round(
            F.sum("term_nano").cast("double") / 1000000000.0, 6
        ).alias("chi2")
    )


@query(
    "best_of_n_select",
    oracle="""
    WITH cand AS (
        SELECT user_id, event_id,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS reward_micro
        FROM events
    ),
    ranked AS (
        SELECT user_id, event_id, reward_micro,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY reward_micro DESC, event_id ASC) AS rn
        FROM cand
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(MAX(CASE WHEN rn = 1 THEN event_id END) AS BIGINT)
               AS chosen_event_id,
           CAST(MAX(CASE WHEN rn = 1 THEN reward_micro END) AS BIGINT)
               AS best_reward_micro,
           CAST(MAX(CASE WHEN rn = 1 THEN reward_micro END)
                - MAX(CASE WHEN rn = 2 THEN reward_micro END) AS BIGINT)
               AS runnerup_margin_micro,
           CAST(SUM(reward_micro)
                - MAX(CASE WHEN rn = 1 THEN reward_micro END) AS DOUBLE)
               / (COUNT(*) - 1) AS mean_rejected_micro
    FROM ranked GROUP BY user_id HAVING COUNT(*) >= 2
    """,
)
def best_of_n_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n selection (M179): the rejection-sampling data prep
    behind BoN distillation — per prompt group (user_id stands in for
    the prompt key, events for sampled responses), keep the
    highest-reward candidate and report the selection-confidence
    signals downstream filters consume: the margin over the RUNNER-UP
    (a near-zero top-2 gap means the reward model couldn't
    distinguish — a weak training example) and the mean rejected
    reward (the baseline the chosen response beat).  Complements M159
    (`preference_pair_build`): that emits chosen-vs-worst DPO pairs,
    this emits the keep-one-of-n SFT selection with its confidence
    accounting.  The reward is the micro-quantized event value; swap
    in a reward-model score column and nothing downstream changes.

    Exactness: rewards are exact micro-ints; margin a BIGINT
    difference; mean_rejected ONE IEEE division of exact BIGINTs.

    Scale: ONE user_id shuffle serves both the row_number window and
    the group aggregate (same partitioning, bounded per-group state);
    no candidate self-join.  1-candidate groups are dropped (nothing
    was rejected).
    """
    ev = load_table(spark, sf_dir, "events")
    cand = ev.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("reward_micro"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("reward_micro"), F.asc("event_id")
    )
    ranked = cand.select("*", F.row_number().over(w).alias("rn"))
    best = F.max(F.when(F.col("rn") == 1, F.col("reward_micro")))
    second = F.max(F.when(F.col("rn") == 2, F.col("reward_micro")))
    return (
        ranked.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_candidates"),
            F.max(F.when(F.col("rn") == 1, F.col("event_id")))
            .cast("long")
            .alias("chosen_event_id"),
            best.cast("long").alias("best_reward_micro"),
            (best - second).cast("long").alias("runnerup_margin_micro"),
            (
                (F.sum("reward_micro") - best).cast("double")
                / (F.count("*") - 1)
            ).alias("mean_rejected_micro"),
        )
        .where(F.col("n_candidates") >= 2)
    )


@query(
    "churn_label_build",
    oracle="""
    WITH bounds AS (
        SELECT CAST(MIN(ts) AS TIMESTAMP) + INTERVAL 21 DAY AS split_ts
        FROM events
    ),
    obs AS (
        SELECT user_id, ts, event_type FROM events, bounds
        WHERE ts < split_ts
    ),
    holdout_users AS (
        SELECT DISTINCT user_id FROM events, bounds WHERE ts >= split_ts
    ),
    feats AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events_obs,
               CAST(count_if(event_type = 'purchase') AS BIGINT)
                   AS n_purchases_obs,
               CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT)
                   AS n_active_days_obs,
               CAST(MAX(CAST(date_trunc('day', ts) AS TIMESTAMP))
                    AS TIMESTAMP) AS last_active_day
        FROM obs GROUP BY user_id
    )
    SELECT f.user_id, n_events_obs, n_purchases_obs, n_active_days_obs,
           last_active_day,
           CAST(CASE WHEN h.user_id IS NULL THEN 1 ELSE 0 END AS INT)
               AS churned
    FROM feats f LEFT JOIN holdout_users h ON h.user_id = f.user_id
    """,
)
def churn_label_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn label construction (M189): the canonical
    features-from-logs training-set build — a 21-day observation
    window yields per-user features (event count, purchases, active
    days, last active day) and the 9-day holdout window yields the
    label (churned = zero holdout activity).  The time-split
    discipline every behavioral model needs: features may only read
    BEFORE the split, labels only AFTER — the leakage rule
    `leakage_safe_split` enforces structurally, here instantiated as
    an actual labeled table a trainer consumes.

    Exactness: the split is exact timestamp arithmetic off the
    broadcast observed minimum (UTC, no DST hazards); counts exact
    BIGINTs; the label an integer null-flag off a left join — no
    floats anywhere.

    Scale: one user-keyed aggregate over the observation scan plus a
    DISTINCT holdout projection joined user-keyed; users with zero
    observation events are (correctly) absent — they have no feature
    row.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        (F.min("ts").cast("timestamp") + F.expr("INTERVAL 21 DAY")).alias(
            "split_ts"
        )
    )
    with_split = ev.crossJoin(F.broadcast(bounds))
    obs = with_split.where(F.col("ts") < F.col("split_ts"))
    holdout = (
        with_split.where(F.col("ts") >= F.col("split_ts"))
        .select("user_id")
        .distinct()
        .withColumn("in_holdout", F.lit(1))
    )
    feats = obs.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events_obs"),
        F.count_if(F.col("event_type") == "purchase")
        .cast("long")
        .alias("n_purchases_obs"),
        F.countDistinct(F.date_trunc("day", "ts"))
        .cast("long")
        .alias("n_active_days_obs"),
        F.max(F.date_trunc("day", "ts"))
        .cast("timestamp")
        .alias("last_active_day"),
    )
    return feats.join(holdout, "user_id", "left").select(
        "user_id",
        "n_events_obs",
        "n_purchases_obs",
        "n_active_days_obs",
        "last_active_day",
        F.when(F.col("in_holdout").isNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("churned"),
    )


@query(
    "reshard_stability_audit",
    oracle="""
    WITH keys AS (
        SELECT DISTINCT
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) AS h
        FROM documents
    ),
    ring AS (
        SELECT n_shards, s AS shard,
               CAST(('0x' || substr(md5('s' || CAST(s AS VARCHAR) || 'v'
                                        || CAST(v AS VARCHAR)), 1, 8))
                    AS BIGINT) AS pos
        FROM (SELECT unnest([8, 9]) AS n_shards),
             (SELECT unnest(range(9)) AS s),
             (SELECT unnest(range(16)) AS v)
        WHERE s < n_shards
    ),
    assign AS (
        SELECT k.h, r.n_shards,
               MIN(((r.pos - k.h + 4294967296) % 4294967296) * 16
                   + r.shard) % 16 AS owner
        FROM keys k CROSS JOIN ring r
        GROUP BY k.h, r.n_shards
    ),
    pivoted AS (
        SELECT h,
               MAX(CASE WHEN n_shards = 8 THEN owner END) AS o8,
               MAX(CASE WHEN n_shards = 9 THEN owner END) AS o9
        FROM assign GROUP BY h
    ),
    moves AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(count_if(h % 8 <> h % 9) AS BIGINT) AS moved_mod,
               CAST(count_if(h * 8 // 4294967296 <> h * 9 // 4294967296)
                    AS BIGINT) AS moved_range,
               CAST(count_if(o8 <> o9) AS BIGINT) AS moved_ring
        FROM pivoted
    )
    SELECT strategy, n_keys, n_moved,
           CAST(1000000 * n_moved // n_keys AS BIGINT) AS moved_ppm
    FROM (
        SELECT 'mod' AS strategy, n_keys, moved_mod AS n_moved FROM moves
        UNION ALL
        SELECT 'range' AS strategy, n_keys, moved_range AS n_moved
        FROM moves
        UNION ALL
        SELECT 'ring' AS strategy, n_keys, moved_ring AS n_moved FROM moves
    )
    """,
)
def reshard_stability_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reshard stability audit (M198): when the shard count grows
    8 → 9, what fraction of keys MOVE under three assignment rules —
    (a) mod-N hashing (expectation ~8/9: nearly every cache entry
    invalidated, every co-located bucket re-shuffled), (b) naive
    range re-split floor(h·N/2³²) (~1/2 — better, still
    restate-half; the measure of {x: floor(8x)=floor(9x)} is exactly
    Σ_k (8−k)/72 = ½), and (c) RING consistent hashing with 16
    virtual nodes per shard (~1/9 — only keys landing in the new
    shard's arcs move, the minimum any rebalance must pay).  The
    one-table argument for consistent sharding in every stateful
    layout (M5 shards, A6b buckets, M125 serving index, M70's
    incremental dedup state).

    Both engines COMPUTE the ring from the same md5 formula
    (pos = first-8-hex of md5('s<i>v<j>')) rather than sharing
    literals; ownership is min over ring points of the clockwise
    distance, made total-ordered via min((delta·16 + shard)) % 16 so
    ties (never observed — 272 distinct positions) stay
    deterministic.  Key hashes are DISTINCT (the audit is over hash
    points, not documents — duplicate-hash docs co-move by
    construction).

    Exactness: every rule and flag is pure integer arithmetic
    (delta·16 < 2³⁶); moved_ppm an integer division.

    Scale: one DISTINCT-hash projection; the ring is a 272-row
    broadcast cross join (map-side), ownership a per-key MIN — no
    data-sized state beyond the key scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    keys = docs.select(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        )
        .cast("long")
        .alias("h")
    ).distinct()
    grid = [
        (n, s, v)
        for n in (8, 9)
        for s in range(9)
        for v in range(16)
        if s < n
    ]
    ring = spark.createDataFrame(
        grid, "n_shards int, shard int, v int"
    ).select(
        "n_shards",
        "shard",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("s"),
                        F.col("shard").cast("string"),
                        F.lit("v"),
                        F.col("v").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("pos"),
    )
    delta = (F.col("pos") - F.col("h") + F.lit(4294967296)) % F.lit(
        4294967296
    )
    assign = (
        keys.crossJoin(F.broadcast(ring))
        .groupBy("h", "n_shards")
        .agg((F.min(delta * 16 + F.col("shard")) % 16).alias("owner"))
    )
    pivoted = assign.groupBy("h").agg(
        F.max(F.when(F.col("n_shards") == 8, F.col("owner"))).alias("o8"),
        F.max(F.when(F.col("n_shards") == 9, F.col("owner"))).alias("o9"),
    )
    moves = pivoted.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.count_if(F.col("h") % 8 != F.col("h") % 9)
        .cast("long")
        .alias("moved_mod"),
        F.count_if(
            F.expr("h * 8 div 4294967296") != F.expr("h * 9 div 4294967296")
        )
        .cast("long")
        .alias("moved_range"),
        F.count_if(F.col("o8") != F.col("o9"))
        .cast("long")
        .alias("moved_ring"),
    )
    rows = [
        moves.select(
            F.lit(name).alias("strategy"),
            "n_keys",
            F.col(col).alias("n_moved"),
        )
        for name, col in (
            ("mod", "moved_mod"),
            ("range", "moved_range"),
            ("ring", "moved_ring"),
        )
    ]
    out = rows[0].unionAll(rows[1]).unionAll(rows[2])
    return out.select(
        "strategy",
        "n_keys",
        "n_moved",
        F.expr("CAST(1000000 * n_moved div n_keys AS BIGINT)").alias(
            "moved_ppm"
        ),
    )


@query(
    "lag_feature_matrix",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) * 1000000
                    AS BIGINT) AS v
        FROM events
        WHERE substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '2'
        GROUP BY user_id, date_trunc('day', ts)
    ),
    spans AS (
        SELECT user_id, MIN(d) AS d0, MAX(d) AS d1
        FROM daily GROUP BY user_id
    ),
    grid AS (
        SELECT s.user_id,
               CAST(unnest(generate_series(s.d0, s.d1, INTERVAL 1 DAY))
                    AS TIMESTAMP) AS d
        FROM spans s
    ),
    dense AS (
        SELECT g.user_id, g.d, COALESCE(dy.v, 0) AS v
        FROM grid g LEFT JOIN daily dy
          ON g.user_id = dy.user_id AND g.d = dy.d
    )
    SELECT user_id, d AS day, v,
           CAST(COALESCE(lag(v, 1) OVER w, 0) AS BIGINT) AS lag1,
           CAST(COALESCE(lag(v, 7) OVER w, 0) AS BIGINT) AS lag7,
           CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY d
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS roll7
    FROM dense
    WINDOW w AS (PARTITION BY user_id ORDER BY d)
    """,
)
def lag_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lag-feature builder (M258): per sampled user, the
    dense daily grid of value sums with lag-1, lag-7, and rolling-7-day
    features — the feature-store table a churn/forecast model trains
    on, built leak-free (every feature at day d uses data strictly at
    or before d — the point_in_time_join M105 discipline applied to
    autoregressive features).  The GRID is the correctness subtlety:
    lags over present-days-only silently skip gaps, so the series is
    gap-filled to calendar days first (zero-activity days are real
    observations), making row-lags equal time-lags.

    Exactness: micro BIGINT daily sums; grid bounds per user from
    exact min/max; the md5 3/16 user sample shares the predicate with
    the oracle.  Scale: one user-day aggregate, a per-user bounded
    sequence explode (span days), and windows partitioned per user —
    the sessionize shuffle shape; nothing global.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) <= "2"
    )
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).agg(
        (F.sum(F.col("value").cast("decimal(38,6)")) * 1000000)
        .cast("long")
        .alias("v")
    )
    spans = daily.groupBy("user_id").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))
        ).alias("d"),
    )
    dense = grid.join(daily, ["user_id", "d"], "left").select(
        "user_id", "d", F.coalesce(F.col("v"), F.lit(0)).alias("v")
    )
    w = Window.partitionBy("user_id").orderBy("d")
    wr = w.rowsBetween(-6, 0)
    return dense.select(
        "user_id",
        F.col("d").alias("day"),
        "v",
        F.coalesce(F.lag("v", 1).over(w), F.lit(0))
        .cast("long")
        .alias("lag1"),
        F.coalesce(F.lag("v", 7).over(w), F.lit(0))
        .cast("long")
        .alias("lag7"),
        F.sum("v").over(wr).cast("long").alias("roll7"),
    )


@query(
    "rendezvous_hashing_audit",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    shards AS (SELECT unnest(range(0, 5)) AS shard),
    scored AS (
        SELECT u.user_id, s.shard,
               CAST(('0x' || substr(md5(CAST(u.user_id AS VARCHAR) || '|'
                                        || CAST(s.shard AS VARCHAR)),
                                    1, 11)) AS BIGINT) AS score
        FROM users u CROSS JOIN shards s
    ),
    owner5 AS (
        SELECT user_id,
               CAST(max(struct_pack(score := score, shard := shard))['shard']
                    AS BIGINT) AS o5
        FROM scored GROUP BY user_id
    ),
    owner4 AS (
        SELECT user_id,
               CAST(max(struct_pack(score := score, shard := shard))['shard']
                    AS BIGINT) AS o4
        FROM scored WHERE shard <> 2 GROUP BY user_id
    ),
    b AS (SELECT o5 AS shard, CAST(COUNT(*) AS BIGINT) AS n_before
          FROM owner5 GROUP BY o5),
    a AS (SELECT o4 AS shard, CAST(COUNT(*) AS BIGINT) AS n_after
          FROM owner4 GROUP BY o4)
    SELECT s.shard,
           CAST(COALESCE(b.n_before, 0) AS BIGINT) AS n_before,
           CAST(COALESCE(a.n_after, 0) AS BIGINT) AS n_after
    FROM shards s
    LEFT JOIN b ON b.shard = s.shard
    LEFT JOIN a ON a.shard = s.shard
    """,
)
def rendezvous_hashing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) hashing audit (M302): each
    user is owned by the shard with the highest hash(user|shard); the
    table shows the 5-shard balance and the re-balance after shard 2
    is REMOVED — the OTHER consistent-placement scheme next to M198's
    hash ring (HRW needs no vnode table, gives perfect minimal
    disruption by construction, costs k hashes per lookup vs the
    ring's log v — this pair of audits IS the placement-scheme
    decision).  The HRW minimal-disruption law — removing a shard
    moves ONLY that shard's keys, because an argmax is unchanged by
    deleting a non-maximal candidate — is property-pinned.

    Determinism: scores are the 44-bit md5-prefix integers of
    (user|shard), COMPUTED identically by both engines; ownership is
    max over a (score, shard) struct — exact integer/lexicographic
    order, no ties in practice and shard-id tie-broken if ever.

    Scale: |users| × 5 broadcast explode, two per-user max-reduces
    (map-side combinable), 5-row output.  Nothing shuffles but
    (user, owner) pairs.
    """
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    shards = spark.range(5).select(F.col("id").cast("long").alias("shard"))
    scored = users.crossJoin(F.broadcast(shards)).select(
        "user_id",
        "shard",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit("|"),
                        F.col("shard").cast("string"),
                    )
                ),
                1,
                11,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("score"),
    )
    pick = F.max(F.struct(F.col("score"), F.col("shard"))).getField("shard")
    owner5 = scored.groupBy("user_id").agg(
        pick.cast("long").alias("o5")
    )
    owner4 = (
        scored.filter(F.col("shard") != 2)
        .groupBy("user_id")
        .agg(pick.cast("long").alias("o4"))
    )
    b = owner5.groupBy(F.col("o5").alias("shard")).agg(
        F.count("*").cast("long").alias("n_before")
    )
    a = owner4.groupBy(F.col("o4").alias("shard")).agg(
        F.count("*").cast("long").alias("n_after")
    )
    return (
        shards.join(b, "shard", "left")
        .join(a, "shard", "left")
        .select(
            "shard",
            F.coalesce(F.col("n_before"), F.lit(0))
            .cast("long")
            .alias("n_before"),
            F.coalesce(F.col("n_after"), F.lit(0))
            .cast("long")
            .alias("n_after"),
        )
    )
