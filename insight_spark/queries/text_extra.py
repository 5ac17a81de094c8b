"""Extended text/search queries (SURVEY.md §2.I3-I11, H3/H9/H14/H15)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from insight_spark.operators.text import (
    PII_PATTERNS,
    bm25_scores,
    doc_freq,
    ngrams,
    pii_counts,
    scrub_pii,
    term_freq,
    tf_idf,
    token_set_sql,
    tokenize,
    tokens_df,
    tokens_sql,
)
from insight_spark.operators.relational import MONEY, money_out
from insight_spark.queries import StressCap, query
from insight_spark.sources import load_table

#: Stopword list shared verbatim with the oracle SQL (I3).
STOPWORDS = ("the", "a", "of", "and", "to", "in")
_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)


@query(
    "stopword_top_terms",
    oracle=rf"""
    WITH toks AS (
        SELECT unnest({tokens_sql('text')}) AS token
        FROM documents
    )
    SELECT token, COUNT(*) AS tf
    FROM toks
    WHERE token NOT IN ({_STOP_SQL})
    GROUP BY token
    ORDER BY tf DESC, token
    LIMIT 20
    """,
)
def stopword_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top terms after stopword removal (I3) — filter against a
    broadcast-size literal list, applied pre-aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        term_freq(docs)
        .filter(~F.col("token").isin(*STOPWORDS))
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(20)
    )


@query(
    "bigrams_top",
    oracle=rf"""
    WITH toks AS (
        SELECT {tokens_sql('text')} AS l
        FROM documents
    ),
    grams AS (
        SELECT unnest(list_transform(range(1, len(l)),
                                     i -> l[i] || ' ' || l[i + 1])) AS bigram
        FROM toks
    )
    SELECT bigram, COUNT(*) AS n
    FROM grams
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 10
    """,
)
def bigrams_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 bigram shingles (I4) — rowwise array transform, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(ngrams(tokenize(F.col("text")), 2)).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(10)
    )


@query(
    "doc_freq_idf",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id,
               unnest({token_set_sql('text')}) AS token
        FROM documents
    ),
    n_total AS (SELECT COUNT(*) AS n FROM documents)
    SELECT token, COUNT(*) AS df,
           ROUND(ln((CAST(n AS DOUBLE) + 1.0) / (COUNT(*) + 1.0)) + 1.0, 6) AS idf
    FROM t CROSS JOIN n_total
    GROUP BY token, n
    """,
)
def doc_freq_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency + smoothed idf per token (I6)."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    dfreq = doc_freq(docs)
    idf = F.log((F.lit(float(n_docs) + 1.0)) / (F.col("df") + 1.0)) + 1.0
    return dfreq.select("token", "df", F.round(idf, 6).alias("idf"))


@query(
    "tfidf_top",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               unnest({tokens_sql('text')}) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM toks GROUP BY doc_id, token
    ),
    dfreq AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df
        FROM toks GROUP BY token
    ),
    n_total AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents)
    SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
           ROUND(tf.tf * (ln((CAST(n AS DOUBLE) + 1.0) / (dfreq.df + 1.0)) + 1.0), 6)
               AS tf_idf
    FROM tf JOIN dfreq USING (token) CROSS JOIN n_total
    ORDER BY tf_idf DESC, doc_id, token
    LIMIT 50
    """,
)
def tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 tf·idf weights (I7) — broadcast df side (SURVEY §4.3)."""
    docs = load_table(spark, sf_dir, "documents")
    return tf_idf(docs).orderBy(
        F.desc("tf_idf"), F.asc("doc_id"), F.asc("token")
    ).limit(50)


@query(
    "prefix_suggest_th",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({tokens_sql('text')}) AS token
        FROM documents
    )
    SELECT token, COUNT(*) AS tf
    FROM toks
    WHERE token LIKE 'th%'
    GROUP BY token
    ORDER BY tf DESC, token
    LIMIT 10
    """,
)
def prefix_suggest_th(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix completion candidates (I9): top terms starting with 'th'."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        term_freq(docs)
        .filter(F.col("token").startswith("th"))
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(10)
    )


@query(
    "cooccurrence_top",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id,
               unnest({token_set_sql('text')}) AS token
        FROM documents
    )
    SELECT a.token AS token_a, b.token AS token_b, COUNT(*) AS n
    FROM t a
    JOIN t b ON a.doc_id = b.doc_id AND a.token < b.token
    GROUP BY a.token, b.token
    ORDER BY n DESC, token_a, token_b
    LIMIT 20
    """,
)
def cooccurrence_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-occurring term pairs (I10) — related-term suggestions.
    Self-join on doc_id with a<b ordering; per-doc distinct token sets
    bound the pair count."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokenize(F.col("text")))).alias("token"),
    )
    a = t.alias("a")
    b = t.alias("b")
    return (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.token") < F.col("b.token")),
        )
        .groupBy(
            F.col("a.token").alias("token_a"), F.col("b.token").alias("token_b")
        )
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token_a"), F.asc("token_b"))
        .limit(20)
    )


@query(
    "bm25_search",
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
    )
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
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
    """,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for query terms {key, order} (I11), k1=1.2 b=0.75."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        bm25_scores(docs, ["key", "order"])
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS md5_hex,
           sha256(text) AS sha256_hex,
           length(text) AS text_len
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints (H15): md5 + sha256, cross-engine stable."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("md5_hex"),
        F.sha2("text", 256).alias("sha256_hex"),
        F.length("text").alias("text_len"),
    )


@query(
    "levenshtein_names",
    oracle="""
    SELECT levenshtein(c_name, 'Customer#000000001') AS dist,
           COUNT(*) AS n_customers
    FROM customer
    GROUP BY dist
    """,
)
def levenshtein_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance histogram vs a probe string (H3)."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.select(
            F.levenshtein("c_name", F.lit("Customer#000000001")).alias("dist")
        )
        .groupBy("dist")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "array_ops",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    )
    SELECT doc_id,
           CAST(len(l) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(l)) AS INTEGER) AS n_distinct,
           list_contains(l, 'the') AS has_the,
           array_to_string(l[1:3], ' ') AS first3
    FROM toks
    """,
)
def array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array basics (H9): size / distinct / contains / slice+join."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.array_contains(toks, "the").alias("has_the"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
    )


@query(
    "json_struct_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_k_gt50
    FROM events
    GROUP BY event_type
    """,
)
def json_struct_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured JSON parsing (H14): from_json into a typed struct,
    predicate on the parsed field."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("props_s", F.from_json("props", "k INT"))
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_total"),
        F.sum(
            F.when(F.col("props_s.k") > 50, 1).otherwise(0)
        ).alias("n_k_gt50"),
    )


@query(
    "doc_quality_signals",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    grams AS (
        SELECT doc_id, l,
               list_transform(range(1, greatest(len(l) - 1, 1)),
                              i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) AS g3
        FROM toks
    )
    SELECT doc_id,
           ROUND(CAST(len(list_filter(l, t -> list_contains([{_STOP_SQL}], t)))
                      AS DOUBLE) / len(l), 6) AS stopword_ratio,
           ROUND(CAST(len(list_distinct(l)) AS DOUBLE) / len(l), 6)
               AS distinct_token_ratio,
           CASE WHEN len(g3) = 0 THEN 0.0
                ELSE ROUND(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)
                           / len(g3), 6)
           END AS trigram_repetition
    FROM grams
    WHERE len(l) > 0
    """,
)
def doc_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals (LLM corpus-hygiene mandate):
    stopword ratio, distinct-token ratio, and trigram repetition (the
    boilerplate/spam detector — 1 − distinct/total 3-grams).

    All JVM higher-order functions over the token array — one
    projection, no shuffle, no UDF; filter thresholds compose on top
    (e.g. drop docs with repetition > 0.5) with full predicate
    pushdown.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    g3 = ngrams(toks, 3)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return (
        docs.select("doc_id", toks.alias("l"), g3.alias("g3"))
        .filter(F.size("l") > 0)
        .select(
            "doc_id",
            F.round(
                F.size(F.filter(F.col("l"), lambda t: F.array_contains(stop_arr, t))).cast("double")
                / F.size("l"),
                6,
            ).alias("stopword_ratio"),
            F.round(
                F.size(F.array_distinct("l")).cast("double") / F.size("l"), 6
            ).alias("distinct_token_ratio"),
            # short docs (< 3 tokens) have zero trigrams — that is "no
            # repetition evidence" (0.0), not maximal boilerplate (1.0);
            # a repetition>τ hygiene filter must not drop 1-2 token docs
            F.when(F.size("g3") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    1.0
                    - F.size(F.array_distinct("g3")).cast("double")
                    / F.size("g3"),
                    6,
                )
            )
            .alias("trigram_repetition"),
        )
    )


# Cost cap (the jaccard_threshold_join idiom): the demo block key
# (name's last char, ~10 blocks) makes candidate volume Σ block² ≈
# N²/10 — fine at the driver tier (1,500 customers), 22M levenshteins
# at sf0.1 (15,000).  Above 5,000 customers both sides keep the
# md5-range quarter of customers (pair volume /16).
_BFM_CAP = StressCap("customer", "c_custkey", 5_000)


@query(
    "blocked_fuzzy_match",
    oracle=f"""
    WITH named AS (
        SELECT c_custkey, c_name, substr(c_name, length(c_name), 1) AS blk
        FROM customer WHERE {_BFM_CAP.sql}
    )
    SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_dist
    FROM named a
    JOIN named b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def blocked_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution blocking join (H3 at scale): fuzzy-match
    customer names via a blocking key + edit-distance verification —
    the standard two-phase ER shape that replaces the O(n²) all-pairs
    levenshtein join.

    The block key (here the name's last character; real systems use
    phonetic codes or q-gram buckets) turns the candidate set into a
    per-block equi-join — a plain shuffle join whose volume is the sum
    of squared block sizes, not |n|².  Verification runs only on
    candidates.  Both engines share the Wagner-Fischer levenshtein
    definition, so the verdict column is value-exact.
    """
    named = _BFM_CAP.load(spark, sf_dir).select(
        "c_custkey",
        "c_name",
        F.substring(F.col("c_name"), -1, 1).alias("blk"),
    )
    a = named.select(
        F.col("c_custkey").alias("a_id"),
        F.col("c_name").alias("_a_name"),
        "blk",
    )
    b = named.select(
        F.col("c_custkey").alias("b_id"),
        F.col("c_name").alias("_b_name"),
        "blk",
    )
    dist = F.levenshtein("_a_name", "_b_name")
    return (
        a.join(b, "blk")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(dist <= 1)
        .select("a_id", "b_id", dist.alias("edit_dist"))
    )


@query(
    "entity_resolution_golden",
    oracle="""
    WITH RECURSIVE named AS (
        SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
               substr(c_name, length(c_name), 1) AS blk
        FROM customer
    ),
    pairs AS (
        SELECT a.c_custkey AS a_id, b.c_custkey AS b_id
        FROM named a
        JOIN named b ON a.blk = b.blk
                    AND a.c_nationkey = b.c_nationkey
                    AND a.c_mktsegment = b.c_mktsegment
                    AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 1
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
    canon AS (SELECT v, MIN(w) AS c FROM reach GROUP BY v),
    ent AS (
        SELECT cu.*, coalesce(ca.c, cu.c_custkey) AS entity_id
        FROM customer cu LEFT JOIN canon ca ON ca.v = cu.c_custkey
    ),
    ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY entity_id
                   ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        FROM ent
    )
    SELECT e.entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MAX(r.c_custkey) AS golden_custkey,
           MAX(r.c_name) AS golden_name,
           ROUND(CAST(SUM(CAST(e.c_acctbal AS DECIMAL(38,6))) AS DOUBLE), 6)
               AS total_acctbal
    FROM ent e
    JOIN ranked r ON r.entity_id = e.entity_id AND r.rn = 1
    GROUP BY e.entity_id
    """,
)
def entity_resolution_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution — the full ER lifecycle that
    ``blocked_fuzzy_match`` only starts: (1) BLOCK on (name-suffix,
    nation, segment) and verify candidates at edit distance <= 1
    (corroborating attributes keep clusters honest — name-only
    matching transitively chains sequential ids into one blob);
    (2) CLOSE matches transitively with the iterative
    ``connected_components`` operator (min-id canonical = entity id);
    (3) SURVIVORSHIP: per entity, the golden record is the
    (acctbal DESC, custkey ASC) argmax — expressed as one
    ``max(struct(...))`` aggregate, not a window — plus member count
    and exact-decimal balance rollup.

    Scale: blocking bounds candidates to within-block pairs (sum of
    squared block sizes, never |n|²); closure is the pointer-jumping
    CC (O(log d) rounds, edge-list checkpointed); survivorship is one
    hash aggregate on the entity key.  The oracle replays the whole
    lifecycle: recursive-CTE closure + window-ranked survivor.
    """
    from insight_spark.operators.components import canonical_assignment

    cust = load_table(spark, sf_dir, "customer")
    named = cust.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.substring(F.col("c_name"), -1, 1).alias("blk"),
    )
    a = named.select(
        F.col("c_custkey").alias("a_id"),
        F.col("c_name").alias("_a_name"),
        "blk",
        "c_nationkey",
        "c_mktsegment",
    )
    b = named.select(
        F.col("c_custkey").alias("b_id"),
        F.col("c_name").alias("_b_name"),
        "blk",
        "c_nationkey",
        "c_mktsegment",
    )
    pairs = (
        a.join(b, ["blk", "c_nationkey", "c_mktsegment"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(F.levenshtein("_a_name", "_b_name") <= 1)
        .select("a_id", "b_id")
    )
    ent = canonical_assignment(
        pairs, cust.select("c_custkey"), id_col="c_custkey"
    )
    members = cust.join(ent, "c_custkey").withColumnRenamed(
        "canonical_id", "entity_id"
    )
    golden = F.max(
        F.struct(
            F.col("c_acctbal"),
            (-F.col("c_custkey")).alias("_neg_key"),
            F.col("c_custkey").alias("_key"),
            F.col("c_name").alias("_name"),
        )
    )
    return members.groupBy("entity_id").agg(
        F.count("*").alias("n_members"),
        golden.getField("_key").alias("golden_custkey"),
        golden.getField("_name").alias("golden_name"),
        money_out(F.sum(F.col("c_acctbal").cast(MONEY))).alias(
            "total_acctbal"
        ),
    )


@query(
    "search_snippets",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    hits AS (
        SELECT doc_id, l,
               list_min(list_filter(
                   list_transform(range(1, len(l)),
                       i -> CASE WHEN l[i] = 'table' AND l[i + 1] = 'scan'
                                 THEN i END),
                   x -> x IS NOT NULL)) AS pos
        FROM toks
    )
    SELECT doc_id, CAST(pos AS INTEGER) AS pos,
           array_to_string(l[GREATEST(pos - 2, 1):pos + 4], ' ') AS snippet
    FROM hits WHERE pos IS NOT NULL
    ORDER BY doc_id
    """,
)
def search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search with snippet extraction (the search-UX operator a
    text-search ETL serves): find the first occurrence of the phrase
    "table scan" in each document and return a ±2-token context
    window around it.

    The position scan is a rowwise higher-order transform over the
    token array — codegen'd, zero shuffle, no UDF; only matching docs
    survive.  At 100 TB this is a narrow map stage whose cost is the
    token scan itself (and the phrase filter pushes the non-matching
    rows out before any downstream join).
    """
    docs = load_table(spark, sf_dir, "documents")
    l = tokenize(F.col("text"))
    idx = F.sequence(F.lit(1), F.greatest(F.size(l) - 1, F.lit(0)))
    pos = F.array_min(
        F.filter(
            F.transform(
                idx,
                lambda i: F.when(
                    (F.element_at(l, i) == "table")
                    & (F.element_at(l, i + 1) == "scan"),
                    i,
                ),
            ),
            lambda x: x.isNotNull(),
        )
    )
    hits = docs.select("doc_id", l.alias("l"), pos.alias("pos")).filter(
        F.col("pos").isNotNull()
    )
    start = F.greatest(F.col("pos") - 2, F.lit(1))
    length = (F.col("pos") + 4) - start + 1
    return hits.select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.array_join(F.slice("l", start, length), " ").alias("snippet"),
    ).orderBy("doc_id")


# pii_scrub_audit appends a synthetic PII tail per document (fixtures
# carry no real PII, so the audit injects known spans keyed by doc_id —
# both engines see the same augmented text, making redaction counts
# value-checkable).


@query(
    "pii_scrub_audit",
    oracle=rf"""
    WITH aug AS (
        SELECT doc_id,
               text || ' reach u' || CAST(doc_id AS VARCHAR)
                    || '@ex.org or 987-65-4321 or +1 (555) 010-2233 ok'
                   AS t
        FROM documents
    ),
    steps AS (
        SELECT doc_id, t,
               regexp_replace(t, '{PII_PATTERNS["email"]}', '<EMAIL>', 'g')
                   AS after_email
        FROM aug
    ),
    steps2 AS (
        SELECT *,
               regexp_replace(after_email, '{PII_PATTERNS["ssn"]}', '<SSN>', 'g')
                   AS after_ssn
        FROM steps
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{PII_PATTERNS["email"]}'))
                AS INTEGER) AS n_email,
           CAST(len(regexp_extract_all(after_ssn, '{PII_PATTERNS["phone"]}'))
                AS INTEGER) AS n_phone,
           CAST(len(regexp_extract_all(after_email, '{PII_PATTERNS["ssn"]}'))
                AS INTEGER) AS n_ssn,
           CAST(len(regexp_replace(after_ssn, '{PII_PATTERNS["phone"]}',
                                   '<PHONE>', 'g')) AS INTEGER)
               AS scrubbed_len
    FROM steps2
    """,
)
def pii_scrub_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit (M9, first driver-facing evidence): inject
    synthetic email/SSN/phone spans keyed by doc_id into every
    document, then count redactions per category and the scrubbed
    length.  The oracle replays the same regex chain (same RE2-safe
    patterns, same email -> SSN -> phone precedence so an SSN never
    double-counts as a phone) in DuckDB.

    Pure regexp_replace / regexp_extract_all chain — JVM-side,
    codegen-fused, zero shuffle; the production scrub stage is this
    exact map with the audit aggregate sampled, not run per-row.
    """
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" reach u"),
        F.col("doc_id").cast("string"),
        F.lit("@ex.org or 987-65-4321 or +1 (555) 010-2233 ok"),
    )
    counts = pii_counts(aug)
    return docs.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ssn"].alias("n_ssn"),
        F.length(scrub_pii(aug)).alias("scrubbed_len"),
    )


@query(
    "inverted_index_build",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest({tokens_sql('text')}) AS token
        FROM documents
    ),
    per_doc AS (
        SELECT token, doc_id, COUNT(*) AS tf
        FROM toks GROUP BY token, doc_id
    )
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS df_docs,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           array_to_string(
               list_slice(
                   list(concat(doc_id, ':', tf) ORDER BY doc_id),
                   1, 50),
               ' ') AS postings_head
    FROM per_doc GROUP BY token
    """,
)
def inverted_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — the core of the reference's
    Elasticsearch load step, expressed as the DataFrame job that builds
    posting lists offline: per term, document frequency, corpus term
    frequency, and the doc_id-ordered posting list (head truncated to
    50 entries for the driver-facing scalar column; the full list is
    the same expression without the slice).

    Word-count shape end to end: one (token, doc_id) aggregate (the
    postings themselves), then a vocab-sized rollup.  The df/tf stats
    aggregate the full posting stream, but the head itself is pruned
    BEFORE collection: a rank<=50 filter over (token ORDER BY doc_id)
    plans as WindowGroupLimit (plan-asserted), so no reducer ever
    materializes a full posting list — the difference between bounded
    and unbounded executor state when a stopword's posting list is the
    whole corpus.  Shuffle keys are (token, doc_id) then token — both
    word-count keys.  This is the sink-side twin of ``bm25_search``:
    what that query scores at read time, this one materializes for the
    index writer (``sources/sinks.py`` search-index stand-in).
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = (
        tokens_df(docs)
        .groupBy("token", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    stats = per_doc.groupBy("token").agg(
        F.count("*").alias("df_docs"),
        F.sum("tf").alias("total_tf"),
    )
    wdw = Window.partitionBy("token").orderBy(F.asc("doc_id"))
    head = (
        per_doc.withColumn("rn", F.row_number().over(wdw))
        .filter(F.col("rn") <= 50)
        .groupBy("token")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
                    lambda x: F.concat(
                        x["doc_id"].cast("string"),
                        F.lit(":"),
                        x["tf"].cast("string"),
                    ),
                ),
                " ",
            ).alias("postings_head")
        )
    )
    return stats.join(head, "token")


@query(
    "sparse_cosine_topk",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               unnest({tokens_sql('text')}) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM toks GROUP BY doc_id, token
    ),
    dfreq AS (SELECT token, COUNT(*) AS dfd FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (
        SELECT tf.doc_id, tf.token,
               CAST(floor(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.dfd + 1.0))
                                   + 1.0) * 1000000 + 0.5) AS BIGINT) AS w
        FROM tf JOIN dfreq USING (token) CROSS JOIN n
    ),
    norms AS (SELECT doc_id, SUM(w * w) AS nrm FROM w GROUP BY doc_id),
    dots AS (
        SELECT q.doc_id AS q_doc, c.doc_id AS c_doc,
               SUM(q.w * c.w) AS dt
        FROM w q JOIN w c ON c.token = q.token AND c.doc_id <> q.doc_id
        WHERE q.doc_id < 10
        GROUP BY q.doc_id, c.doc_id
    ),
    scored AS (
        SELECT d.q_doc, d.c_doc,
               ROUND(CAST(d.dt AS DOUBLE)
                     / (sqrt(CAST(qn.nrm AS DOUBLE))
                        * sqrt(CAST(cn.nrm AS DOUBLE))), 6) AS cos_sim
        FROM dots d
        JOIN norms qn ON qn.doc_id = d.q_doc
        JOIN norms cn ON cn.doc_id = d.c_doc
    )
    SELECT q_doc, c_doc, cos_sim, CAST(rnk AS INTEGER) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_doc ORDER BY cos_sim DESC, c_doc) AS rnk
        FROM scored)
    WHERE rnk <= 5
    """,
)
def sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector similarity search: tf-idf cosine top-5 per query
    doc via the inverted-index join — the sparse complement of the
    dense ANN stack (knn/IVF/LSH/PQ score embeddings; this scores
    term vectors without ever materializing them).

    The sparse trick IS the scale story: the dot product is computed
    by joining postings on the shared token (only term-sharing pairs
    ever meet — candidate volume follows posting-list sizes, not N²),
    with the query side broadcast.  Smooth idf (ln((N+1)/(df+1)) + 1,
    the sklearn form) keeps corpus-wide terms informative; weights are
    quantized to integer micro-units so every dot product and norm is
    an exact BIGINT sum — order-independent, bit-equal cross-engine —
    and only the final cosine divides into doubles.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        tokens_df(docs)
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("dfd"))
    n_tbl = docs.agg(F.count("*").alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("dfd") + 1.0)) + 1.0
    w = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_tbl))
        .select(
            "doc_id",
            "token",
            F.floor(F.col("tf") * idf * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("nrm")
    )
    q = w.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("q_doc"), "token", F.col("w").alias("qw")
    )
    dots = (
        w.join(F.broadcast(q), "token")
        .filter(F.col("doc_id") != F.col("q_doc"))
        .groupBy("q_doc", F.col("doc_id").alias("c_doc"))
        .agg(F.sum(F.col("qw") * F.col("w")).alias("dt"))
    )
    qn = norms.select(
        F.col("doc_id").alias("q_doc"), F.col("nrm").alias("q_nrm")
    )
    cn = norms.select(
        F.col("doc_id").alias("c_doc"), F.col("nrm").alias("c_nrm")
    )
    cos = F.round(
        F.col("dt").cast("double")
        / (
            F.sqrt(F.col("q_nrm").cast("double"))
            * F.sqrt(F.col("c_nrm").cast("double"))
        ),
        6,
    )
    wdw = Window.partitionBy("q_doc").orderBy(
        F.desc("cos_sim"), F.asc("c_doc")
    )
    return (
        dots.join(F.broadcast(qn), "q_doc")
        .join(cn, "c_doc")
        .select("q_doc", "c_doc", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(wdw).cast("int"))
        .filter(F.col("rank") <= 5)
    )


@query(
    "symspell_suggest",
    oracle=rf"""
    WITH vocab AS (
        SELECT token AS term, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (
            SELECT unnest({tokens_sql('text')}) AS token
            FROM documents
        ) GROUP BY token HAVING COUNT(*) >= 5
    ),
    deletes AS (
        SELECT term, freq, term AS dkey FROM vocab
        UNION ALL
        SELECT term, freq,
               unnest(list_distinct(list_transform(
                   range(1, len(term) + 1),
                   i -> substr(term, 1, i - 1)
                        || substr(term, i + 1, len(term))))) AS dkey
        FROM vocab
    ),
    probes AS (
        SELECT term AS src,
               substr(term, 1, 1) || substr(term, 3, len(term)) AS q
        FROM (
            SELECT term, ROW_NUMBER() OVER (
                       ORDER BY freq DESC, term) AS rk
            FROM vocab WHERE len(term) >= 4
        ) WHERE rk <= 20
    ),
    cands AS (
        SELECT DISTINCT p.q, d.term, d.freq
        FROM probes p JOIN deletes d ON p.q = d.dkey
    )
    SELECT q, term AS suggestion, freq, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY q ORDER BY freq DESC, term) AS rank
        FROM cands
    ) WHERE rank <= 3
    """,
)
def symspell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell-style spelling correction (the search-domain index
    trick): precompute every vocab term's 1-character deletes ONCE,
    then a misspelled query resolves by EQUI-JOIN on the delete key
    instead of a levenshtein scan of the vocabulary — O(|q|)
    candidates per lookup vs O(|vocab|) distance computations (the
    complementary method to `blocked_fuzzy_match`'s block+verify).

    Probes are synthesized deterministically (the 20 most frequent
    ≥4-char terms with their 2nd character removed), so every stage —
    delete-index build, candidate join, (freq desc, term) ranking — is
    replayed exactly by the oracle.  At 100 TB the delete index is
    vocabulary-bounded (|vocab| × avg_len rows), built once,
    broadcast or bucketed for serving.
    """
    vocab = (
        tokens_df(load_table(spark, sf_dir, "documents"))
        .groupBy(F.col("token").alias("term"))
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= 5)
    )
    one_deletes = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length("term")),
            lambda i: F.concat(
                F.substring("term", 1, i - 1),
                F.col("term").substr(i + 1, F.length("term")),
            ),
        )
    )
    deletes = vocab.select(
        "term", "freq", F.col("term").alias("dkey")
    ).unionByName(
        vocab.select(
            "term", "freq", F.explode(one_deletes).alias("dkey")
        )
    )
    # TakeOrderedAndProject, not a global row_number window: the probe
    # head is a distributed per-partition heap + driver merge of 20
    probes = (
        vocab.filter(F.length("term") >= 4)
        .orderBy(F.desc("freq"), "term")
        .limit(20)
        .select(
            F.concat(
                F.substring("term", 1, 1),
                F.col("term").substr(F.lit(3), F.length("term")),
            ).alias("q")
        )
    )
    cands = (
        F.broadcast(probes)
        .join(deletes, F.col("q") == F.col("dkey"))
        .select("q", "term", "freq")
        .distinct()
    )
    w_rank = Window.partitionBy("q").orderBy(F.desc("freq"), "term")
    return (
        cands.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 3)
        .select("q", F.col("term").alias("suggestion"), "freq", "rank")
    )


#: Collocation mining (M141): minimum pair count to consider.
_PMI_MIN_PAIRS = 5
_PMI_TOP = 20


@query(
    "pmi_collocations",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    bi AS (
        SELECT l[i] AS w1, l[i + 1] AS w2
        FROM toks, unnest(range(1, greatest(len(l) - 1, 0) + 1)) AS t(i)
    ),
    pc AS (
        SELECT w1, w2, COUNT(*) AS c_xy FROM bi GROUP BY w1, w2
    ),
    uni AS (
        SELECT w, SUM(c) AS c_w FROM (
            SELECT w1 AS w, c_xy AS c FROM pc
            UNION ALL SELECT w2, c_xy FROM pc
        ) GROUP BY w
    ),
    tot AS (SELECT SUM(c_xy) AS n FROM pc),
    lifted AS (
        SELECT pc.w1, pc.w2, pc.c_xy,
               CAST(pc.c_xy AS DOUBLE) * tot.n
               / (u1.c_w * CAST(u2.c_w AS DOUBLE)) AS lift
        FROM pc
        JOIN uni u1 ON u1.w = pc.w1
        JOIN uni u2 ON u2.w = pc.w2
        CROSS JOIN tot
        WHERE pc.c_xy >= {_PMI_MIN_PAIRS}
    )
    SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy, lift
    FROM lifted
    ORDER BY lift DESC, w1, w2
    LIMIT {_PMI_TOP}
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (M141): the top adjacent-bigram
    collocations by pointwise-mutual-information LIFT
    c(x,y)·N / (c(x)·c(y)) — the corpus-analysis primitive behind
    multi-word-expression vocab entries and tokenizer merge
    candidates.

    Float discipline: the ranking score is the LIFT ratio itself
    (monotone in PMI — log never runs in either engine): a single
    double expression over exact integer counts, identical operation
    order on both sides → bit-equal, ranked with a (w1, w2)
    tie-break and emitted UNROUNDED (the r7 terminal-ROUND lesson).
    Scale shape: bigram counting is the word-count shuffle; unigram
    margins derive from the PAIR table (sum of pair counts per side
    — no second corpus scan); the margin join is |vocab|-keyed; the
    head is TakeOrdered.
    """
    base = load_table(spark, sf_dir, "documents").select(
        tokenize(F.col("text")).alias("l")
    )
    bi = base.select(
        F.explode(
            F.zip_with(
                F.slice("l", 1, F.greatest(F.size("l") - 1, F.lit(0))),
                F.slice("l", 2, F.greatest(F.size("l") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    # the pair table feeds FOUR consumers (two unigram margins, the
    # total, the lift join); lazily it re-derives from the corpus scan
    # each time (measured: 6 parquet scans in the plan).  It is the
    # bigram VOCABULARY — aggregate-sized, not corpus-sized — so one
    # localCheckpoint barrier wins at any scale (the inverse of the
    # r6 shingle-table negative result, where the intermediate was
    # corpus-sized).
    pc = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").alias("c_xy"))
        .localCheckpoint()
    )
    uni = (
        pc.select(F.col("w1").alias("w"), F.col("c_xy").alias("c"))
        .unionByName(pc.select(F.col("w2").alias("w"), F.col("c_xy").alias("c")))
        .groupBy("w")
        .agg(F.sum("c").alias("c_w"))
    )
    tot = pc.agg(F.sum("c_xy").alias("n"))
    lifted = (
        pc.filter(F.col("c_xy") >= _PMI_MIN_PAIRS)
        .join(uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c2")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_xy",
            (
                F.col("c_xy").cast("double")
                * F.col("n")
                / (F.col("c1") * F.col("c2").cast("double"))
            ).alias("lift"),
        )
    )
    return lifted.orderBy(
        F.desc("lift"), F.asc("w1"), F.asc("w2")
    ).limit(_PMI_TOP)


@query(
    "retriever_agreement_audit",
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
    bm AS (
        SELECT tf.doc_id FROM tf
        JOIN dfreq USING (token)
        JOIN lens USING (doc_id)
        CROSS JOIN stats
        GROUP BY tf.doc_id
        ORDER BY ROUND(CAST(SUM(CAST(
                   ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
                   * (CAST(tf AS DOUBLE) * 2.2)
                   / (CAST(tf AS DOUBLE)
                      + 1.2 * (1.0 - 0.75
                               + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
               AS DECIMAL(38,12))) AS DOUBLE), 6) DESC, tf.doc_id
        LIMIT 10
    ),
    ti AS (
        SELECT tf.doc_id FROM tf
        JOIN dfreq USING (token)
        CROSS JOIN (SELECT COUNT(DISTINCT doc_id) AS n FROM toks) nt
        GROUP BY tf.doc_id
        ORDER BY ROUND(SUM(ROUND(tf.tf
                   * (ln((CAST(nt.n AS DOUBLE) + 1.0) / (dfreq.df + 1.0))
                      + 1.0), 6)), 6) DESC, tf.doc_id
        LIMIT 10
    )
    SELECT CAST((SELECT COUNT(*) FROM bm) AS BIGINT) AS n_bm25,
           CAST((SELECT COUNT(*) FROM ti) AS BIGINT) AS n_tfidf,
           CAST((SELECT COUNT(*) FROM bm JOIN ti USING (doc_id))
                AS BIGINT) AS n_overlap,
           CAST((SELECT COUNT(*) FROM bm JOIN ti USING (doc_id))
                AS DOUBLE)
               / ((SELECT COUNT(*) FROM bm) + (SELECT COUNT(*) FROM ti)
                  - (SELECT COUNT(*) FROM bm JOIN ti USING (doc_id)))
               AS jaccard_at_10
    """,
)
def retriever_agreement_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retriever agreement audit (M171): overlap@10 between two lexical
    rankers — BM25 (I11) and additive tf-idf — for the same two-term
    query.  The pre-swap report run before changing a search scorer:
    high agreement means the swap is low-risk, low agreement means A/B
    the change; the same harness compares any two rankers that emit
    (doc_id, score) (dense vs sparse, old vs new analyzer), which is
    how hybrid-search weight tuning starts.

    Parity: both legs reuse the EXACT scoring expressions of their
    standing queries (``bm25_search``: ln idf quantized to
    DECIMAL(38,12) before the term sum; ``tfidf_top``: per-term ROUND
    6 — the two-term sum is commutative so order cannot move it),
    rank on the rounded score with id tie-breaks; the counts are
    integers and jaccard ONE IEEE division.

    Scale: both rankings prune to query-term postings before any
    shuffle (TF of 2 terms, broadcast df), each top-10 is a
    TakeOrdered; the agreement join is 10x10.
    """
    docs = load_table(spark, sf_dir, "documents")
    bm = (
        bm25_scores(docs, ["key", "order"])
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id")
    )
    ti = (
        tf_idf(docs)
        .filter(F.col("token").isin("key", "order"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("tf_idf"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id")
    )
    both = bm.join(ti, "doc_id")
    n_bm = bm.agg(F.count("*").alias("n_bm25"))
    n_ti = ti.agg(F.count("*").alias("n_tfidf"))
    n_ov = both.agg(F.count("*").alias("n_overlap"))
    return (
        n_bm.crossJoin(n_ti)
        .crossJoin(n_ov)
        .select(
            "n_bm25",
            "n_tfidf",
            "n_overlap",
            # NULL, not an ANSI error, when neither ranker returns a
            # doc: 0 / 0 is NULL in the oracle too
            F.try_divide(
                F.col("n_overlap").cast("double"),
                F.col("n_bm25") + F.col("n_tfidf") - F.col("n_overlap"),
            ).alias("jaccard_at_10"),
        )
    )


#: RBO@10 depth weights, p = 0.9: round(1e9 · (1−p)·p^(d−1)/d)
#: half-up, precomputed in exact Decimal so libm pow never enters a
#: hashed path (the dp_noisy_release / DCG-weights discipline).
_RBO_W_NANO = (
    (1, 100000000), (2, 45000000), (3, 27000000), (4, 18225000),
    (5, 13122000), (6, 9841500), (7, 7592014), (8, 5978711),
    (9, 4782969), (10, 3874205),
)


@query(
    "rank_biased_overlap",
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
    bmscore AS (
        SELECT tf.doc_id,
               ROUND(CAST(SUM(CAST(
                   ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
                   * (CAST(tf AS DOUBLE) * 2.2)
                   / (CAST(tf AS DOUBLE)
                      + 1.2 * (1.0 - 0.75
                               + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
               AS DECIMAL(38,12))) AS DOUBLE), 6) AS s
        FROM tf
        JOIN dfreq USING (token)
        JOIN lens USING (doc_id)
        CROSS JOIN stats
        GROUP BY tf.doc_id
    ),
    bmtop AS (SELECT doc_id, s FROM bmscore ORDER BY s DESC, doc_id LIMIT 10),
    bmr AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT)
                   AS ra
        FROM bmtop
    ),
    tiscore AS (
        SELECT tf.doc_id,
               ROUND(SUM(ROUND(tf.tf
                   * (ln((CAST(nt.n AS DOUBLE) + 1.0) / (dfreq.df + 1.0))
                      + 1.0), 6)), 6) AS s
        FROM tf
        JOIN dfreq USING (token)
        CROSS JOIN (SELECT COUNT(DISTINCT doc_id) AS n FROM toks) nt
        GROUP BY tf.doc_id
    ),
    titop AS (SELECT doc_id, s FROM tiscore ORDER BY s DESC, doc_id LIMIT 10),
    tir AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT)
                   AS rb
        FROM titop
    ),
    matched AS (
        SELECT greatest(ra, rb) AS enter_d
        FROM bmr JOIN tir USING (doc_id)
    ),
    depths AS (
        SELECT * FROM (VALUES
            (1, CAST(100000000 AS BIGINT)), (2, 45000000), (3, 27000000),
            (4, 18225000), (5, 13122000), (6, 9841500), (7, 7592014),
            (8, 5978711), (9, 4782969), (10, 3874205)
        ) AS t(depth, weight_nano)
    )
    SELECT CAST(depth AS INT) AS depth,
           CAST(COUNT(m.enter_d) AS BIGINT) AS overlap_at_d,
           CAST(weight_nano AS BIGINT) AS weight_nano,
           CAST(COUNT(m.enter_d) * weight_nano AS BIGINT) AS term_nano
    FROM depths d
    LEFT JOIN matched m ON m.enter_d <= d.depth
    GROUP BY depth, weight_nano
    """,
)
def rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (M180, Webber et al. 2010): the top-weighted
    agreement measure between the same two rankers as M171 (BM25 vs
    additive tf-idf, same two-term query) — where flat overlap@10
    treats a swap at rank 1 and a swap at rank 10 alike, RBO weights
    prefix agreement by p^(d−1)/d so disagreement at the TOP of the
    ranking (what the user actually sees) dominates the score.  Emits
    the per-depth table: overlap of the two depth-d prefixes, the RBO
    weight, and the weighted term; Σ term_nano / 1e9 is truncated
    RBO@10 at p = 0.9.

    Exactness: depth weights are half-up-quantized nano literals
    precomputed in exact Decimal (libm pow never enters a hashed
    path — the DCG-weights discipline); prefix overlaps count matched
    docs by enter-depth = greatest(rank_A, rank_B), so every output
    column is an exact BIGINT — no terminal division at all.

    Scale: both legs prune to query-term postings before any shuffle
    and TakeOrdered to 10 rows; the rank windows run on the 10-row
    heads (documented bounded-window exemption, the
    `vector_index_probe` pattern); the depth table is a 10-row
    broadcast left join against ≤10 matched docs.
    """
    docs = load_table(spark, sf_dir, "documents")
    bmtop = (
        bm25_scores(docs, ["key", "order"])
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )
    w_bm = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    bmr = bmtop.select(
        "doc_id", F.row_number().over(w_bm).cast("long").alias("ra")
    )
    titop = (
        tf_idf(docs)
        .filter(F.col("token").isin("key", "order"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("tf_idf"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )
    w_ti = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    tir = titop.select(
        "doc_id", F.row_number().over(w_ti).cast("long").alias("rb")
    )
    matched = bmr.join(tir, "doc_id").select(
        F.greatest("ra", "rb").alias("enter_d")
    )
    depths = spark.createDataFrame(
        list(_RBO_W_NANO), "depth int, weight_nano long"
    )
    return (
        F.broadcast(depths)
        .join(matched, F.col("enter_d") <= F.col("depth"), "left")
        .groupBy("depth", "weight_nano")
        .agg(F.count("enter_d").cast("long").alias("overlap_at_d"))
        .select(
            "depth",
            "overlap_at_d",
            "weight_nano",
            (F.col("overlap_at_d") * F.col("weight_nano"))
            .cast("long")
            .alias("term_nano"),
        )
    )


@query(
    "rake_keyword_extract",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    pos AS (
        SELECT doc_id, unnest(l) AS tok, unnest(range(len(l))) AS p
        FROM toks
    ),
    marked AS (
        SELECT doc_id, tok, p,
               CASE WHEN tok IN ({_STOP_SQL}) THEN 1 ELSE 0 END AS is_stop
        FROM pos
    ),
    seg AS (
        SELECT doc_id, tok, p, phrase_id FROM (
            SELECT doc_id, tok, p, is_stop,
                   SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY p
                                      ROWS UNBOUNDED PRECEDING)
                       AS phrase_id
            FROM marked
        ) WHERE is_stop = 0
    ),
    phrases AS (
        SELECT doc_id, phrase_id,
               string_agg(tok, ' ' ORDER BY p) AS phrase,
               COUNT(*) AS plen
        FROM seg GROUP BY doc_id, phrase_id
        HAVING COUNT(*) BETWEEN 1 AND 3
    ),
    members AS (
        SELECT s.doc_id, s.phrase_id, s.tok, ph.plen, ph.phrase
        FROM seg s JOIN phrases ph
          ON ph.doc_id = s.doc_id AND ph.phrase_id = s.phrase_id
    ),
    word_scores AS (
        SELECT tok,
               1000000 * CAST(SUM(plen) AS BIGINT)
                   // CAST(COUNT(*) AS BIGINT) AS score_micro
        FROM members GROUP BY tok
    ),
    instance AS (
        SELECT m.doc_id, m.phrase_id, m.phrase,
               CAST(SUM(ws.score_micro) AS BIGINT) AS iscore
        FROM members m JOIN word_scores ws ON ws.tok = m.tok
        GROUP BY m.doc_id, m.phrase_id, m.phrase
    )
    SELECT phrase,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MAX(iscore) AS BIGINT) AS score_micro
    FROM instance GROUP BY phrase
    ORDER BY score_micro DESC, phrase
    LIMIT 15
    """,
)
def rake_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (M186, Rose et al. 2010): candidate
    phrases are maximal stopword-delimited token runs (capped at 3
    words); each word scores deg(w)/freq(w) — degree favors words that
    live in long phrases, frequency demotes ubiquitous ones — and a
    phrase scores the sum of its member-word scores.  Top-15 corpus
    keyphrases.  The unsupervised keyword pass that needs no model
    artifact at all, which is why it still opens most document-tagging
    pipelines (tf-idf ranks single tokens; RAKE surfaces multi-word
    terms).

    Exactness: per-word score is ONE integer division to micro-units
    (1e6·Σplen div n); a phrase score is an exact BIGINT sum of those,
    so ordering/limit sit on exact integers with the phrase string as
    tie-break — no floats anywhere.

    Scale: phrase segmentation is a per-doc running-sum window
    (doc-partitioned, bounded per-doc state); word scores are a
    token-keyed agg (word-count shape) re-joined to members on the
    token key.  Phrase assembly uses the ordered string_agg /
    sorted-collect_list idiom (`inverted_index_build` discipline).
    """
    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("p", "tok")
    )
    marked = pos.select(
        "doc_id",
        "tok",
        "p",
        F.when(F.col("tok").isin(*STOPWORDS), 1).otherwise(0).alias(
            "is_stop"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("p").rowsBetween(
        Window.unboundedPreceding, 0
    )
    seg = marked.select(
        "doc_id", "tok", "p", F.sum("is_stop").over(w).alias("phrase_id")
    ).where(F.col("is_stop") == 0)
    phrases = (
        seg.groupBy("doc_id", "phrase_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.count("*").alias("plen"),
        )
        .where(F.col("plen").between(1, 3))
    )
    members = seg.join(phrases, ["doc_id", "phrase_id"]).select(
        "doc_id", "phrase_id", "tok", "plen", "phrase"
    )
    word_scores = members.groupBy("tok").agg(
        F.expr("1000000 * CAST(SUM(plen) AS BIGINT) div COUNT(*)").alias(
            "score_micro"
        )
    )
    instance = (
        members.join(word_scores, "tok")
        .groupBy("doc_id", "phrase_id", "phrase")
        .agg(F.sum("score_micro").cast("long").alias("iscore"))
    )
    return (
        instance.groupBy("phrase")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.max("iscore").cast("long").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), F.asc("phrase"))
        .limit(15)
    )


@query(
    "trending_terms_rank_shift",
    oracle=rf"""
    WITH bounds AS (
        SELECT CAST(MIN(doc_id) AS BIGINT) AS lo,
               CAST(MAX(doc_id) AS BIGINT) AS hi
        FROM documents
    ),
    toks AS (
        SELECT CASE WHEN (doc_id - lo) * 2 < (hi - lo + 1)
                    THEN 0 ELSE 1 END AS half,
               unnest({tokens_sql('text')}) AS token
        FROM documents, bounds
    ),
    counts AS (
        SELECT half, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY half, token
    ),
    top_a AS (
        SELECT token, tf FROM counts WHERE half = 0
        ORDER BY tf DESC, token LIMIT 20
    ),
    top_b AS (
        SELECT token, tf FROM counts WHERE half = 1
        ORDER BY tf DESC, token LIMIT 20
    ),
    ra AS (
        SELECT token, tf AS tf_first,
               CAST(row_number() OVER (ORDER BY tf DESC, token) AS INT)
                   AS rank_first
        FROM top_a
    ),
    rb AS (
        SELECT token, tf AS tf_second,
               CAST(row_number() OVER (ORDER BY tf DESC, token) AS INT)
                   AS rank_second
        FROM top_b
    )
    SELECT COALESCE(ra.token, rb.token) AS token,
           rank_first, rank_second, tf_first, tf_second,
           CAST(COALESCE(rank_first, 21) - COALESCE(rank_second, 21)
                AS INT) AS rank_delta
    FROM ra FULL JOIN rb ON ra.token = rb.token
    """,
)
def trending_terms_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-terms rank shift (M190): the top-20 term leaderboards
    of the corpus's first and second ingest halves (doc_id stands in
    for crawl order) full-outer-joined, with the rank delta — positive
    = the term climbed, NULL rank = entered or left the top-20 (delta
    uses the standard rank-21 sentinel for absences).  The
    drift-of-attention report behind "what's newly hot in this crawl"
    and the lexical early-warning twin of `psi_drift`'s distributional
    gate.

    Exactness: term counts are exact BIGINTs; ranks come from
    row_number on the rounded-free exact (tf, token) order; delta is
    integer arithmetic over sentinel-coalesced ranks.

    Scale: one (half, token)-keyed count (the word-count shuffle) with
    the half flag assigned map-side from broadcast exact bounds; each
    leaderboard is a TakeOrdered(20); the rank windows run on the
    20-row heads (documented BOUNDED_GLOBAL_WINDOW_OK exemption) and
    the join is 20×20.
    """
    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.min("doc_id").cast("long").alias("lo"),
        F.max("doc_id").cast("long").alias("hi"),
    )
    toks = (
        docs.crossJoin(F.broadcast(bounds))
        .select(
            F.when(
                (F.col("doc_id") - F.col("lo")) * 2
                < F.col("hi") - F.col("lo") + 1,
                0,
            )
            .otherwise(1)
            .alias("half"),
            F.explode(tokenize(F.col("text"))).alias("token"),
        )
    )
    counts = toks.groupBy("half", "token").agg(
        F.count("*").cast("long").alias("tf")
    )

    def leaderboard(half: int, tf_name: str, rank_name: str) -> DataFrame:
        top = (
            counts.where(F.col("half") == half)
            .select("token", "tf")
            .orderBy(F.desc("tf"), F.asc("token"))
            .limit(20)
        )
        w = Window.orderBy(F.desc("tf"), F.asc("token"))
        return top.select(
            "token",
            F.col("tf").alias(tf_name),
            F.row_number().over(w).cast("int").alias(rank_name),
        )

    ra = leaderboard(0, "tf_first", "rank_first")
    rb = leaderboard(1, "tf_second", "rank_second")
    return (
        ra.alias("a")
        .join(rb.alias("b"), F.col("a.token") == F.col("b.token"), "full")
        .select(
            F.coalesce(F.col("a.token"), F.col("b.token")).alias("token"),
            "rank_first",
            "rank_second",
            "tf_first",
            "tf_second",
            (
                F.coalesce(F.col("rank_first"), F.lit(21))
                - F.coalesce(F.col("rank_second"), F.lit(21))
            )
            .cast("int")
            .alias("rank_delta"),
        )
    )


@query(
    "skipgram_pair_counts",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    pos AS (
        SELECT doc_id, unnest(l) AS tok, unnest(range(len(l))) AS p
        FROM toks
    ),
    pairs AS (
        SELECT a.tok AS center, b.tok AS context
        FROM pos a JOIN pos b
          ON b.doc_id = a.doc_id
         AND b.p BETWEEN a.p - 2 AND a.p + 2
         AND b.p <> a.p
    )
    SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY center, context
    ORDER BY n DESC, center, context
    LIMIT 30
    """,
)
def skipgram_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training-pair extraction (M195): directed (center,
    context) co-occurrence counts within a ±2-token window — the
    word2vec/fastText data-prep pass whose output table IS the
    training set for count-based embeddings (and, normalized, the PMI
    input M84 consumes).  Positional windows differ from M82's
    doc-level co-occurrence: "key order" co-occurring ADJACENTLY is
    the signal a context-window embedding learns, shared-document
    co-occurrence is not.  Top-30 pairs shown; production writes the
    full pair table.

    Scale: the pair join is doc-keyed (equi on doc_id with the ±2
    positional predicate applied inside the matched doc) — per-doc
    work is 4·|tokens|, never cross-document; the count is a
    map-side-combined (center, context) aggregate and the result a
    TakeOrdered(30) on exact integers with lexicographic tie-breaks.
    """
    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("p", "tok")
    )
    a = pos.select("doc_id", F.col("p").alias("pa"), F.col("tok").alias("center"))
    b = pos.select("doc_id", F.col("p").alias("pb"), F.col("tok").alias("context"))
    pairs = a.join(b, "doc_id").where(
        (F.col("pb") >= F.col("pa") - 2)
        & (F.col("pb") <= F.col("pa") + 2)
        & (F.col("pb") != F.col("pa"))
    )
    return (
        pairs.groupBy("center", "context")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("center"), F.asc("context"))
        .limit(30)
    )


@query(
    "zipf_coverage_curve",
    oracle=rf"""
    WITH tf AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (
            SELECT unnest({tokens_sql('text')}) AS token
            FROM documents
        ) GROUP BY token
    ),
    total AS (SELECT CAST(SUM(tf) AS BIGINT) AS total_mass FROM tf),
    head AS (
        SELECT token, tf FROM tf ORDER BY tf DESC, token LIMIT 1000
    ),
    ranked AS (
        SELECT tf,
               CAST(row_number() OVER (ORDER BY tf DESC, token) AS BIGINT)
                   AS r
        FROM head
    ),
    ks AS (SELECT unnest([10, 100, 1000]) AS k)
    SELECT CAST(k AS INT) AS k,
           CAST(SUM(CASE WHEN r <= k THEN tf ELSE 0 END) AS BIGINT)
               AS top_mass,
           total_mass,
           CAST(1000000 * SUM(CASE WHEN r <= k THEN tf ELSE 0 END)
                // total_mass AS BIGINT) AS coverage_ppm
    FROM ranked, ks, total
    GROUP BY k, total_mass
    """,
)
def zipf_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf coverage curve (M197): what fraction of total token mass
    the top-10 / top-100 / top-1000 terms cover — the
    vocabulary-design number behind tokenizer sizing ("how much of
    the stream do the first k merges already handle"), stopword-list
    length, and cache sizing for a serving-side term dictionary.  A
    corpus where the top-10 cover 60% is template-heavy; one where
    the top-1000 cover 30% is vocabulary-open — both change the
    compression story.

    Exactness: term frequencies and masses are exact BIGINTs;
    coverage is an integer ppm division; ranks come from row_number
    on the TakeOrdered(1000) head under the exact (tf, token) order
    (documented BOUNDED_GLOBAL_WINDOW_OK exemption — the window
    never sees more than 1000 rows).

    Scale: one token-keyed count (the word-count shuffle), a
    TakeOrdered(1000), a 1-row total, and a 3-key conditional
    aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    total = tf.agg(F.sum("tf").cast("long").alias("total_mass"))
    head = tf.orderBy(F.desc("tf"), F.asc("token")).limit(1000)
    w = Window.orderBy(F.desc("tf"), F.asc("token"))
    ranked = head.select(
        "tf", F.row_number().over(w).cast("long").alias("r")
    )
    ks = spark.createDataFrame([(10,), (100,), (1000,)], "k int")
    top = F.sum(F.when(F.col("r") <= F.col("k"), F.col("tf")).otherwise(0))
    return (
        ranked.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(total))
        .groupBy("k", "total_mass")
        .agg(top.cast("long").alias("top_mass"))
        .select(
            F.col("k").cast("int").alias("k"),
            "top_mass",
            "total_mass",
            F.expr("CAST(1000000 * top_mass div total_mass AS BIGINT)").alias(
                "coverage_ppm"
            ),
        )
    )


@query(
    "sentence_split_stats",
    oracle=rf"""
    WITH s AS (
        SELECT doc_id,
               list_filter(
                   list_transform(
                       string_split_regex(text, '[.!?]+'),
                       x -> trim(x)),
                   x -> x <> '') AS sents
        FROM documents
    ),
    per_doc AS (
        SELECT doc_id, len(sents) AS n_sentences,
               list_transform(sents,
                   x -> len({tokens_sql('x')})) AS lens
        FROM s WHERE len(sents) > 0
    )
    SELECT doc_id,
           CAST(n_sentences AS INTEGER) AS n_sentences,
           CAST(list_sum(lens) AS BIGINT) AS n_tokens,
           CAST(list_max(lens) AS INTEGER) AS max_sentence_tokens,
           CAST(1000000 * list_sum(lens) // n_sentences AS BIGINT)
               AS mean_sentence_len_ppm
    FROM per_doc
    """,
)
def sentence_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats (M226) — the I-surface stage between
    raw text and chunking that nothing else made explicit: split on
    terminal punctuation runs, drop empty segments, report per-doc
    sentence count, token totals, and the longest sentence (the
    run-on/boilerplate smell used to gate docs before chunk-window
    extraction — `doc_chunk_windows` consumes exactly this boundary
    structure).

    Both engines share the split regex and trim semantics; the mean
    sentence length is exact integer ppm.  One map-only scan — the
    split, per-sentence token counts, and aggregates are all array
    HOFs inside codegen; no explode, no shuffle beyond the result.
    """
    docs = load_table(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(
            F.split(F.col("text"), r"[.!?]+"), lambda x: F.trim(x)
        ),
        lambda x: x != "",
    )
    lens = F.transform(sents, lambda x: F.size(tokenize(x)))
    d = docs.select("doc_id", lens.alias("lens")).filter(
        F.size("lens") > 0
    )
    n_sent = F.size("lens")
    n_tok = F.aggregate(
        "lens", F.lit(0).cast("long"), lambda a, x: a + x
    )
    return d.select(
        "doc_id",
        n_sent.cast("int").alias("n_sentences"),
        n_tok.alias("n_tokens"),
        F.array_max("lens").cast("int").alias("max_sentence_tokens"),
        F.expr(
            "1000000 * aggregate(lens, 0L, (a, x) -> a + x)"
            " div size(lens)"
        ).alias("mean_sentence_len_ppm"),
    )


@query(
    "code_like_score",
    oracle=rf"""
    WITH m AS (
        SELECT doc_id, source, len(text) AS n_chars,
               len(text) - len(regexp_replace(text, '[{{}}();=\[\]<>]', '', 'g'))
                   AS n_sym,
               len({tokens_sql('text')}) AS n_tok,
               len(list_filter({tokens_sql('text')},
                   t -> regexp_matches(t, '^[a-zA-Z_][a-zA-Z0-9_]*\($')
                        OR regexp_matches(t, '^[a-zA-Z_][a-zA-Z0-9_]*\(\)$')))
                   AS n_call
        FROM documents WHERE len(text) > 0
    )
    SELECT doc_id, source,
           CAST(n_sym AS BIGINT) AS n_symbol_chars,
           CAST(n_call AS BIGINT) AS n_call_tokens,
           CAST(1000000 * n_sym // n_chars AS BIGINT) AS symbol_ppm,
           CAST(CASE WHEN 1000000 * n_sym // n_chars >= 20000
                       OR n_call >= 2
                     THEN 1 ELSE 0 END AS INTEGER) AS looks_like_code
    FROM m
    """,
)
def code_like_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-likeness heuristic (M227) — the prose/code router every
    mixed-corpus pipeline needs BEFORE quality gates (prose metrics
    like stopword ratio condemn perfectly good code, and code metrics
    condemn prose; `data_prep_funnel`'s gates assume prose, so this
    flag decides which gate family a doc enters).  Two deterministic
    signals: density of code-punctuation characters ({}();=[]<>) per
    char, and call-shaped tokens (identifier immediately followed by
    an open paren).

    Both engines compute symbol counts by the same
    length-minus-stripped-length trick and the same token regexes;
    the density is exact integer ppm and the flag a pure integer
    predicate.  Map-only single scan, no shuffles.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    n_chars = F.length("text")
    n_sym = n_chars - F.length(
        F.regexp_replace("text", r"[{}();=\[\]<>]", "")
    )
    toks = tokenize(F.col("text"))
    n_call = F.size(
        F.filter(
            toks,
            lambda t: t.rlike(r"^[a-zA-Z_][a-zA-Z0-9_]*\($")
            | t.rlike(r"^[a-zA-Z_][a-zA-Z0-9_]*\(\)$"),
        )
    )
    d = docs.select(
        "doc_id",
        "source",
        n_sym.cast("long").alias("n_symbol_chars"),
        n_call.cast("long").alias("n_call_tokens"),
        F.expr(
            "1000000 * (length(text) - length(regexp_replace(text,"
            " '[{}();=\\\\[\\\\]<>]', ''))) div length(text)"
        ).alias("symbol_ppm"),
    )
    return d.select(
        "doc_id",
        "source",
        "n_symbol_chars",
        "n_call_tokens",
        "symbol_ppm",
        (
            (F.col("symbol_ppm") >= 20000) | (F.col("n_call_tokens") >= 2)
        )
        .cast("int")
        .alias("looks_like_code"),
    )


@query(
    "kwic_windows",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    hits AS (
        SELECT doc_id, l, unnest(
                   list_filter(range(1, len(l) + 1), i -> l[i] = 'the'))
                   AS pos
        FROM toks
    )
    SELECT doc_id, CAST(pos AS INTEGER) AS pos,
           array_to_string(l[greatest(pos - 3, 1) : least(pos + 3, len(l))],
                           ' ') AS window
    FROM hits
    """,
)
def kwic_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance (M228) — the search-serving
    feature behind snippet/highlight generation: every occurrence of
    the query term with its ±3-token context window, one row per hit.
    The I-surface sibling of `bm25_search` (which ranks docs; this
    renders WHY a doc matched).

    Both engines index the same whitespace token list 1-based and
    slice with the same clamped bounds, so the window strings are
    byte-equal.  Plan: map-only — position discovery and slicing are
    array HOFs on the token list; the only explode is per-hit (output
    cardinality), never per-token.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Spark's sequence(1, 0) yields a DESCENDING [1, 0] rather than an
    # empty array (DuckDB's range(1, 1) is empty) — drop token-less
    # docs before building positions so the engines agree on the edge.
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("l")).filter(
        F.size("l") > 0
    )
    hits = toks.select(
        "doc_id",
        "l",
        F.explode(
            F.filter(
                F.sequence(F.lit(1), F.size("l")),
                lambda i: F.element_at("l", i) == "the",
            )
        ).alias("pos"),
    )
    start = F.greatest(F.col("pos") - 3, F.lit(1))
    end = F.least(F.col("pos") + 3, F.size("l"))
    return hits.select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.array_join(
            F.slice("l", start, end - start + 1), " "
        ).alias("window"),
    )


@query(
    "prf_query_expansion",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    tf AS (
        SELECT doc_id,
               len(list_filter(l, t -> t = 'join')) AS tf_seed
        FROM toks
    ),
    top10 AS (
        SELECT doc_id FROM tf WHERE tf_seed > 0
        ORDER BY tf_seed DESC, doc_id ASC LIMIT 10
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    dterm AS (
        SELECT doc_id, unnest(list_distinct(l)) AS term FROM toks
    ),
    df_global AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS dfg
        FROM dterm GROUP BY term
    ),
    df_top AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS dft
        FROM dterm JOIN top10 USING (doc_id)
        WHERE term <> 'join'
        GROUP BY term
    )
    SELECT t.term, t.dft AS df_top, g.dfg AS df_global,
           CAST(1000000 * t.dft * n.n_docs // (10 * g.dfg) AS BIGINT)
               AS lift_ppm
    FROM df_top t JOIN df_global g USING (term) CROSS JOIN n
    ORDER BY df_top DESC, term ASC LIMIT 10
    """,
)
def prf_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (M229) — the classic
    two-pass retrieval refinement completing the search stack
    (`bm25_search` ranks, `kwic_windows` renders, this EXPANDS): rank
    docs for the seed term, take the top-10 as pseudo-relevant, and
    surface the terms whose document frequency inside that set most
    exceeds their corpus rate (lift = df_top·N / (10·df_global)) —
    the terms a second-pass OR-query adds.

    Determinism: first-pass ranking is (tf_seed desc, doc_id asc) —
    exact integers with a unique tie-break; lift is exact integer ppm;
    the final top-10 orders by (df_top desc, term asc).  Scale: the
    pseudo-relevant set is a fixed-k TakeOrdered (never a global
    sort); expansion joins the 10-doc term set against the global df
    table — word-count shapes, map-side combined, with the seed's
    posting list as the only data-dependent fan-in.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("l"))
    tf = toks.select(
        "doc_id",
        F.size(F.filter("l", lambda t: t == "join")).alias("tf_seed"),
    )
    top10 = (
        tf.filter(F.col("tf_seed") > 0)
        .orderBy(F.desc("tf_seed"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id")
    )
    dterm = toks.select(
        "doc_id", F.explode(F.array_distinct("l")).alias("term")
    )
    df_global = dterm.groupBy("term").agg(F.count("*").alias("df_global"))
    df_top = (
        dterm.join(F.broadcast(top10), "doc_id", "left_semi")
        .filter(F.col("term") != "join")
        .groupBy("term")
        .agg(F.count("*").alias("df_top"))
    )
    n_docs = docs.count()  # one scalar for the lift denominator
    return (
        df_top.join(df_global, "term")
        .select(
            "term",
            "df_top",
            "df_global",
            F.expr(
                f"1000000 * df_top * {n_docs}L div (10 * df_global)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.desc("df_top"), F.asc("term"))
        .limit(10)
    )


@query(
    "term_proximity_rank",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    flat AS (
        SELECT doc_id, unnest(l) AS token FROM toks
    ),
    top2 AS (
        SELECT token,
               CAST(row_number() OVER (ORDER BY n DESC, token) AS INTEGER)
                   AS rk
        FROM (SELECT token, COUNT(*) AS n FROM flat GROUP BY token
              ORDER BY n DESC, token LIMIT 2)
    ),
    pos AS (
        SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS p FROM toks
    ),
    pt AS (SELECT doc_id, p, l[p] AS token FROM pos),
    p1 AS (SELECT doc_id, p FROM pt JOIN top2 USING (token) WHERE rk = 1),
    p2 AS (SELECT doc_id, p FROM pt JOIN top2 USING (token) WHERE rk = 2),
    gaps AS (
        SELECT p1.doc_id, abs(p1.p - p2.p) AS gap
        FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id
    ),
    best AS (
        SELECT doc_id, CAST(MIN(gap) AS BIGINT) AS min_gap
        FROM gaps GROUP BY doc_id
    ),
    c1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_t1
           FROM p1 GROUP BY doc_id),
    c2 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_t2
           FROM p2 GROUP BY doc_id)
    SELECT b.doc_id,
           (SELECT token FROM top2 WHERE rk = 1) AS term_1,
           (SELECT token FROM top2 WHERE rk = 2) AS term_2,
           b.min_gap, c1.n_t1, c2.n_t2
    FROM best b
    JOIN c1 USING (doc_id) JOIN c2 USING (doc_id)
    ORDER BY b.min_gap, b.doc_id LIMIT 25
    """,
)
def term_proximity_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-aware term-proximity ranking (M250): for the corpus's
    two most frequent terms, rank documents by the MINIMUM token
    distance between an occurrence of each — the proximity signal a
    phrase/near-phrase search layer adds on top of bm25_search (I8)
    and kwic_windows (M228), which only see term presence.  Documents
    where the pair is adjacent outrank documents where the terms are
    far apart.

    Exactness: positions, gaps, and occurrence counts are exact
    integers from the shared whitespace tokenizer; top-2 term
    selection tie-breaks (count DESC, token ASC); final order
    (min_gap, doc_id).  Scale: term selection is a map-side TF
    aggregate + global top-2 (TakeOrdered); the position lists for
    JUST the two selected terms survive (broadcast semi-join), so the
    per-doc pair fan-out is bounded by per-doc occurrence counts —
    never doc_len²; the rank window runs on the 2-row head
    (vector_index_probe exemption pattern).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("p", "token")
    )
    tf = toks.groupBy("token").agg(F.count("*").alias("n"))
    head = tf.orderBy(F.desc("n"), "token").limit(2)
    ranked = head.select(
        "token",
        F.row_number()
        .over(Window.orderBy(F.desc("n"), "token"))
        .cast("int")
        .alias("rk"),
    )
    p1 = toks.join(
        F.broadcast(ranked.filter(F.col("rk") == 1).select("token")),
        "token",
    ).select("doc_id", F.col("p").alias("pa"))
    p2 = toks.join(
        F.broadcast(ranked.filter(F.col("rk") == 2).select("token")),
        "token",
    ).select("doc_id", F.col("p").alias("pb"))
    gaps = p1.join(p2, "doc_id").select(
        "doc_id", F.abs(F.col("pa") - F.col("pb")).alias("gap")
    )
    best = gaps.groupBy("doc_id").agg(
        F.min("gap").cast("long").alias("min_gap")
    )
    c1 = p1.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_t1"))
    c2 = p2.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_t2"))
    t1 = ranked.filter(F.col("rk") == 1).select(
        F.col("token").alias("term_1")
    )
    t2 = ranked.filter(F.col("rk") == 2).select(
        F.col("token").alias("term_2")
    )
    return (
        best.join(c1, "doc_id")
        .join(c2, "doc_id")
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select("doc_id", "term_1", "term_2", "min_gap", "n_t1", "n_t2")
        .orderBy("min_gap", "doc_id")
        .limit(25)
    )


@query(
    "flesch_reading_ease",
    oracle=f"""
    WITH per_doc AS (
        SELECT source,
               CAST(len({tokens_sql('text')}) AS BIGINT) AS w,
               CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS BIGINT) AS s,
               CAST(greatest(len(regexp_extract_all(text,
                                                    '[aeiouyAEIOUY]+')),
                             1) AS BIGINT) AS y
        FROM documents
    ),
    scored AS (
        SELECT source,
               CAST(floor(1000 * (206.835
                    - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                    - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE)))
                    + 0.5) AS BIGINT) AS score_milli
        FROM per_doc WHERE w > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(score_milli) AS BIGINT) AS sum_score_milli,
           CAST(SUM(score_milli) AS DOUBLE) / COUNT(*) / 1000.0
               AS mean_score
    FROM scored GROUP BY source
    """,
)
def flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per source (M295): the classic readability
    formula (206.835 − 1.015·words/sentences − 84.6·syllables/word,
    public) with a vowel-group syllable heuristic — a corpus-quality
    signal orthogonal to the Gopher/CCNet family (M25/M97 measure
    vocabulary and LM surprise; this measures STRUCTURAL complexity,
    and flags both keyword-stuffed fragments (absurdly high ease) and
    run-on machine text (negative ease)).  Fixture docs carry no
    sentence punctuation, so the sentence count floors at 1
    (documented: the score then ranks by word/syllable structure
    alone — exactly what the guard does on real unpunctuated crawl
    fragments).

    Exactness: words/sentences/syllables are exact integer counts
    (regexp_extract_all lengths — identical RE2/Java classes); each
    doc's score is ONE shared double tree over those integers with
    literal constants, milli-quantized BEFORE the per-source sum (the
    psi/anova discipline — summation order cannot move the result);
    the mean is one division of exact BIGINTs.

    Scale: map-only string work + a |sources|-keyed map-side
    aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.size(tokenize(F.col("text"))).cast("long").alias("w"),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit("[.!?]+")), F.lit(1)
        )
        .cast("long")
        .alias("s"),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit("[aeiouyAEIOUY]+")),
            F.lit(1),
        )
        .cast("long")
        .alias("y"),
    ).filter(F.col("w") > 0)
    score_milli = F.floor(
        1000
        * (
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("w").cast("double") / F.col("s").cast("double"))
            - F.lit(84.6)
            * (F.col("y").cast("double") / F.col("w").cast("double"))
        )
        + F.lit(0.5)
    ).cast("long")
    return (
        per_doc.select("source", score_milli.alias("score_milli"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("score_milli").cast("long").alias("sum_score_milli"),
        )
        .select(
            "source",
            "n_docs",
            "sum_score_milli",
            (
                F.col("sum_score_milli").cast("double")
                / F.col("n_docs")
                / F.lit(1000.0)
            ).alias("mean_score"),
        )
    )


@query(
    "fair_topk_interleave",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id
               ) AS r_src
        FROM documents
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM ranked
    WHERE r_src <= 3
    ORDER BY n_chars DESC, doc_id
    LIMIT 10
    """,
)
def fair_topk_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-constrained top-k (M309): the global top-10 longest
    documents subject to AT MOST 3 per source — the fairness/
    diversity constraint every search result page and candidate
    shortlist applies so one prolific source cannot monopolize the
    slate (the constraint-free `topk` is the degenerate case; MMR
    M123 diversifies by CONTENT similarity, this by a hard provider
    quota — both belong in a serving stack).

    Exactness: integer scores with doc_id tie-breaks at both stages;
    the per-source quota is a rank predicate, so the result is
    deterministic and engine-identical.

    Scale: the quota stage is a window PARTITIONED by source
    (data-scale but per-key — the standard top-N-per-group shape,
    and WindowGroupLimit prunes it to 3 rows per source before the
    exchange completes); the global stage is
    TakeOrderedAndProject(10) over the ≤3·|sources| survivors —
    per-partition heaps, never a global sort.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = docs.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    ).withColumn("r_src", F.row_number().over(w))
    return (
        ranked.filter(F.col("r_src") <= 3)
        .select("doc_id", "source", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "phrase_match_search",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    post AS (
        SELECT doc_id, l[i] AS term, CAST(i AS BIGINT) AS pos
        FROM toks, unnest(range(1, len(l) + 1)) u(i)
    ),
    hits AS (
        SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM post a JOIN post b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        WHERE a.term = 'table' AND b.term = 'scan'
        GROUP BY a.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_occurrences) AS BIGINT) AS n_occurrences,
           CAST(MAX(n_occurrences) AS BIGINT) AS max_per_doc
    FROM hits
    """,
)
def phrase_match_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index PHRASE query (M318): find documents containing
    the exact phrase "table scan" by intersecting the two terms'
    POSITIONAL postings with an adjacency constraint — the phrase
    operator of a real search engine (the positional complement of
    `bm25_search` (bag scoring), `term_proximity_rank` (unordered
    window), and `prefix_suggest_th` (dictionary)): quoted queries,
    entity names, and code identifiers all need positions, not bags.

    The Spark side intersects postings the way a search engine does
    (filter each term's postings FIRST — the index lookup — then join
    on (doc, pos+1)); the oracle builds the same postings but its
    join is the generic self-join — independent plan, same set
    semantics.

    Exactness: positions are exact integers from one tokenize pass;
    all outputs exact counts.  Scale: per-term postings are pruned
    BEFORE the join (selectivity of the rarer term bounds the join —
    standard phrase evaluation), the join key is (doc, pos) — no
    cross-document work, no windows; output is a 1-row summary.
    """
    docs = load_table(spark, sf_dir, "documents")
    post = docs.select(
        "doc_id",
        F.posexplode(tokenize(F.col("text"))).alias("pos0", "term"),
    ).select("doc_id", "term", (F.col("pos0") + 1).cast("long").alias("pos"))
    a = post.filter(F.col("term") == "table").select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = post.filter(F.col("term") == "scan").select(
        "doc_id", F.col("pos").alias("pb")
    )
    hits = (
        a.join(b, "doc_id")
        .filter(F.col("pb") == F.col("pa") + 1)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
    )
    return hits.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_occurrences").cast("long").alias("n_occurrences"),
        F.max("n_occurrences").cast("long").alias("max_per_doc"),
    )


@query(
    "distinctive_terms_ratio",
    oracle=rf"""
    WITH tok AS (
        SELECT source,
               unnest({tokens_sql('text')}) AS term
        FROM documents WHERE source IN ('src0', 'src1')
    ),
    tf AS (
        SELECT term,
               CAST(count_if(source = 'src0') AS BIGINT) AS f0,
               CAST(count_if(source = 'src1') AS BIGINT) AS f1
        FROM tok GROUP BY term
    ),
    keyed AS (
        SELECT term, f0, f1,
               CAST((f0 + 1) * 1000000000000 // (f1 + 1) AS BIGINT)
                   AS ratio_key
        FROM tf
    )
    SELECT term, f0, f1, ratio_key,
           CAST('src0' AS VARCHAR) AS distinctive_for
    FROM keyed
    ORDER BY ratio_key DESC, term LIMIT 10
    """,
)
def distinctive_terms_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive terms by smoothed frequency ratio (M333): the 10
    terms most over-represented in src0 relative to src1 by the
    add-one-smoothed count ratio — the comparative-corpus question
    ("what vocabulary distinguishes feed A from feed B") behind
    Monroe et al.'s Fightin' Words, rebuilt LOG-FREE so it hashes
    exactly: the ranking needs only the ORDER of (f0+1)/(f1+1),
    which an exact integer key (f0+1)·10¹² div (f1+1) preserves
    (smoothing keeps never-in-B terms finite instead of infinitely
    distinctive — the add-one prior doing its one job).

    Exactness: counts exact; the ratio key is exact integer
    arithmetic with a term tie-break; no logs, no floats.

    Scale: one conditional word-count over the two sources
    (vocabulary-bounded keys) + TakeOrderedAndProject(10).
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    tok = docs.select(
        "source", F.explode(tokenize(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("term").agg(
        F.count_if(F.col("source") == "src0").cast("long").alias("f0"),
        F.count_if(F.col("source") == "src1").cast("long").alias("f1"),
    )
    keyed = tf.select(
        "term",
        "f0",
        "f1",
        F.expr(
            "CAST((CAST(f0 + 1 AS decimal(38,0)) * 1000000000000)"
            " div (f1 + 1) AS BIGINT)"
        ).alias("ratio_key"),
    )
    return (
        keyed.orderBy(F.desc("ratio_key"), F.asc("term"))
        .limit(10)
        .select(
            "term",
            "f0",
            "f1",
            "ratio_key",
            F.lit("src0").alias("distinctive_for"),
        )
    )


@query(
    "sorted_neighborhood_pairs",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, lang, n_chars,
               {token_set_sql('text')} AS s
        FROM documents
    ),
    ordered AS (
        SELECT doc_id, lang, s,
               ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY n_chars, doc_id
               ) AS rn
        FROM toks
    ),
    cand AS (
        SELECT a.lang, a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS i,
               CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
                    AS BIGINT) AS u
        FROM ordered a JOIN ordered b
          ON b.lang = a.lang AND b.rn BETWEEN a.rn + 1 AND a.rn + 2
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(count_if(2 * i >= u) AS BIGINT) AS n_matches
    FROM cand GROUP BY lang
    """,
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate generation (M339): within each
    language block, order documents by a cheap sort key (length, id)
    and compare each doc only to its 2 sorted successors — the
    CLASSIC record-linkage blocking alternative (Hernández-Stolfo
    1995, public) to both equality blocking (`blocked_fuzzy_match`
    needs an exact block key; near-dups with different keys never
    meet) and LSH (which pays signature computation): candidates are
    O(w·N), and near-dups with similar LENGTH meet even when no
    token block agrees.  The match predicate is exact set Jaccard ≥
    0.5 by integer cross-multiplication (2·|∩| ≥ |∪| — no float
    threshold).

    Exactness: the sort key is exact integers with id tie-break; the
    window rank is the per-block ordered shape; intersections exact.

    Scale: the rank window is PARTITIONED per block; the neighbor
    join is an equi-join on block plus a ±w rank band — w·N pairs by
    construction, never N² (the whole point of the method); at
    100 TB the block key sharpens (lang, length-bucket) to bound
    block sizes.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.array_distinct(tokenize(F.col("text"))).alias("s"),
    )
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ordered = toks.withColumn("rn", F.row_number().over(w))
    a = ordered.select(
        "lang",
        F.col("doc_id").alias("a_id"),
        F.col("s").alias("sa"),
        F.col("rn").alias("ra"),
    )
    # O(w·N) by construction: each successor copy is shifted to its
    # predecessor's rank and equi-joined on (lang, rank) — never a
    # per-block cross join with a band filter
    b = ordered.select(
        "lang",
        F.col("doc_id").alias("b_id"),
        F.col("s").alias("sb"),
        (F.col("rn") - 1).alias("ra"),
    ).unionAll(
        ordered.select(
            "lang",
            F.col("doc_id").alias("b_id"),
            F.col("s").alias("sb"),
            (F.col("rn") - 2).alias("ra"),
        )
    )
    cand = a.join(b, ["lang", "ra"])
    i = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    u = F.size(F.col("sa")) + F.size(F.col("sb")) - i
    scored = cand.select(
        "lang", (2 * i >= u).cast("int").alias("is_match")
    )
    return scored.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.sum("is_match").cast("long").alias("n_matches"),
    )


@query(
    "lexical_richness_profile",
    oracle=rf"""
    WITH tf AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS f
        FROM (
            SELECT source,
                   unnest({tokens_sql('text')}) AS token
            FROM documents
        ) GROUP BY source, token
    ),
    agg AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(SUM(f) AS BIGINT) AS n_tokens,
               CAST(count_if(f = 1) AS BIGINT) AS hapax,
               CAST(SUM(CAST(f AS HUGEINT) * f) AS HUGEINT) AS sum_f2
        FROM tf GROUP BY source
    )
    SELECT source, vocab, n_tokens, hapax,
           CAST((2000000 * hapax + vocab) // (2 * vocab) AS BIGINT)
               AS hapax_ratio_ppm,
           CAST((2 * 10000000 * (sum_f2 - n_tokens)
                 + CAST(n_tokens AS HUGEINT) * n_tokens)
                // (2 * CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT)
               AS yule_k_milli
    FROM agg
    """,
)
def lexical_richness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical richness profile (M342): per source, the hapax ratio
    (share of vocabulary appearing exactly once) and Yule's K
    (10⁴·(Σf²−N)/N², Yule 1944 — the repeat-rate constant designed
    to be text-LENGTH-invariant, which raw type/token ratios are
    not) — the corpus-linguistics pair that separates
    vocabulary-open prose (high hapax, low K) from template spam
    (low hapax, high K); reads alongside `simpson_diversity_index`
    (K is essentially Simpson's collision rate rescaled) and feeds
    the same mixture decisions as `zipf_coverage_curve`.

    Exactness: both statistics are LOG-FREE rationals over exact
    integer frequency moments (HUGEINT Σf²), emitted via the
    half-up identity (K in milli-units) — no libm anywhere.

    Scale: one (source, token) word-count shuffle + a |sources|-row
    moment reduce.
    """
    dec = "decimal(38,0)"
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "source", F.explode(tokenize(F.col("text"))).alias("token")
        )
        .groupBy("source", "token")
        .agg(F.count("*").cast("long").alias("f"))
    )
    agg = tf.groupBy("source").agg(
        F.count("*").cast("long").alias("vocab"),
        F.sum("f").cast("long").alias("n_tokens"),
        F.count_if(F.col("f") == 1).cast("long").alias("hapax"),
        F.sum(F.col("f").cast(dec) * F.col("f")).alias("sum_f2"),
    )
    return agg.select(
        "source",
        "vocab",
        "n_tokens",
        "hapax",
        F.expr(
            "CAST((2000000 * hapax + vocab) div (2 * vocab) AS BIGINT)"
        ).alias("hapax_ratio_ppm"),
        F.expr(
            f"CAST((2 * 10000000 * (sum_f2 - n_tokens)"
            f" + CAST(n_tokens AS {dec}) * n_tokens)"
            f" div (2 * CAST(n_tokens AS {dec}) * n_tokens) AS BIGINT)"
        ).alias("yule_k_milli"),
    )
