"""Corpus-preparation operators beyond the r1 inventory (LLM mandate).

The remaining standard stages of a pretraining data pipeline:
benchmark decontamination (n-gram collision against an eval set),
duplicated-span ratio (the scalable cousin of exact-substring dedup),
deterministic importance sampling, and per-source token budgeting for
mixture weighting.  All JVM-side DataFrame ops with DuckDB oracles.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from insight_spark.operators.dedup import (
    MD5_JACCARD_SQL,
    MD5_VERIFY_SQL,
    md5_band_ctes,
    prefix_filtered_jaccard_join,
)
from insight_spark.operators.text import (
    ngrams,
    token_set_sql,
    tokenize,
    tokens_df,
    tokens_sql,
)
from insight_spark.queries import StressCap, query
from insight_spark.sources import load_table

#: Collision n-gram width.  Real pipelines use 8-13 whitespace tokens
#: (GPT-3 used 13-gram decontamination); fixture docs are short, so 8.
_DECON_N = 8

_DECON_GRAMS_SQL = rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(l) - {_DECON_N} + 2, 1)),
                   i -> array_to_string(l[i : i + {_DECON_N} - 1], ' '))) AS g
        FROM toks
    )
"""


@query(
    "ngram_decontaminate",
    oracle=_DECON_GRAMS_SQL
    + """
    , bench AS (
        SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 50 = 0
    ),
    hits AS (
        SELECT g.doc_id, COUNT(*) AS n_hits
        FROM grams g, unnest(g.g) AS t(gram)
        JOIN bench USING (gram)
        GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(h.n_hits, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 50 <> 0
    """,
)
def ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3-style n-gram collision).

    Docs with ``doc_id % 50 == 0`` stand in for the held-out eval set;
    every other doc is scored by how many of its distinct 8-grams
    appear anywhere in that set.  Plan: distinct grams per doc
    (explode), inner join to the distinct benchmark-gram set, count,
    left-join back for the zero rows.  At 100 TB the join key would be
    ``xxhash64(gram)`` (8-byte shuffle, collision-tolerant for a drop
    decision) — the string key here keeps the oracle exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(ngrams(tokenize(F.col("text")), _DECON_N))
        ).alias("gram"),
    )
    bench = (
        grams.filter(F.col("doc_id") % 50 == 0).select("gram").distinct()
    )
    hits = (
        grams.filter(F.col("doc_id") % 50 != 0)
        .join(bench, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("_n_hits"))
    )
    return (
        docs.filter(F.col("doc_id") % 50 != 0)
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("_n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


@query(
    "dup_span_ratio",
    oracle=_DECON_GRAMS_SQL
    + """
    , df AS (
        SELECT gram, COUNT(*) AS n_docs
        FROM (SELECT doc_id, unnest(g) AS gram FROM grams)
        GROUP BY gram
    ),
    scored AS (
        SELECT g.doc_id,
               COUNT(*) AS n_grams,
               SUM(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup
        FROM (SELECT doc_id, unnest(g) AS gram FROM grams) g
        JOIN df USING (gram)
        GROUP BY g.doc_id
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           ROUND(CAST(n_dup AS DOUBLE) / n_grams, 6) AS dup_ratio
    FROM scored
    """,
)
def dup_span_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span ratio — the scalable form of exact-substring
    dedup (CCNet/Gopher hygiene signal).

    Fraction of a doc's distinct 8-grams that occur in ≥2 docs
    corpus-wide.  Two shuffles: gram document-frequency (word-count
    shape, map-side combine), then a gram→doc join back and per-doc
    ratio.  Docs above a dup_ratio threshold get dropped or trimmed in
    a real pipeline; the threshold composes as a filter on this output.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(ngrams(tokenize(F.col("text")), _DECON_N))
        ).alias("gram"),
    )
    df_counts = grams.groupBy("gram").agg(F.count("*").alias("_n_docs"))
    return (
        grams.join(df_counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("_n_docs") >= 2).cast("int")).alias("_n_dup"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.round(
                F.col("_n_dup").cast("double") / F.col("n_grams"), 6
            ).alias("dup_ratio"),
        )
    )


@query(
    "weighted_sample",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source,
               len({tokens_sql('text')})
                   AS n_tokens,
               CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE)
                   / 4294967296 AS u
        FROM documents
    )
    SELECT doc_id, source, CAST(n_tokens AS INTEGER) AS n_tokens
    FROM scored
    WHERE u < least(1.0, CAST(n_tokens AS DOUBLE) / 40.0)
    """,
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance sampling: keep probability proportional
    to a per-doc quality weight (here token count / 40, capped at 1).

    The uniform draw is a Knuth multiplicative hash of doc_id — pure
    integer arithmetic, bit-identical in any engine, stable under
    re-runs/appends (same property as the md5-threshold split, but
    cheap enough to inline in SQL).  Longer docs survive
    proportionally more often — the quality-weighted mixture step of a
    pretraining pipeline.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokenize(F.col("text")))
    u = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)).cast(
        "double"
    ) / F.lit(4294967296)
    return (
        docs.select(
            "doc_id", "source", n_tokens.alias("n_tokens"), u.alias("_u")
        )
        .filter(
            F.col("_u")
            < F.least(F.lit(1.0), F.col("n_tokens").cast("double") / 40.0)
        )
        .select("doc_id", "source", "n_tokens")
    )


@query(
    "source_token_budget",
    oracle=f"""
    WITH per_source AS (
        SELECT source,
               COUNT(*) AS n_docs,
               SUM(len({tokens_sql('text')})) AS n_tokens
        FROM documents
        GROUP BY source
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE)
                 / SUM(n_tokens) OVER (), 6) AS token_share
    FROM per_source
    """,
)
def source_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget + corpus share (mixture-weighting input).

    One hash aggregate over sources; the corpus total attaches as a
    1-row broadcast (agg + crossJoin) instead of an empty-frame window,
    so no single-task exchange exists even when |sources| grows — the
    share division stays a map-side projection.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokenize(F.col("text"))).cast("long")).alias("n_tokens"),
    )
    total = per_source.agg(F.sum("n_tokens").alias("_tot"))
    return per_source.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.col("_tot"), 6
        ).alias("token_share"),
    )


@query(
    "gopher_quality_filter",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    sig AS (
        SELECT doc_id,
               CAST(len(l) AS BIGINT) AS n_words,
               ROUND(CAST(list_sum(list_transform(l, t -> len(t))) AS DOUBLE)
                     / len(l), 6) AS mean_word_len,
               ROUND(CAST(len(list_filter(l, t -> regexp_matches(t, '[a-z]')))
                          AS DOUBLE) / len(l), 6) AS alpha_ratio,
               CAST(len(list_filter(l, t -> t IN
                    ('the','be','to','of','and','that','have','with','a')))
                    AS BIGINT) AS n_stop
        FROM toks
    )
    SELECT doc_id, n_words, mean_word_len, alpha_ratio, n_stop,
           (n_words BETWEEN 25 AND 90)
               AND (mean_word_len BETWEEN 4.0 AND 10.0)
               AND alpha_ratio >= 0.8
               AND n_stop >= 2 AS passes
    FROM sig
    """,
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. 2021, §A1.1).

    The four classic repetition-independent rules, re-thresholded for
    the short fixture docs: word count in [25, 90], mean word length
    in [4, 10], >=80% alphabetic tokens, >=2 stopword hits.  All four
    signals ship alongside the boolean so downstream mixtures can
    re-threshold without recomputing.

    Scale: one projection pass over the corpus — higher-order array
    functions only, zero shuffles, zero Python.  At 100 TB this is a
    map-only stage that fuses into whatever scan feeds it.
    """
    docs = load_table(spark, sf_dir, "documents")
    l = tokenize(F.col("text"))
    n = F.size(l)
    sum_len = F.aggregate(
        F.transform(l, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    mean_word_len = F.round(sum_len.cast("double") / n, 6)
    alpha = F.size(F.filter(l, lambda t: t.rlike("[a-z]")))
    alpha_ratio = F.round(alpha.cast("double") / n, 6)
    stopset = ("the", "be", "to", "of", "and", "that", "have", "with", "a")
    n_stop = F.size(F.filter(l, lambda t: t.isin(*stopset))).cast("long")
    sig = docs.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        alpha_ratio.alias("alpha_ratio"),
        n_stop.alias("n_stop"),
    )
    passes = (
        F.col("n_words").between(25, 90)
        & F.col("mean_word_len").between(4.0, 10.0)
        & (F.col("alpha_ratio") >= 0.8)
        & (F.col("n_stop") >= 2)
    )
    return sig.withColumn("passes", passes)


@query(
    "hll_merge_distinct",
    oracle="""
    SELECT COUNT(DISTINCT user_id) AS n_users_exact,
           TRUE AS merged_within_5pct
    FROM events
    """,
)
def hll_merge_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog sketches (D6 scale path): per-partition
    sketch build + lossless union, the pattern that makes distinct
    counting a map-side-combine at 100 TB instead of a key shuffle.

    Per-event_type ``hll_sketch_agg`` sketches are unioned with
    ``hll_union_agg`` and the merged estimate must land within 5% of
    the exact count — the oracle states the bound as TRUE, so a sketch
    or merge regression breaks the value hash (same contract as
    ``distinct_exact_approx``).  The sketches themselves are tiny
    (<= 1 KB each); only |event_types| rows ever reach the final agg.
    """
    ev = load_table(spark, sf_dir, "events")
    per_group = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est")
    )
    exact = ev.agg(F.countDistinct("user_id").alias("n_users_exact"))
    joined = exact.crossJoin(merged)
    within = (
        F.abs(F.col("_est") - F.col("n_users_exact"))
        / F.col("n_users_exact")
    ) < 0.05
    return joined.select(
        "n_users_exact", within.alias("merged_within_5pct")
    )


def _topgram_branch_sql(n: int) -> str:
    return f"""
        SELECT doc_id, {n} AS n,
               unnest(list_transform(
                   range(1, greatest(len(l) - {n} + 2, 1)),
                   i -> array_to_string(l[i : i + {n} - 1], ' '))) AS g
        FROM toks"""


@query(
    "top_ngram_repetition",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    grams AS ("""
    + " UNION ALL ".join(_topgram_branch_sql(n) for n in (2, 3, 4))
    + """
    ),
    cnt AS (SELECT doc_id, n, g, COUNT(*) AS c FROM grams GROUP BY 1, 2, 3),
    cov AS (SELECT doc_id, n, MAX(c * len(g)) AS mc FROM cnt GROUP BY 1, 2)
    SELECT d.doc_id,
           ROUND(COALESCE(MAX(CASE WHEN n = 2 THEN mc END), 0)
                 / CAST(len(d.text) AS DOUBLE), 6) AS rep2,
           ROUND(COALESCE(MAX(CASE WHEN n = 3 THEN mc END), 0)
                 / CAST(len(d.text) AS DOUBLE), 6) AS rep3,
           ROUND(COALESCE(MAX(CASE WHEN n = 4 THEN mc END), 0)
                 / CAST(len(d.text) AS DOUBLE), 6) AS rep4
    FROM documents AS d LEFT JOIN cov ON cov.doc_id = d.doc_id
    GROUP BY d.doc_id, d.text
    """,
)
def top_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules (Rae et al. 2021 Table A1): per-doc
    fraction of characters covered by the most frequent {2,3,4}-gram.

    Coverage = max over grams of occurrences × gram char length — an
    integer max, so no cross-engine tie-break is needed.  Shape: one
    tagged explode of all three gram widths → (doc, n, gram) count with
    map-side combine → per-(doc, n) max → conditional-agg pivot back to
    one row per doc.  A single shuffle keyed on doc-local grams; at
    100 TB the combine collapses each doc's grams within its partition,
    so the exchange carries near-distinct grams only.
    """
    docs = load_table(spark, sf_dir, "documents")
    l = tokenize(F.col("text"))
    def _tagged_grams(n: int):
        # NB: a two-parameter lambda would make F.transform pass the
        # array INDEX as the second argument — close over n instead.
        return F.transform(
            ngrams(l, n),
            lambda g: F.struct(F.lit(n).alias("n"), g.alias("g")),
        )

    tagged = F.flatten(F.array(*[_tagged_grams(n) for n in (2, 3, 4)]))
    cnt = (
        docs.select("doc_id", F.explode(tagged).alias("t"))
        .groupBy("doc_id", "t.n", "t.g")
        .agg(F.count("*").alias("c"))
    )
    cov = cnt.groupBy("doc_id", "n").agg(
        F.max(F.col("c") * F.length("g")).alias("mc")
    )
    base = docs.select("doc_id", F.length("text").alias("_nc"))
    rep = [
        F.round(
            F.coalesce(
                F.max(F.when(F.col("n") == n, F.col("mc"))), F.lit(0)
            )
            / F.first("_nc").cast("double"),
            6,
        ).alias(f"rep{n}")
        for n in (2, 3, 4)
    ]
    return (
        base.join(cov, "doc_id", "left")
        .groupBy("doc_id")
        .agg(*rep)
    )


# Cost cap for the O(n²) brute-force ORACLE below (VERDICT r6 task 8):
# at sf0.1 (5,000 docs) the uncapped ground truth dominated the
# full-registry sweep at 228.7 s, so above 1,000 docs both sides keep
# the md5-range quarter of docs; the driver tier (500 docs) keeps the
# exact full-corpus oracle.
_JTJ_CAP = StressCap("documents", "doc_id", 1_000)


@query(
    "jaccard_threshold_join",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {token_set_sql('text')} AS s
        FROM documents
    ),
    sized AS (SELECT * FROM toks WHERE len(s) > 0 AND {_JTJ_CAP.sql}),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               len(list_intersect(a.s, b.s)) AS i,
               len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
        FROM sized a JOIN sized b ON b.doc_id > a.doc_id
    )
    SELECT a_id, b_id, ROUND(CAST(i AS DOUBLE) / u, 6) AS jaccard_sim
    FROM pairs
    WHERE 10 * i >= 9 * u
    """,
)
def jaccard_threshold_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide Jaccard >= 0.9 near-dup pairs via prefix filtering
    (J7 scale path; operators/dedup.prefix_filtered_jaccard_join).

    The oracle is the O(n²) brute force — deliberately: equality
    proves the prefix-filter candidate set misses no true pair, which
    is exactly the property that lets the Spark side skip |docs|² at
    100 TB.  Threshold 9/10 as exact integer math on both sides.
    Above ``_JTJ_CAP`` both sides restrict to the same deterministic
    md5-range doc subset.
    """
    return prefix_filtered_jaccard_join(_JTJ_CAP.load(spark, sf_dir), 9, 10)


#: RAG chunking contract: window/stride in whitespace tokens.  Fixture
#: docs have a 56-token median, so W=32/S=24 yields 2-3 overlapping
#: chunks per doc; production values (512/384 BPE tokens) only change
#: the constants.
_CHUNK_W = 32
_CHUNK_S = 24


@query(
    "doc_chunk_windows",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    sized AS (
        SELECT doc_id, l, len(l) AS n,
               ((greatest(len(l) - {_CHUNK_W}, 0) + {_CHUNK_S} - 1)
                // {_CHUNK_S}) * {_CHUNK_S} AS last_start
        FROM toks WHERE len(l) > 0
    ),
    chunks AS (
        SELECT doc_id,
               unnest(range(0, last_start + 1, {_CHUNK_S})) AS start
        FROM sized
    )
    SELECT c.doc_id,
           CAST(c.start // {_CHUNK_S} AS INTEGER) AS chunk_idx,
           CAST(len(s.l[c.start + 1 : c.start + {_CHUNK_W}]) AS INTEGER)
               AS chunk_len,
           array_to_string(s.l[c.start + 1 : c.start + {_CHUNK_W}], ' ')
               AS chunk_text
    FROM chunks c JOIN sized s ON s.doc_id = c.doc_id
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: overlapping fixed-width token
    windows with deterministic (doc_id, chunk_idx) identity.

    Every token lands in >= 1 chunk; consecutive chunks overlap by
    W - S tokens so no retrieval boundary splits a span.  Chunk count
    is exact integer math (1 + ceil(max(n-W,0)/S)) mirrored in the
    oracle.  Shape: pure per-row transform + explode — narrow, no
    shuffle, embarrassingly parallel at 100 TB; downstream embedding
    joins key on (doc_id, chunk_idx).
    """
    w, s = _CHUNK_W, _CHUNK_S
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tokenize(F.col("text")).alias("l")
    ).where(F.size("l") > 0)
    last_start = (
        F.floor(
            (F.greatest(F.size("l") - w, F.lit(0)) + (s - 1)) / s
        ).cast("int")
        * s
    )
    chunks = toks.select(
        "doc_id",
        "l",
        F.explode(F.sequence(F.lit(0), last_start, F.lit(s))).alias("start"),
    )
    piece = F.slice(F.col("l"), F.col("start") + 1, w)
    return chunks.select(
        "doc_id",
        (F.col("start") / s).cast("int").alias("chunk_idx"),
        F.size(piece).cast("int").alias("chunk_len"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


@query(
    "unigram_surprisal_score",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               unnest({tokens_sql('text')}) AS token
        FROM documents
    ),
    vocab AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
    tot AS (SELECT SUM(c) AS n FROM vocab),
    micro AS (
        SELECT t.doc_id,
               CAST(ROUND(-log10(CAST(v.c AS DOUBLE) / tot.n) * 1000000)
                    AS BIGINT) AS s
        FROM toks t JOIN vocab v USING (token) CROSS JOIN tot
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*)) AS BIGINT)
           / 1000000.0 AS avg_surprisal
    FROM micro GROUP BY doc_id
    """,
)
def unigram_surprisal_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity proxy — the classic LM-score quality
    filter with the corpus itself as the language model: per-doc mean
    token surprisal −log10 p(token), p from corpus unigram frequency.
    Low-probability-token-heavy docs (gibberish, codes, boilerplate
    soup) score high and get culled by a threshold downstream.

    Float discipline (the kmeans_lloyd trick): the per-token surprisal
    is rounded to integer micro-units *before* the per-doc sum, so the
    aggregation is exact integer math — order-independent and bit-equal
    across engines; only one final division renders the mean.  Plan:
    one token-count shuffle builds the vocab, which then broadcasts
    back onto the token stream (word-level vocabs stay broadcast-sized
    even at 100 TB; the doc-level agg shuffles on doc_id, same key the
    chunker/packer reuse).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_df(docs)
    vocab = toks.groupBy("token").agg(F.count("*").alias("c"))
    tot = vocab.agg(F.sum("c").alias("n"))
    micro = (
        toks.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(
                -F.log10(F.col("c").cast("double") / F.col("n")) * 1000000
            ).cast("long").alias("s"),
        )
    )
    return micro.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        (F.round(F.sum("s") / F.count("*")).cast("long")
         / F.lit(1000000.0)).alias("avg_surprisal"),
    )


@query(
    "bpe_merge_pairs",
    oracle=rf"""
    WITH toks AS (
        SELECT unnest({tokens_sql('text')}) AS token
        FROM documents
    ),
    words AS (SELECT token, COUNT(*) AS wf FROM toks GROUP BY token),
    pairs AS (
        SELECT unnest(list_transform(range(1, len(token)),
                                     i -> substr(token, i, 2))) AS pair,
               wf
        FROM words WHERE len(token) >= 2
    )
    SELECT pair, CAST(SUM(wf) AS BIGINT) AS freq
    FROM pairs GROUP BY pair
    ORDER BY freq DESC, pair LIMIT 20
    """,
)
def bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE/WordPiece tokenizer training, the inner loop: corpus-weighted
    adjacent-symbol pair counts, whose argmax is the next merge rule.

    The classic scale trick is built in: pairs are counted on the
    *word-frequency vocabulary* (|vocab| rows), not the raw token
    stream — one token-count shuffle reduces 100 TB of text to a
    vocab-sized table, and every subsequent merge round is arithmetic
    on that small side.  Pair extraction is a higher-order
    transform/sequence over substring windows (JVM codegen, no UDF);
    top-20 rides TakeOrderedAndProject with the pair string as
    tie-break.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        tokens_df(docs).groupBy("token").agg(F.count("*").alias("wf"))
    )
    pairs = (
        words.filter(F.length("token") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(token) - 1),"
                    " i -> substring(token, i, 2))"
                )
            ).alias("pair"),
            "wf",
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wf").alias("freq"))
        .orderBy(F.desc("freq"), "pair")
        .limit(20)
    )


def _fuzzy_decon_oracle() -> str:
    """DuckDB replay of the cross-corpus MinHash+LSH decontamination:
    the md5 band family of ``minhash_lsh_pairs_md5``, with the corpus
    split into train (doc_id % 7 != 0) and eval (% 7 == 0) AFTER
    signing — per-document math, so splitting before or after banding
    is identical."""
    return f"""
    WITH {md5_band_ctes("documents")},
    cand AS (
        SELECT DISTINCT t.doc_id AS a_id, e.doc_id AS b_id
        FROM bands t
        JOIN bands e ON t.band = e.band AND t.bkey = e.bkey
        WHERE t.doc_id % 7 <> 0 AND e.doc_id % 7 = 0
    ),
    ver AS (
        SELECT a_id, b_id, {MD5_JACCARD_SQL} AS j
        FROM cand
        JOIN sh2 sa ON sa.doc_id = a_id
        JOIN sh2 sb ON sb.doc_id = b_id
        WHERE {MD5_VERIFY_SQL}
    )
    SELECT a_id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_eval_matches,
           MAX(j) AS max_jaccard
    FROM ver
    GROUP BY a_id
    ORDER BY doc_id
    """


@query("fuzzy_decontaminate", oracle=_fuzzy_decon_oracle())
def fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (document-level) benchmark decontamination (M74): flag
    training documents that are NEAR-duplicates of any eval/benchmark
    document at shingle-Jaccard >= 1/2 — the MinHash complement of
    ``ngram_decontaminate``'s exact 8-gram collision test (real
    pipelines run both: exact n-grams catch verbatim quotes, fuzzy
    doc-level catches paraphrased/reformatted benchmark copies that
    share most of their shingles but no long exact run).

    Eval set here is the deterministic doc_id % 7 == 0 slice standing
    in for a benchmark suite.  Scale shape
    (operators/dedup.minhash_lsh_cross_pairs_md5): each corpus is
    banded independently, and candidates come from joining train
    buckets to BROADCAST eval buckets — the 100 TB training corpus is
    scanned once map-side, never self-joined; candidate volume scales
    with the eval set, not the corpus.  Output: one row per
    contaminated train doc with its eval-match count and worst
    (highest) Jaccard — the drop list a pipeline anti-joins against
    before export.  Whole sketch value-checked via the md5 family.
    """
    from insight_spark.operators.dedup import minhash_lsh_cross_pairs_md5

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 7 != 0)
    eval_docs = docs.filter(F.col("doc_id") % 7 == 0)
    pairs = minhash_lsh_cross_pairs_md5(train, eval_docs)
    return (
        pairs.groupBy(F.col("a_id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_eval_matches"),
            F.max("jaccard_sim").alias("max_jaccard"),
        )
        .orderBy("doc_id")
    )


@query(
    "exact_substring_dedup",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    gi AS (
        SELECT doc_id, l,
               unnest(range(1, greatest(len(l) - {_DECON_N - 1}, 0) + 1)) AS i
        FROM toks
    ),
    g AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(l[i:i + {_DECON_N - 1}], ' ') AS gram
        FROM gi
    ),
    dupg AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
    hits AS (SELECT doc_id, pos FROM g JOIN dupg USING (gram)),
    w AS (
        SELECT doc_id, pos,
               MAX(pos + {_DECON_N - 1}) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        FROM hits
    ),
    isl AS (
        SELECT doc_id, pos,
               SUM(CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM w
    ),
    spans AS (
        SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + {_DECON_N - 1} AS e
        FROM isl GROUP BY doc_id, island
    ),
    tj AS (
        SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS j FROM toks
    ),
    ti AS (SELECT doc_id, j - 1 AS idx, l[j] AS tok FROM tj),
    kept AS (
        SELECT t.doc_id, t.idx, t.tok
        FROM ti t
        WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = t.doc_id AND t.idx BETWEEN s.s AND s.e
        )
    )
    SELECT d.doc_id,
           CAST(len(d.l) AS INTEGER) AS n_tokens,
           CAST(len(d.l) - COUNT(k.idx) AS INTEGER) AS removed_tokens,
           COALESCE(string_agg(k.tok, ' ' ORDER BY k.idx), '')
               AS cleaned_text
    FROM toks d LEFT JOIN kept k USING (doc_id)
    GROUP BY d.doc_id, len(d.l)
    """,
)
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup REMOVAL (M134, the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    operation, token-gram form): any {n}-token span occurring >= 2
    times ACROSS THE CORPUS (within-doc repeats included) is cut from
    every document; overlapping duplicated spans coalesce
    (gaps-and-islands) before removal, and the cleaned text is
    returned with removal accounting — the surgical complement to
    whole-doc dedup, which can't touch boilerplate embedded in
    otherwise-unique docs.

    Scale shape, stage by stage: gram occurrence counting is the
    word-count shuffle (map-side combined; at 100 TB swap the gram
    string key for its xxhash64, same as `dedup_hash` shuffles
    digests); the hit join is gram-keyed; span coalescing and token
    filtering are windows/joins PARTITIONED per doc (bounded by doc
    length); the cleaned-text rebuild shuffles (doc_id, idx, token)
    rows once — no stage is corpus-quadratic, no suffix array needed
    for the fixed-n-gram form.
    """
    n = _DECON_N
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokenize(F.col("text")).alias("l")
    )
    g = base.select(
        "doc_id", F.posexplode(ngrams(F.col("l"), n)).alias("pos", "gram")
    )
    dupg = g.groupBy("gram").count().filter(F.col("count") >= 2).select("gram")
    hits = g.join(dupg, "gram").select("doc_id", "pos")
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    pme = (
        F.max(F.col("pos") + (n - 1))
        .over(w_doc.rowsBetween(Window.unboundedPreceding, -1))
    )
    isl = hits.withColumn(
        "island",
        F.sum(
            F.when(pme.isNull() | (F.col("pos") > pme), 1).otherwise(0)
        ).over(w_doc),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + (n - 1)).alias("e")
    )
    ti = base.select("doc_id", F.posexplode("l").alias("idx", "tok"))
    kept = ti.join(
        spans,
        (ti["doc_id"] == spans["doc_id"])
        & (F.col("idx") >= F.col("s"))
        & (F.col("idx") <= F.col("e")),
        "left_anti",
    )
    kept_agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                lambda st: st["tok"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    return (
        base.select("doc_id", F.size("l").alias("n_tokens"))
        .join(kept_agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("_n_kept", F.lit(0)))
            .cast("int")
            .alias("removed_tokens"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


@query(
    "fim_transform",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    sized AS (
        SELECT doc_id, l, len(l) AS n,
               len(l) // 3 AS p1, 2 * len(l) // 3 AS p2,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
                   AND len(l) >= 3 AS fim_applied
        FROM toks WHERE len(l) > 0
    )
    SELECT doc_id, fim_applied,
           CAST(n AS INTEGER) AS n_tokens,
           CAST(CASE WHEN fim_applied THEN p1 ELSE 0 END AS INTEGER)
               AS n_prefix,
           CAST(CASE WHEN fim_applied THEN p2 - p1 ELSE 0 END AS INTEGER)
               AS n_middle,
           CAST(CASE WHEN fim_applied THEN n - p2 ELSE 0 END AS INTEGER)
               AS n_suffix,
           CASE WHEN fim_applied THEN
               concat_ws(' ', '<PRE>', array_to_string(l[1:p1], ' '),
                         '<SUF>', array_to_string(l[p2+1:n], ' '),
                         '<MID>', array_to_string(l[p1+1:p2], ' '))
           ELSE array_to_string(l, ' ') END AS out_text
    FROM sized
    """,
)
def fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-middle transform (M164) — the code-pretraining data prep
    of Bavarian et al. 2022: for a deterministic 50% of documents
    (md5 doc-key gate — the "FIM rate"), split the token stream at
    1/3 and 2/3 and re-emit in PSM order
    (``<PRE> prefix <SUF> suffix <MID> middle``) so the model learns
    infilling; the rest pass through untouched.  Ships the split
    accounting (prefix/middle/suffix token counts) that the loss
    masking and the FIM-rate audit consume.

    Determinism: the gate is an md5-hex prefix compare and the split
    points are integer divisions — re-runs emit the byte-identical
    corpus (the property that makes the transform driver-hashable and
    training jobs resumable).

    Scale: pure map-only projection (split, three slices, string
    reassembly) — zero shuffles, full codegen; the transform composes
    under any upstream filter with predicate pushdown intact.
    """
    docs = load_table(spark, sf_dir, "documents")
    l = tokenize(F.col("text"))
    sized = docs.select("doc_id", l.alias("l")).filter(
        F.size("l") > 0
    ).select(
        "doc_id",
        "l",
        F.size("l").alias("n"),
        F.expr("size(l) div 3").alias("p1"),
        F.expr("2 * size(l) div 3").alias("p2"),
    ).withColumn(
        "fim_applied",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
            *"01234567"
        )
        & (F.col("n") >= 3),
    )
    fim = F.concat_ws(
        " ",
        F.lit("<PRE>"),
        F.array_join(F.slice("l", 1, F.col("p1")), " "),
        F.lit("<SUF>"),
        F.array_join(
            F.slice("l", F.col("p2") + 1, F.col("n") - F.col("p2")), " "
        ),
        F.lit("<MID>"),
        F.array_join(
            F.slice("l", F.col("p1") + 1, F.col("p2") - F.col("p1")), " "
        ),
    )
    z = F.lit(0)
    return sized.select(
        "doc_id",
        "fim_applied",
        F.col("n").cast("int").alias("n_tokens"),
        F.when(F.col("fim_applied"), F.col("p1"))
        .otherwise(z)
        .cast("int")
        .alias("n_prefix"),
        F.when(F.col("fim_applied"), F.col("p2") - F.col("p1"))
        .otherwise(z)
        .cast("int")
        .alias("n_middle"),
        F.when(F.col("fim_applied"), F.col("n") - F.col("p2"))
        .otherwise(z)
        .cast("int")
        .alias("n_suffix"),
        F.when(F.col("fim_applied"), fim)
        .otherwise(F.array_join("l", " "))
        .alias("out_text"),
    )


@query(
    "vocab_novelty_curve",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, unnest({token_set_sql('text')}) AS token
        FROM documents
    ),
    first_seen AS (
        SELECT token, CAST(MIN(doc_id) AS BIGINT) AS fd
        FROM toks GROUP BY token
    ),
    bounds AS (
        SELECT CAST(MIN(doc_id) AS BIGINT) AS lo,
               CAST(MAX(doc_id) AS BIGINT) AS hi
        FROM documents
    ),
    doc_batches AS (
        SELECT least((doc_id - lo) * 10 // (hi - lo + 1), 9) AS batch,
               COUNT(*) AS n_docs
        FROM documents, bounds GROUP BY 1
    ),
    tok_batches AS (
        SELECT least((fd - lo) * 10 // (hi - lo + 1), 9) AS batch,
               COUNT(*) AS new_tokens
        FROM first_seen, bounds GROUP BY 1
    )
    SELECT CAST(d.batch AS INT) AS batch,
           CAST(d.n_docs AS BIGINT) AS n_docs,
           CAST(COALESCE(t.new_tokens, 0) AS BIGINT) AS new_tokens,
           CAST(COALESCE((SELECT SUM(COALESCE(t2.new_tokens, 0))
                          FROM tok_batches t2 WHERE t2.batch <= d.batch),
                         0)
                AS BIGINT) AS cum_vocab
    FROM doc_batches d LEFT JOIN tok_batches t ON t.batch = d.batch
    """,
)
def vocab_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary novelty curve (M182): split the corpus into 10
    equal-width ingest batches (doc_id stands in for crawl order) and
    count the tokens FIRST seen in each batch plus the cumulative
    vocabulary — the Heaps'-law growth curve that answers "is new data
    still bringing new language, or are we re-crawling the same
    vocabulary?" (a flattening curve is the data-acquisition stop
    signal; a spike mid-curve flags a source switch or an encoding
    break).

    Exactness: batch assignment is pure integer arithmetic
    ((id − lo)·10 div (hi − lo + 1), capped at 9) against broadcast
    exact bounds; all counts exact BIGINTs; the cumulative is a
    10×10 triangular self-join — no window, no division anywhere.

    Scale: per-doc distinct tokens then a token-keyed MIN(doc_id)
    aggregate — the word-count shuffle shape; everything after runs
    on ≤10 rows.  First-seen-doc per token is itself the useful
    byproduct (the "which batch introduced this term" index).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokenize(F.col("text")))).alias("token"),
    )
    first_seen = toks.groupBy("token").agg(
        F.min("doc_id").cast("long").alias("fd")
    )
    bounds = docs.agg(
        F.min("doc_id").cast("long").alias("lo"),
        F.max("doc_id").cast("long").alias("hi"),
    )
    doc_batches = (
        docs.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.least(
                F.expr("(doc_id - lo) * 10 div (hi - lo + 1)"), F.lit(9)
            ).alias("batch")
        )
        .agg(F.count("*").alias("n_docs"))
    )
    tok_batches = (
        first_seen.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.least(
                F.expr("(fd - lo) * 10 div (hi - lo + 1)"), F.lit(9)
            ).alias("batch")
        )
        .agg(F.count("*").alias("new_tokens"))
    )
    cum = (
        doc_batches.alias("d")
        .join(
            tok_batches.alias("t2"),
            F.col("t2.batch") <= F.col("d.batch"),
            "left",
        )
        .groupBy(F.col("d.batch").alias("batch"))
        .agg(
            F.sum(F.coalesce(F.col("t2.new_tokens"), F.lit(0)))
            .cast("long")
            .alias("cum_vocab")
        )
    )
    return (
        doc_batches.join(tok_batches, "batch", "left")
        .join(cum, "batch")
        .select(
            F.col("batch").cast("int").alias("batch"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.coalesce("new_tokens", F.lit(0))
            .cast("long")
            .alias("new_tokens"),
            "cum_vocab",
        )
    )


@query(
    "jaccard_threshold_sweep",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {token_set_sql('text')} AS s
        FROM documents
    ),
    sized AS (SELECT * FROM toks WHERE len(s) > 0
               AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '1'),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / (len(a.s) + len(b.s)
                        - len(list_intersect(a.s, b.s))), 6) AS sim
        FROM sized a JOIN sized b ON b.doc_id > a.doc_id
        WHERE 10 * len(list_intersect(a.s, b.s))
              >= 7 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
    ),
    ths AS (SELECT unnest([70, 80, 90]) AS threshold_pct),
    flagged AS (
        SELECT threshold_pct, a_id, b_id FROM pairs, ths
        WHERE sim >= threshold_pct / 100.0
    ),
    pair_counts AS (
        SELECT threshold_pct, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM flagged GROUP BY threshold_pct
    ),
    doc_counts AS (
        SELECT threshold_pct,
               CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs_flagged
        FROM (
            SELECT threshold_pct, a_id AS id FROM flagged
            UNION ALL
            SELECT threshold_pct, b_id AS id FROM flagged
        ) GROUP BY threshold_pct
    )
    SELECT CAST(t.threshold_pct AS INT) AS threshold_pct,
           CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(d.n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged
    FROM ths t
    LEFT JOIN pair_counts p ON p.threshold_pct = t.threshold_pct
    LEFT JOIN doc_counts d ON d.threshold_pct = t.threshold_pct
    """,
)
def jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold sweep (M200): pair volume and flagged-doc
    count at Jaccard 0.7 / 0.8 / 0.9 — the dedup knob table read
    before committing a similarity cutoff (M18's fixed 0.9 is a
    policy; this is the curve the policy debate reads: every 0.05 of
    threshold buys/costs this many documents).  The M172 sweep
    pattern applied to the dedup axis.

    Candidates are generated ONCE at the loosest threshold via the
    same prefix-filter rule as `jaccard_threshold_join` (exact
    integer prefix length, no all-pairs), then each threshold is a
    conditional count over the rounded sims — both engines compare
    the identical 6-dp doubles, and missing-threshold rows backfill
    zero via the left join from the literal threshold table.

    The sweep runs on a deterministic md5-range 1/8 document sample
    at EVERY tier (both sides share the predicate): a tuning sweep
    needs the curve's SHAPE, not the full count — production tunes
    thresholds on a sample too, because the loose end of the sweep
    (0.7) generates ~an order of magnitude more candidates than the
    committed threshold ever will (measured here: full-corpus 0.7
    candidate generation on the small-vocab fixture is 10x the
    subset cost).  Scale pair counts by ~64 and doc counts by ~8 to
    estimate full-corpus volumes.

    Scale: one prefix-filtered candidate join (vocabulary-frequency
    broadcast, per-doc bounded prefixes) + a 3-row broadcast cross
    join + two bounded aggregates.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) <= "1"
    )
    # the candidate pipeline feeds TWO aggregates (pair counts and
    # distinct-doc counts); checkpoint the ~|pairs| survivors once
    # instead of running prefix-filter + verification twice (the
    # multimodal decode-once localCheckpoint pattern)
    pairs = (
        prefix_filtered_jaccard_join(docs, 7, 10)
        .select("a_id", "b_id", F.col("jaccard_sim").alias("sim"))
        .localCheckpoint()
    )
    ths = spark.createDataFrame(
        [(70,), (80,), (90,)], "threshold_pct int"
    )
    flagged = pairs.crossJoin(F.broadcast(ths)).where(
        F.col("sim") >= F.col("threshold_pct") / F.lit(100.0)
    )
    pair_counts = flagged.groupBy("threshold_pct").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    doc_counts = (
        flagged.select(
            "threshold_pct",
            F.explode(F.array("a_id", "b_id")).alias("id"),
        )
        .groupBy("threshold_pct")
        .agg(F.countDistinct("id").cast("long").alias("n_docs_flagged"))
    )
    return (
        ths.join(pair_counts, "threshold_pct", "left")
        .join(doc_counts, "threshold_pct", "left")
        .select(
            F.col("threshold_pct").cast("int").alias("threshold_pct"),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_flagged", F.lit(0))
            .cast("long")
            .alias("n_docs_flagged"),
        )
    )


@query(
    "truncation_loss_audit",
    oracle=rf"""
    WITH t AS (
        SELECT source,
               len({tokens_sql('text')}) AS n
        FROM documents
    ),
    sweep AS (
        SELECT t.source, l.max_len, t.n,
               greatest(t.n - l.max_len, 0) AS lost
        FROM t CROSS JOIN (SELECT CAST(unnest([32, 64, 96]) AS INTEGER)
                               AS max_len) l
    )
    SELECT source, max_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN lost > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_truncated,
           CAST(SUM(n) AS BIGINT) AS tokens_total,
           CAST(SUM(lost) AS BIGINT) AS tokens_lost,
           CAST(1000000 * SUM(lost) // SUM(n) AS BIGINT) AS loss_ppm
    FROM sweep GROUP BY source, max_len
    """,
)
def truncation_loss_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length truncation loss (M218): for each source and each
    candidate max sequence length, how many documents get cut and what
    fraction of their tokens falls off the end — THE table read before
    fixing a training context length (too short burns data you paid to
    collect and dedup; too long burns attention compute on padding;
    the right L is a per-source judgment this sweep makes visible —
    e.g. a code source with long files suffers 10x the loss of a chat
    source at the same L).

    One tokenize pass; the 3-length sweep is a broadcast literal cross
    join BEFORE aggregation, so the corpus is scanned once, map-only,
    and the shuffle carries |sources|x|lengths| groups.  Loss fraction
    as exact integer ppm (the registry's micro-int discipline).
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", F.size(tokenize(F.col("text"))).alias("n")
    )
    lens = spark.range(1).select(
        F.explode(F.array(F.lit(32), F.lit(64), F.lit(96))).alias("max_len")
    )
    sweep = t.crossJoin(F.broadcast(lens)).select(
        "source",
        "max_len",
        "n",
        F.greatest(F.col("n") - F.col("max_len"), F.lit(0)).alias("lost"),
    )
    return sweep.groupBy("source", "max_len").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("lost") > 0).cast("long")).alias("n_truncated"),
        F.sum("n").alias("tokens_total"),
        F.sum("lost").alias("tokens_lost"),
        F.expr("1000000 * sum(lost) div sum(n)").alias("loss_ppm"),
    )


@query(
    "length_bucket_padding_sweep",
    oracle=rf"""
    WITH t AS (
        SELECT len({tokens_sql('text')}) AS n
        FROM documents
    ),
    bounds AS (
        SELECT CAST(MIN(n) AS BIGINT) AS lo, CAST(MAX(n) AS BIGINT) AS hi
        FROM t
    ),
    sweep AS (
        SELECT k.k, t.n,
               least((t.n - b.lo) * k.k // (b.hi - b.lo + 1), k.k - 1)
                   AS bucket
        FROM t, bounds b
        CROSS JOIN (SELECT CAST(unnest([1, 2, 4, 8]) AS INTEGER) AS k) k
    ),
    per_bucket AS (
        SELECT k, bucket, COUNT(*) AS n_docs, MAX(n) AS bucket_max,
               SUM(n) AS real_tokens
        FROM sweep GROUP BY k, bucket
    )
    SELECT k AS n_buckets,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(real_tokens) AS BIGINT) AS real_tokens,
           CAST(SUM(n_docs * bucket_max) AS BIGINT) AS padded_tokens,
           CAST(1000000 * (SUM(n_docs * bucket_max) - SUM(real_tokens))
                // SUM(n_docs * bucket_max) AS BIGINT) AS waste_ppm
    FROM per_bucket GROUP BY k
    """,
)
def length_bucket_padding_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching economics (M219): if batches are formed
    WITHIN each of k equal-width length buckets and every sequence pads
    to its bucket's max, how much compute is padding?  The k=1 row is
    naive global batching (pad everything to the corpus max — the
    worst case); each doubling of k recovers waste, and the curve's
    knee is the bucket count a trainer should configure.  Complements
    `packing_waste_audit` (which packs multiple docs into one context;
    this buckets docs that each keep their own sequence).

    Exactness: equi-width bucket assignment is the integer expression
    `quantile_bin_features` pinned ((n−lo)·k div (hi−lo+1), capped);
    waste is exact integer ppm.  Scale: one tokenize scan, a broadcast
    4-row sweep join, and a (k·buckets)-group aggregate — map-side
    combined, no windows, no per-doc state.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(F.size(tokenize(F.col("text"))).alias("n"))
    bounds = t.agg(
        F.min("n").cast("long").alias("lo"),
        F.max("n").cast("long").alias("hi"),
    )
    ks = spark.range(1).select(
        F.explode(
            F.array(F.lit(1), F.lit(2), F.lit(4), F.lit(8))
        ).alias("k")
    )
    sweep = (
        t.crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(ks))
        .select(
            "k",
            "n",
            F.least(
                F.expr("(n - lo) * k div (hi - lo + 1)"),
                F.col("k") - 1,
            ).alias("bucket"),
        )
    )
    per_bucket = sweep.groupBy("k", "bucket").agg(
        F.count("*").alias("n_docs"),
        F.max("n").alias("bucket_max"),
        F.sum("n").alias("real_tokens"),
    )
    return per_bucket.groupBy(F.col("k").cast("int").alias("n_buckets")).agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("real_tokens").alias("real_tokens"),
        F.sum(F.col("n_docs") * F.col("bucket_max")).alias("padded_tokens"),
        F.expr(
            "1000000 * (sum(n_docs * bucket_max) - sum(real_tokens))"
            " div sum(n_docs * bucket_max)"
        ).alias("waste_ppm"),
    )


@query(
    "dataset_card_profile",
    oracle=rf"""
    WITH base AS (
        SELECT source, lang, n_chars, md5(text) AS digest,
               len({tokens_sql('text')}) AS n_toks
        FROM documents
    ),
    per_source AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(COUNT(DISTINCT digest) AS BIGINT) AS distinct_texts,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        FROM base GROUP BY source
    ),
    lang_counts AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS nl
        FROM base GROUP BY source, lang
    ),
    top_lang AS (
        SELECT source, lang AS top_lang, nl FROM (
            SELECT source, lang, nl,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY nl DESC, lang) AS rk
            FROM lang_counts
        ) WHERE rk = 1
    )
    SELECT p.source, p.n_docs, p.n_tokens, p.total_chars,
           p.distinct_texts,
           (2000000 * (p.n_docs - p.distinct_texts) + p.n_docs)
               // (2 * p.n_docs) AS dup_ppm,
           (2 * p.total_chars + p.n_docs) // (2 * p.n_docs)
               AS mean_chars,
           p.n_langs, t.top_lang,
           (2000000 * t.nl + p.n_docs) // (2 * p.n_docs)
               AS top_lang_share_ppm
    FROM per_source p JOIN top_lang t ON p.source = t.source
    """,
)
def dataset_card_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card (M257): the datasheet table a training
    mix is negotiated over — docs, tokens, chars, exact-dup rate,
    language spread, and dominant language per source, in ONE pass.
    Composes the signals the corpus family computes separately
    (source_token_budget M4, line_dedup M17, lang profiles I12) into
    the artifact a data-governance review actually reads.

    Exactness: token counts from the shared whitespace tokenizer;
    dup/share/mean as engine-neutral half-up integer ppm over exact
    BIGINT counts; top-language tie-breaks (count DESC, lang ASC).
    Scale: one map-side projection feeding two source-keyed aggregates
    (the distincts expand to standard two-level partials) and a
    |sources|-row argmax join — no windows on data, no driver state.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        "n_chars",
        F.md5("text").alias("digest"),
        F.size(tokenize(F.col("text"))).alias("n_toks"),
    )
    per_source = base.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.count_distinct("digest").cast("long").alias("distinct_texts"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
    )
    lang_counts = base.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("nl")
    )
    top_lang = (
        lang_counts.groupBy("source")
        .agg(
            F.min(
                F.struct(
                    (-F.col("nl")).alias("neg"), F.col("lang").alias("lg")
                )
            ).alias("b")
        )
        .select(
            "source",
            F.col("b.lg").alias("top_lang"),
            (-F.col("b.neg")).alias("nl"),
        )
    )
    return per_source.join(top_lang, "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "total_chars",
        "distinct_texts",
        F.expr(
            "(2000000 * (n_docs - distinct_texts) + n_docs)"
            " div (2 * n_docs)"
        ).alias("dup_ppm"),
        F.expr("(2 * total_chars + n_docs) div (2 * n_docs)").alias(
            "mean_chars"
        ),
        "n_langs",
        "top_lang",
        F.expr("(2000000 * nl + n_docs) div (2 * n_docs)").alias(
            "top_lang_share_ppm"
        ),
    )
