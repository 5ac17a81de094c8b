"""Text / search / suggestion operators (SURVEY.md §2.I).

The reference's domain is a text search + query-suggestion pipeline
(SURVEY.md §0.1); these operators re-express that domain as pure
DataFrame algebra so Catalyst optimizes them like any relational query
(and the DuckDB oracle can check them).

Scale notes: everything here is explode + hash-aggregate — the canonical
shuffle-heavy text shape.  Partial aggregation (map-side combine) does
the heavy lifting: term counts reduce from |tokens| rows to |vocab| per
partition before the shuffle.  IDF/doc-frequency tables are tiny
(|vocab|) and always broadcastable to the TF side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Shared normalization regex — identical literal on the oracle side
#: (SURVEY.md §7.4.5: keep to the POSIX/RE2-safe common dialect).
NON_WORD_RE = "[^a-z0-9 ]"
#: The tokenizer's whitespace class, spelled out: Java reads ``\s`` as
#: these six characters and RE2 (DuckDB) as five of them, without the
#: vertical tab, so ``\s+`` split ``'a\x0bb'`` differently per engine.
WS_RE = r"[ \t\n\x0B\f\r]+"
#: BM25 term-saturation and length-normalization constants (the
#: Lucene/ES defaults); ``bm25_search``'s oracle spells the same values.
BM25_K1 = 1.2
BM25_B = 0.75


def normalize_text(c: Column) -> Column:
    """I1: lowercase, strip non-alphanumerics, collapse whitespace."""
    cleaned = F.regexp_replace(F.lower(c), NON_WORD_RE, " ")
    return F.trim(F.regexp_replace(cleaned, WS_RE, " "))


def tokenize(c: Column) -> Column:
    """I2: whitespace-split into array<string>, dropping empty tokens."""
    return F.filter(F.split(c, WS_RE), lambda t: t != "")


def tokens_sql(col: str) -> str:
    """DuckDB spelling of :func:`tokenize` over the SQL expression
    ``col``, rendered into each oracle string (an oracle runs alone on
    a fresh DuckDB connection, so it cannot rely on a macro)."""
    return f"list_filter(string_split_regex({col}, '{WS_RE}'), t -> t <> '')"


def token_set_sql(col: str) -> str:
    """DuckDB spelling of ``array_distinct(tokenize(col))``."""
    return f"list_distinct({tokens_sql(col)})"


def tokens_df(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, token) exploded long form."""
    return docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("token"))


def term_freq(docs: DataFrame) -> DataFrame:
    """I5: corpus-level term frequency (token, tf)."""
    return (
        tokens_df(docs)
        .groupBy("token")
        .agg(F.count("*").alias("tf"))
    )


def doc_freq(docs: DataFrame) -> DataFrame:
    """I6: document frequency (token, df) — one count per containing doc."""
    return (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(tokenize(F.col("text")))).alias("token"),
        )
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )


def tf_idf(docs: DataFrame) -> DataFrame:
    """I7: per-(doc, token) tf·idf with idf = ln((N+1)/(df+1)) + 1.

    The df table is |vocab|-sized → broadcast join against the per-doc
    TF side; no shuffle of the large side beyond its own groupBy.
    """
    n_docs = docs.select(F.countDistinct("doc_id").alias("n")).first()["n"]
    per_doc_tf = (
        tokens_df(docs)
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = doc_freq(docs)
    idf = F.log((F.lit(float(n_docs) + 1.0)) / (F.col("df") + 1.0)) + 1.0
    return per_doc_tf.join(F.broadcast(dfreq), "token").select(
        "doc_id",
        "token",
        "tf",
        "df",
        F.round(F.col("tf") * idf, 6).alias("tf_idf"),
    )


def ngrams(tokens: Column, n: int) -> Column:
    """I4: n-gram shingles of a token array (space-joined strings).

    Shifted ``zip_with`` construction, NOT transform-over-indices
    (r6): a lambda body referencing the ``tokens`` expression re-runs
    it per ELEMENT (HOFs are interpreted, no subexpression caching) —
    with ``tokens`` = a regex tokenize, the old index form cost
    O(|tokens|) tokenize evaluations per row and was the single
    hottest expression in the dedup funnel (measured ~3 s of the 4.6 s
    LSH stage at sf0.1).  ``zip_with`` evaluates each input array once,
    so ``tokens`` is evaluated n times per row total.  Trailing
    positions (< n tokens left) null-propagate through ``concat`` and
    are filtered, which also short-circuits arrays shorter than n.
    """
    grams = tokens
    for k in range(1, n):
        shifted = F.slice(tokens, k + 1, F.greatest(F.size(tokens) - k, F.lit(0)))
        grams = F.zip_with(
            grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.filter(grams, lambda g: g.isNotNull())


def bm25_scores(docs: DataFrame, terms: list[str]) -> DataFrame:
    """I11: BM25 ranking of documents for a bag-of-terms query.

    score(d) = Σ_t  idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) and k1/b =
    ``BM25_K1``/``BM25_B`` (SURVEY.md §2.I11).

    Shape at scale: per-doc TF of only the query terms (explode +
    filter + groupBy), df per term (tiny, broadcast), one final agg per
    doc.  N and avgdl are scalar aggregates (two cheap jobs).
    """
    toks = tokenize(F.col("text"))
    with_len = docs.select(
        "doc_id", F.explode(toks).alias("token"), F.size(toks).alias("dl")
    )
    stats = docs.select(
        F.count("*").alias("n"),
        F.sum(F.size(toks)).alias("total_dl"),
    ).first()
    n_docs = stats["n"]
    avgdl = stats["total_dl"] / n_docs  # IEEE division, mirrored in oracle

    tf = (
        with_len.filter(F.col("token").isin(terms))
        .groupBy("doc_id", "token", "dl")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(tokenize(F.col("text")))).alias("token"),
        )
        .filter(F.col("token").isin(terms))
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    idf = F.log(
        1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_d = F.col("tf").cast("double")
    k1, b = BM25_K1, BM25_B
    denom = tf_d + k1 * (1.0 - b + b * (F.col("dl").cast("double") / F.lit(avgdl)))
    contrib = idf * (tf_d * (k1 + 1.0)) / denom
    # decimal-exact term sum: addition order independent (SURVEY §7.4.1)
    return (
        tf.join(F.broadcast(dfreq), "token")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(contrib.cast("decimal(38,12)")).cast("double"), 6
            ).alias("bm25")
        )
    )


#: PII patterns (RE2/POSIX-safe, shared dialect — SURVEY §7.4.5).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\-\s]{6,}[0-9]",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
}


def scrub_pii(c: Column) -> Column:
    """Corpus-hygiene redaction: replace email/phone/SSN spans with
    typed placeholders (``<EMAIL>``, ``<PHONE>``, ``<SSN>``).

    Pure ``regexp_replace`` chain — JVM-side, codegen-fused, zero
    shuffle; order matters (SSN before phone: an SSN is also a
    phone-shaped digit run).
    """
    out = F.regexp_replace(c, PII_PATTERNS["email"], "<EMAIL>")
    out = F.regexp_replace(out, PII_PATTERNS["ssn"], "<SSN>")
    out = F.regexp_replace(out, PII_PATTERNS["phone"], "<PHONE>")
    return out


def pii_counts(c: Column) -> Column:
    """Struct of per-category PII match counts (audit metric for the
    scrub stage).  Counts follow the same precedence as
    :func:`scrub_pii` (each category counted on text already redacted
    by the earlier ones), so an SSN never double-counts as a phone."""
    email_n = F.size(
        F.regexp_extract_all(c, F.lit(PII_PATTERNS["email"]), F.lit(0))
    )
    after_email = F.regexp_replace(c, PII_PATTERNS["email"], "<EMAIL>")
    ssn_n = F.size(
        F.regexp_extract_all(after_email, F.lit(PII_PATTERNS["ssn"]), F.lit(0))
    )
    after_ssn = F.regexp_replace(after_email, PII_PATTERNS["ssn"], "<SSN>")
    phone_n = F.size(
        F.regexp_extract_all(after_ssn, F.lit(PII_PATTERNS["phone"]), F.lit(0))
    )
    return F.struct(
        email_n.alias("email"), phone_n.alias("phone"), ssn_n.alias("ssn")
    )
