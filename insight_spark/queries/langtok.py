"""Language identification + tokenizer training (SURVEY §2.M99-M100).

Two model-fitting ops over the corpus itself:

- ``langid_trigram_predict`` upgrades the marker-word heuristic
  (``lang_id_heuristic``) to real per-language character-trigram
  profiles — the fastText-style n-gram route every production
  language-ID takes.
- ``bpe_train_merges`` upgrades the single pair-count round
  (``bpe_merge_pairs``) to an actual iterative BPE trainer: 3 merge
  rules learned greedily, each applied back to the vocabulary before
  the next count.

Both follow the driver-resident-model discipline (kmeans/logreg
precedent): distributed aggregates produce bounded model state (a
|langs|×T profile table, one merge rule per round), which re-enters
the plan as broadcast/literals — never a driver-side loop over data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from insight_spark.operators.text import tokenize, tokens_df, tokens_sql
from insight_spark.queries import query
from insight_spark.sources import load_table

#: Trigrams kept per language profile.
_PROFILE_TOP = 50

#: BPE merge rounds learned (and replayed by the oracle).
_BPE_ROUNDS = 3

#: Symbol separator for the BPE fold-free merge application.  The
#: corpus alphabet is [a-y ] (measured), so '|' never collides.  Every
#: symbol boundary carries a DOUBLE separator ("||a||b||"): a merge
#: pattern "|a||b|" then consumes one separator from each boundary it
#: touches, leaving one behind — so plain left-to-right non-overlapping
#: REPLACE implements exactly the greedy BPE pass, identically in
#: Spark and DuckDB, with no sequential fold anywhere.
_SEP = "|"


@query(
    "langid_trigram_predict",
    oracle=f"""
    WITH tris AS (
        SELECT doc_id, lang,
               list_transform(range(1, len(text) - 1),
                              i -> substr(text, i, 3)) AS ts
        FROM documents WHERE len(text) >= 3
    ),
    occurrences AS (
        SELECT lang, unnest(ts) AS tri FROM tris
    ),
    profile AS (
        SELECT lang AS cand_lang, tri FROM (
            SELECT lang, tri, ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY COUNT(*) DESC, tri) AS rk
            FROM occurrences GROUP BY lang, tri
        ) WHERE rk <= {_PROFILE_TOP}
    ),
    doc_tris AS (
        SELECT doc_id, lang, unnest(list_distinct(ts)) AS tri FROM tris
    ),
    matches AS (
        SELECT d.doc_id, d.lang, p.cand_lang,
               CAST(COUNT(*) AS BIGINT) AS n_matched
        FROM doc_tris d JOIN profile p USING (tri)
        GROUP BY d.doc_id, d.lang, p.cand_lang
    )
    SELECT doc_id, lang, cand_lang AS pred_lang, n_matched
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY doc_id
                   ORDER BY n_matched DESC, cand_lang) AS rk
        FROM matches
    ) WHERE rk = 1
    """,
)
def langid_trigram_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID: build a top-{50} trigram profile
    per language from the (labeled) corpus, then classify every
    document by how many of its distinct trigrams hit each profile —
    argmax with deterministic (count desc, lang asc) tie-break.

    Scale shape: profile building is a word-count aggregate to
    |langs|×T rows (KB-sized model state, broadcast back — the
    fastText/CLD ship-the-model topology); classification is one
    distinct-trigram explode, a broadcast join against the profile,
    and a doc-key aggregate + doc-partitioned argmax window.  Nothing
    global, no Python.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 3
    )
    tris = docs.select(
        "doc_id",
        "lang",
        F.transform(
            F.sequence(F.lit(1), F.length("text") - 2),
            lambda i: F.substring("text", i, 3),
        ).alias("ts"),
    )
    occ = tris.select("lang", F.explode("ts").alias("tri"))
    w_prof = Window.partitionBy("lang").orderBy(
        F.desc("cnt"), "tri"
    )
    profile = (
        occ.groupBy("lang", "tri")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rk", F.row_number().over(w_prof))
        .filter(F.col("rk") <= _PROFILE_TOP)
        .select(F.col("lang").alias("cand_lang"), "tri")
    )
    doc_tris = tris.select(
        "doc_id", "lang", F.explode(F.array_distinct("ts")).alias("tri")
    )
    matches = (
        doc_tris.join(F.broadcast(profile), "tri")
        .groupBy("doc_id", "lang", "cand_lang")
        .agg(F.count("*").alias("n_matched"))
    )
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.desc("n_matched"), "cand_lang"
    )
    return (
        matches.withColumn("rk", F.row_number().over(w_doc))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id", "lang", F.col("cand_lang").alias("pred_lang"), "n_matched"
        )
    )


def _bpe_oracle() -> str:
    """DuckDB replay of the 3-round greedy BPE trainer: identical
    vocab seeding, pair counting, (freq desc, l, r) tie-break, and the
    double-separator REPLACE merge application."""
    rounds = []
    prev = "v0"
    for r in range(1, _BPE_ROUNDS + 1):
        rounds.append(
            f"""
    pairs{r} AS (
        SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(wf) AS BIGINT) AS freq
        FROM (
            SELECT wf, unnest(list_transform(range(1, len(syms)),
                                             i -> [syms[i], syms[i+1]])) AS pr
            FROM (
                SELECT wf, list_filter(string_split(s, '||'), x -> x <> '')
                           AS syms
                FROM {prev}
            ) WHERE len(syms) >= 2
        ) GROUP BY pr[1], pr[2]
    ),
    best{r} AS (
        SELECT l, r, freq FROM pairs{r}
        ORDER BY freq DESC, l, r LIMIT 1
    ),
    v{r} AS (
        SELECT word, wf,
               replace(s, '|' || b.l || '||' || b.r || '|',
                          '|' || b.l || b.r || '|') AS s
        FROM {prev} CROSS JOIN best{r} b
    )"""
        )
        prev = f"v{r}"
    merge_union = "\n        UNION ALL ".join(
        f"SELECT {r} AS rank, l AS left_sym, r_ AS right_sym, freq FROM "
        f"(SELECT l, r AS r_, freq FROM best{r})"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return rf"""
    WITH toks AS (
        SELECT unnest({tokens_sql('text')}) AS token
        FROM documents
    ),
    v0 AS (
        SELECT token AS word, CAST(COUNT(*) AS BIGINT) AS wf,
               '||' || list_aggregate(
                   list_transform(range(1, len(token) + 1),
                                  i -> substr(token, i, 1)),
                   'string_agg', '||') || '||' AS s
        FROM toks GROUP BY token
    ),{",".join(rounds)},
    final_stat AS (
        SELECT CAST(SUM(wf * len(list_filter(string_split(s, '||'),
                                             x -> x <> ''))) AS BIGINT)
                   AS corpus_symbols
        FROM v{_BPE_ROUNDS}
    )
    SELECT CAST(rank AS INTEGER) AS rank, left_sym, right_sym,
           left_sym || right_sym AS merged, freq,
           (SELECT corpus_symbols FROM final_stat) AS corpus_symbols
    FROM ({merge_union})
    """


def _bpe_syms() -> Column:
    """Symbol array of the double-separated form ("||a||b||" → [a, b])."""
    return F.filter(F.split("s", r"\|\|"), lambda x: x != "")


def _bpe_train(
    docs: DataFrame,
) -> tuple[DataFrame, list[tuple[int, str, str, int]]]:
    """The shared 3-round greedy BPE trainer (single source of truth —
    ``bpe_train_merges`` reports the learned rules,
    ``bpe_apply_compression`` rolls the vocabulary back onto the
    corpus; any tie-break or separator-discipline change lands in both
    and in lock-step with ``_bpe_oracle``'s replay).

    Returns ``(vocab_df, merges)``: vocab_df is (word, wf, s) with all
    merges applied; merges is the [(rank, left, right, freq)] rule
    list.  Each round's argmax is ONE collected row (driver-resident
    model state, the kmeans/logreg precedent); everything else is
    vocab-sized aggregates with lineage truncated per round.
    """
    words = tokens_df(docs).groupBy("token").agg(F.count("*").alias("wf"))
    s0 = F.concat(
        F.lit(_SEP * 2),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.length("token")),
                lambda i: F.substring("token", i, 1),
            ),
            _SEP * 2,
        ),
        F.lit(_SEP * 2),
    )
    cur = words.select(
        F.col("token").alias("word"), "wf", s0.alias("s")
    ).localCheckpoint()  # vocab-sized; truncates lineage across rounds

    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, _BPE_ROUNDS + 1):
        pairs = (
            cur.select("wf", _bpe_syms().alias("syms"))
            .filter(F.size("syms") >= 2)
            .select(
                "wf",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.element_at("syms", i).alias("l"),
                            F.element_at("syms", i + 1).alias("r"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("wf").alias("freq"))
        )
        best = pairs.orderBy(F.desc("freq"), "l", "r").limit(1).collect()[0]
        merges.append((r, best["l"], best["r"], int(best["freq"])))
        pat = _SEP + best["l"] + _SEP * 2 + best["r"] + _SEP
        rep = _SEP + best["l"] + best["r"] + _SEP
        # pat/rep contain only [a-y|] so repr() is a valid SQL literal.
        # r13 (VERDICT r12 task 6): NO per-round localCheckpoint — the
        # apply is one REPLACE expression over the already-checkpointed
        # vocab table, so round r's pair count evaluates a depth-(r-1)
        # replace chain on |vocab| rows instead of paying a
        # materialization JOB per round.  Jobs/round: 2 (argmax collect
        # + checkpoint) → 1 (argmax collect); merge sequence bit-equal
        # because the chain is the same deterministic arithmetic the
        # checkpoint used to freeze.  Lineage depth is bounded by
        # _BPE_ROUNDS (3) — re-checkpoint per round only if the round
        # count ever grows enough for plan depth to matter.
        cur = cur.select(
            "word",
            "wf",
            F.expr(f"replace(s, {pat!r}, {rep!r})").alias("s"),
        )
    return cur, merges


@query("bpe_train_merges", oracle=_bpe_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer training — {3} greedy merge rounds, each
    counting corpus-weighted adjacent-symbol pairs on the VOCABULARY
    (never the token stream), taking the (freq desc, pair asc) argmax
    as the next rule, and applying it before the next count.

    The merge application is fold-free: symbols live in a
    double-separated string ("||a||b||"), so one plain REPLACE of
    "|a||b|" → "|ab|" performs exactly the greedy left-to-right merge
    pass (each boundary donates one of its two separators to the
    match, leaving one for the next adjacent match) — identical
    semantics in Spark and DuckDB, no UDF, no recursion.

    Model topology (kmeans/logreg precedent): each round's argmax is
    ONE collected row (the merge rule — driver-resident model state);
    everything else is vocab-sized aggregates.  At 100 TB the single
    token-count shuffle reduces the corpus to |vocab| rows up front
    and all {3} rounds are arithmetic on that table; output carries
    the learned merge table plus the distributed post-merge corpus
    symbol count (verification value, computed not asserted).
    """
    docs = load_table(spark, sf_dir, "documents")
    cur, merges = _bpe_train(docs)
    stat = cur.select(
        (F.col("wf") * F.size(_bpe_syms())).alias("ns")
    ).agg(F.sum("ns").alias("corpus_symbols"))
    rows = spark.createDataFrame(
        [
            (r, l, rr, l + rr, f)
            for (r, l, rr, f) in merges
        ],
        "rank int, left_sym string, right_sym string, merged string, freq long",
    )
    return rows.crossJoin(F.broadcast(stat))


def _bpe_apply_oracle() -> str:
    """Extends the trainer replay: after the 3 learned merges, roll the
    per-word symbol counts back onto the corpus per source."""
    base = _bpe_oracle()
    # reuse everything up to v{rounds}; replace the final SELECT
    head = base[: base.rindex("SELECT CAST(rank AS INTEGER)")]
    return (
        head
        + f""", corpus AS (
        SELECT source,
               unnest({tokens_sql('text')}) AS token
        FROM documents
    ),
    word_syms AS (
        SELECT word,
               CAST(len(list_filter(string_split(s, '||'), x -> x <> ''))
                    AS BIGINT) AS n_syms,
               CAST(len(word) AS BIGINT) AS n_chars
        FROM v{_BPE_ROUNDS}
    )
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(w.n_chars) AS BIGINT) AS chars_before,
           CAST(SUM(w.n_syms) AS BIGINT) AS syms_after,
           ROUND(CAST(SUM(w.n_chars) AS DOUBLE) / SUM(w.n_syms), 6)
               AS compression
    FROM corpus c JOIN word_syms w ON c.token = w.word
    GROUP BY c.source
    """
    )


@query("bpe_apply_compression", oracle=_bpe_apply_oracle())
def bpe_apply_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE train→APPLY lifecycle: run the same 3-round trainer, then
    roll the learned segmentation back onto the corpus — per-source
    character count vs post-merge symbol count, i.e. the compression
    the tokenizer actually buys on each slice (the number a tokenizer
    team tracks per data source before committing a vocab).

    Scale shape: the apply step never re-tokenizes the corpus — the
    vocabulary table (word → post-merge symbol count) broadcasts back
    onto the corpus token stream, so application costs one
    broadcast-join + one |sources|-row aggregate regardless of how
    many merges were learned.
    """
    docs = load_table(spark, sf_dir, "documents")
    cur, _ = _bpe_train(docs)
    word_syms = cur.select(
        "word",
        F.size(_bpe_syms()).cast("long").alias("n_syms"),
        F.length("word").cast("long").alias("n_chars"),
    )
    corpus = docs.select(
        "source", F.explode(tokenize(F.col("text"))).alias("token")
    )
    return (
        corpus.join(
            F.broadcast(word_syms), corpus.token == word_syms.word
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("n_chars").alias("chars_before"),
            F.sum("n_syms").alias("syms_after"),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("n_syms"), 6
            ).alias("compression"),
        )
    )


@query(
    "vocab_coverage_curve",
    oracle=rf"""
    WITH counts AS (
        SELECT t AS token, COUNT(*) AS freq
        FROM (SELECT unnest({tokens_sql('text')}) AS t
              FROM documents)
        GROUP BY t
    ),
    ordered AS (
        SELECT freq,
               SUM(freq) OVER (ORDER BY freq DESC, token
                               ROWS UNBOUNDED PRECEDING) AS cum,
               ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rk
        FROM counts
    ),
    tot AS (SELECT SUM(freq) AS total, COUNT(*) AS vocab FROM counts)
    SELECT CAST(tot.total AS BIGINT) AS total_tokens,
           CAST(tot.vocab AS BIGINT) AS vocab_size,
           CAST(MIN(CASE WHEN 100 * cum >= 50 * tot.total THEN rk END)
                AS BIGINT) AS n_tokens_50,
           CAST(MIN(CASE WHEN 100 * cum >= 90 * tot.total THEN rk END)
                AS BIGINT) AS n_tokens_90,
           CAST(MIN(CASE WHEN 100 * cum >= 99 * tot.total THEN rk END)
                AS BIGINT) AS n_tokens_99
    FROM ordered, tot
    GROUP BY tot.total, tot.vocab
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve (M139): how many distinct tokens —
    taken most-frequent-first — cover 50 / 90 / 99 % of all token
    occurrences.  The tokenizer-budget / OOV-planning number every
    vocab decision starts from.

    The interesting part is HOW the global cumulative is computed
    without the global-window scale-killer (the repo's plan lint
    forbids it): the two-level prefix-offset pattern
    (ks_distribution_shift's idiom).  Tokens band by a monotone
    coarsening of frequency — decimal digit count, so band order IS
    frequency order — cumulative sums and ranks run in windows
    PARTITIONED per band, and each band adds the |bands|²-bounded
    prefix offset of all higher bands (a tiny self-join, no window).
    Global cum/rank = band offset + within-band value, exactly.  The
    long-tail band (freq 1) is the largest single window, but it is
    VOCAB-sized, not corpus-sized — and thresholds <= 99 % rarely
    reach past the head bands.  All comparisons are exact integer
    arithmetic (100·cum >= t·total).
    """
    docs = load_table(spark, sf_dir, "documents")
    # vocab-sized aggregate feeding three consumers (bands, rollup,
    # implicitly the offsets) — checkpoint once instead of three
    # corpus tokenize+explode+count passes
    counts = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .localCheckpoint()
    )
    digits = F.length(F.col("freq").cast("string"))
    banded = counts.withColumn("band", digits)
    w_band = Window.partitionBy("band").orderBy(
        F.desc("freq"), F.asc("token")
    )
    within = banded.select(
        "band",
        "freq",
        F.sum("freq")
        .over(w_band.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_in_band"),
        F.row_number().over(w_band).alias("rk_in_band"),
    )
    rollup = banded.groupBy("band").agg(
        F.sum("freq").alias("tf"), F.count("*").alias("tn")
    )
    a = rollup.select(
        F.col("band").alias("b"), F.col("tf").alias("atf"), F.col("tn")
    )
    b = rollup.select(F.col("band").alias("hb"), "tf", F.col("tn").alias("htn"))
    offsets = (
        a.join(b, F.col("hb") > F.col("b"), "left")
        .groupBy("b")
        .agg(
            F.coalesce(F.sum("tf"), F.lit(0)).alias("off_f"),
            F.coalesce(F.sum("htn"), F.lit(0)).alias("off_n"),
        )
    )
    tot = rollup.agg(
        F.sum("tf").alias("total"), F.sum("tn").alias("vocab")
    )
    g = within.join(offsets, within["band"] == offsets["b"]).select(
        (F.col("off_f") + F.col("cum_in_band")).alias("cum"),
        (F.col("off_n") + F.col("rk_in_band")).alias("rk"),
    )
    need = lambda t: F.min(
        F.when(100 * F.col("cum") >= t * F.col("total"), F.col("rk"))
    ).cast("long")
    return (
        g.crossJoin(F.broadcast(tot))
        .groupBy()
        .agg(
            F.first("total").cast("long").alias("total_tokens"),
            F.first("vocab").cast("long").alias("vocab_size"),
            need(50).alias("n_tokens_50"),
            need(90).alias("n_tokens_90"),
            need(99).alias("n_tokens_99"),
        )
    )


@query(
    "tokenizer_fertility_by_lang",
    oracle=rf"""
    WITH per_doc AS (
        SELECT lang,
               n_chars,
               CAST(len(regexp_extract_all(
                   text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT)
                   AS bpe,
               CAST(len({tokens_sql('text')}) AS BIGINT) AS ws
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(ws) AS BIGINT) AS n_ws_tokens,
           ROUND(CAST(SUM(bpe) AS DOUBLE) / NULLIF(SUM(ws), 0), 6)
               AS fertility,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / NULLIF(SUM(bpe), 0), 6)
               AS chars_per_token
    FROM per_doc
    GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility audit (M150): BPE-ish tokens per
    whitespace word and characters per token, grouped by ``lang`` — the
    multilingual-tokenizer budget number (a language whose fertility is
    2× pays 2× the context window and 2× the training compute per
    word; chars/token is the bytes-side twin used to compare tokenizer
    vocab choices across scripts).

    Segmentation is the shared RE2/Java-safe BPE-ish regex from
    ``token_count_bpe`` (letter runs / digit runs / single
    punctuation), so the two queries stay consistent; a real tokenizer
    swap (e.g. trained merges from ``bpe_train_merges``) changes only
    the per-doc token expression, not the audit shape.

    Scale: one map-side projection (two regex counts per row) + one
    map-side-combined aggregate on a |langs|-cardinality key — no joins,
    no window, partial aggregation does nearly all the work.  Ratios
    follow the exact-sum discipline: BIGINT sums both sides, one
    rounded double division at the end.
    """
    docs = load_table(spark, sf_dir, "documents")
    bpe = F.size(
        F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    ).cast("long")
    ws = F.size(tokenize(F.col("text"))).cast("long")
    per_doc = docs.select(
        "lang", "n_chars", bpe.alias("bpe"), ws.alias("ws")
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("bpe").alias("n_bpe_tokens"),
        F.sum("ws").alias("n_ws_tokens"),
        F.round(
            F.sum("bpe").cast("double")
            / F.nullif(F.sum("ws"), F.lit(0)),
            6,
        ).alias("fertility"),
        F.round(
            F.sum("n_chars").cast("double")
            / F.nullif(F.sum("bpe"), F.lit(0)),
            6,
        ).alias("chars_per_token"),
    )


@query(
    "bigram_next_token_accuracy",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    bi AS (
        SELECT doc_id, l[i] AS prev, l[i + 1] AS nxt
        FROM toks, unnest(range(1, len(l))) u(i)
    ),
    model AS (
        SELECT prev,
               max(struct_pack(c := c, t := nxt))['t'] AS pred
        FROM (
            SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS c
            FROM bi WHERE doc_id % 2 = 0
            GROUP BY prev, nxt
        ) GROUP BY prev
    ),
    eval_set AS (SELECT prev, nxt FROM bi WHERE doc_id % 2 = 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(count_if(m.pred IS NOT NULL) AS BIGINT) AS n_covered,
           CAST(count_if(m.pred = e.nxt) AS BIGINT) AS n_correct,
           CAST((2000000 * count_if(m.pred = e.nxt) + COUNT(*))
                // (2 * COUNT(*)) AS BIGINT) AS accuracy_ppm
    FROM eval_set e LEFT JOIN model m ON m.prev = e.prev
    """,
)
def bigram_next_token_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram next-token accuracy (M340): train an argmax
    bigram table on even docs, predict each odd-doc token from its
    predecessor, report top-1 accuracy and model coverage — the
    TOKEN-level twin of `markov_next_event_accuracy` (events) and
    the EVALUATION the perplexity family lacks (`bigram_lm_score`
    scores likelihood; this measures the decision a greedy decoder
    would actually make, with an honest train/eval split so
    memorization can't inflate it).

    Exactness: the argmax continuation is a (count, token) struct
    max — deterministic identical tie-break both engines; all
    counts and the half-up ppm exact.

    Scale: the model is a vocabulary²-bounded bigram table reduced
    to |vocab| argmax rows → the broadcast side of the eval join;
    the eval scan streams map-side.  Train/eval split by doc parity
    (the M107 leakage rule — split by DOCUMENT, never by position,
    or adjacent bigrams leak across the split).
    """
    docs = load_table(spark, sf_dir, "documents")
    l = tokenize(F.col("text"))
    n1 = F.greatest(F.size(l) - 1, F.lit(0))
    bi = docs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(l, 1, n1),
                F.slice(l, 2, n1),
                lambda x, y: F.struct(x.alias("prev"), y.alias("nxt")),
            )
        ).alias("p"),
    ).select("doc_id", "p.prev", "p.nxt")
    model = (
        bi.filter(F.col("doc_id") % 2 == 0)
        .groupBy("prev", "nxt")
        .agg(F.count("*").cast("long").alias("c"))
        .groupBy("prev")
        .agg(
            F.max(F.struct(F.col("c"), F.col("nxt")))
            .getField("nxt")
            .alias("pred")
        )
    )
    ev = bi.filter(F.col("doc_id") % 2 == 1).select("prev", "nxt")
    j = ev.join(F.broadcast(model), "prev", "left")
    return j.agg(
        F.count("*").cast("long").alias("n_eval"),
        F.count_if(F.col("pred").isNotNull())
        .cast("long")
        .alias("n_covered"),
        F.count_if(F.col("pred") == F.col("nxt"))
        .cast("long")
        .alias("n_correct"),
        F.expr(
            "CAST((2000000 * count_if(pred = nxt) + COUNT(*))"
            " div (2 * COUNT(*)) AS BIGINT)"
        ).alias("accuracy_ppm"),
    )
