"""Deduplication operators (SURVEY.md §2.J5/J6/J7; LLM-pipeline mandate).

Scale notes: exact dedup is one hash-shuffle on the content hash —
the 256-bit digest (16-64 bytes) shuffles instead of the document body
when only ids are needed.  MinHash near-dedup is the classic
shingle → signature → band-bucket pipeline: every step is a groupBy /
join on bounded keys, no driver state, no cross join; candidate
verification touches only same-bucket pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from insight_spark.operators.text import (
    ngrams,
    token_set_sql,
    tokenize,
    tokens_sql,
)

#: SimHash fingerprint width, read by the fingerprints and their oracle.
SIMHASH_BITS = 16
#: MinHash shingle width in words, read by both engines' shingle stage.
SHINGLE_N = 3
#: Hash and band counts of the md5 (value-oracled) MinHash family,
#: shared by the Spark operators and their DuckDB replays.
MD5_N_HASHES = 8
MD5_N_BANDS = 4
#: The md5 family's integer verify predicate ``2·|∩| >= |∪|`` (Jaccard
#: >= 1/2, no float compare) over the DuckDB shingle lists of a
#: candidate's two sides, ``sa.s`` and ``sb.s``.
MD5_VERIFY_SQL = (
    "2 * len(list_intersect(sa.s, sb.s))"
    " >= len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))"
)
#: The md5 family's rounded Jaccard over the same two shingle lists —
#: the DuckDB side of ``_md5_verdict``'s ``jaccard_sim``.
MD5_JACCARD_SQL = (
    "ROUND(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)"
    " / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 6)"
)
#: Base seed of the xxhash64 MinHash family (seed + i per hash).
MINHASH_SEED = 42


def content_hash(c: Column) -> Column:
    """J5: deterministic content fingerprint (sha256 hex, oracle-parity)."""
    return F.sha2(c, 256)


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Ensure CPU-bound rowwise stages (minhash signatures, shingle
    md5s) get cluster-wide parallelism.

    A small single-file parquet scan yields ONE input partition, and a
    map-side compute stage cannot be split by AQE — measured: the md5
    MinHash signature stage ran 16 s single-threaded on a 5000-doc
    one-file fixture vs ~1 s spread over 32 threads.  At 100 TB inputs
    arrive in thousands of splits and this branch no-ops; the
    repartition costs one extra pass only when the source is
    pathologically under-partitioned.

    HASH-partitioned on ``key``, not round-robin: round-robin
    placement depends on upstream partition layout and needs a
    determinism-preserving local sort on retry; hash placement is a
    pure function of the row, so stage retries and concurrent-load
    rescheduling cannot reorder results.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target, F.col(key))
    return df


def exact_dedup(
    df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """J5: group byte-identical content, keep the min-id row.

    Returns (hash, keep_id, n_dups); join back on ``keep_id`` to
    materialize the surviving rows.
    """
    return (
        df.groupBy(content_hash(F.col(content_col)).alias("content_sha256"))
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    """J7: exact Jaccard similarity of two token arrays (as sets)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """SimHash document fingerprints (LLM-pipeline dedup mandate):
    ``(doc_id, simhash)`` over ``docs.text``, ``SIMHASH_BITS`` wide.

    Classic Charikar simhash over the distinct-token set: each token
    votes ±1 on every bit of its hash; the fingerprint bit is the sign
    of the vote sum.  Near-duplicate docs land at small Hamming
    distance.

    Cross-engine determinism: the per-token hash is the first
    ``SIMHASH_BITS/4`` hex nibbles of md5(token) — identical in Spark and
    DuckDB — so the whole operator is value-oracle-checkable (unlike
    xxhash64-based sketches).  Everything is JVM-side SQL: explode →
    16 conditional sums in ONE hash aggregate (single shuffle on
    doc_id) → bit recombination.  At 100 TB this is a word-count-shaped
    job; no driver state, no UDF.
    """
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokenize(F.col("text")))).alias("_t"),
    ).withColumn("_h", F.md5(F.col("_t")))
    # vote_i = sum over tokens of (2*bit_i - 1), bit_i from md5 nibbles
    votes = [
        F.sum(
            F.expr(
                f"(instr('0123456789abcdef', substr(_h, {j + 1}, 1)) - 1)"
                f" div {2 ** b} % 2 * 2 - 1"
            )
        ).alias(f"_v{j * 4 + b}")
        for j in range(SIMHASH_BITS // 4)
        for b in range(4)
    ]
    summed = toks.groupBy("doc_id").agg(*votes)
    fp = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"_v{i}") >= 0, F.lit(2**i)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return summed.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_oracle_sql() -> str:
    """DuckDB SQL computing identical fingerprints (same md5-nibble hash)."""
    votes = ",\n           ".join(
        f"SUM((strpos('0123456789abcdef', substr(h, {j + 1}, 1)) - 1)"
        f" // {2 ** b} % 2 * 2 - 1) AS v{j * 4 + b}"
        for j in range(SIMHASH_BITS // 4)
        for b in range(4)
    )
    fp = " + ".join(
        f"(CASE WHEN v{i} >= 0 THEN {2 ** i} ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return rf"""
    WITH toks AS (
        SELECT doc_id, unnest({token_set_sql('text')}) AS t
        FROM documents
    ),
    hashed AS (SELECT doc_id, md5(t) AS h FROM toks),
    votes AS (
        SELECT doc_id,
           {votes}
        FROM hashed GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes)
    """


def _bucket_pair_candidates(bands: DataFrame, *key_cols: str) -> DataFrame:
    """LSH candidate generation via bucket arrays (single source of
    truth for both the xxhash64 production path and the md5
    value-oracled twin): the band table aggregates to (bucket →
    sorted ``_id`` array) ONCE, and unordered pairs (a < b by the
    sort) explode from each array — a band self-join would evaluate
    the whole signature subplan twice and shuffle n² rows per bucket
    where the array holds n ids.

    PRECONDITION (the r5 PPJoin lesson): bucket sizes must be bounded
    by construction — collect_list materializes each bucket's id array
    on one task.  For MinHash bands that's exactly what running exact
    dedup FIRST guarantees (identical docs, the one unbounded-bucket
    source, are already gone); do NOT reuse this shape where a single
    key can collect an unbounded id set.

    Returns distinct (a_id, b_id) pairs.
    """
    buckets = (
        bands.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) ->"
                    " transform(slice(ids, i + 2, size(ids) - i - 1),"
                    " y -> struct(x AS a_id, y AS b_id))))"
                )
            ).alias("p")
        )
        .select("p.a_id", "p.b_id")
        .dropDuplicates(["a_id", "b_id"])
    )


def _shingle_sets(docs: DataFrame, text_col: str) -> DataFrame:
    """Shingle sets ``(_id, _sh)`` keyed by ``docs.doc_id``: the
    distinct ``SHINGLE_N``-gram word sequences of ``text_col``, docs
    with an empty set dropped (see ``near_dedup_minhash``).  The first
    stage of both MinHash families."""
    return (
        _spread(docs, "doc_id")
        .select(
            F.col("doc_id").alias("_id"),
            F.array_distinct(
                ngrams(tokenize(F.col(text_col)), SHINGLE_N)
            ).alias("_sh"),
        )
        .filter(F.size("_sh") > 0)
    )


def near_dedup_minhash(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.7,
    keep_all: bool = False,
) -> DataFrame:
    """J6: MinHash+LSH near-duplicate pairs over ``docs.doc_id``,
    exact-verified.

    shingles (``SHINGLE_N``-gram word sequences, the GPT-3/Gopher-style
    dedup unit — unigram sets over-match templated corpora) → minhash
    signature (16 xxhash64 hashes) → 4 band buckets → same-bucket
    candidate id pairs (a<b), deduped as bare (long, long) ids →
    shingle sets joined back →
    exact Jaccard verification ≥ threshold.  Returns
    (a_id, b_id, jaccard_sim); with ``keep_all`` every LSH candidate
    pair survives with an ``is_dup`` verdict column instead of being
    filtered — the auditable form (verification evidence per
    candidate, false-positive rate observable downstream).

    At scale every stage is a shuffle on bounded keys: band-bucket
    cardinality ~ corpus size, candidates explode per bucket from a
    sorted id array (the r5 rewrite — a band self-join would evaluate
    the signature subplan twice, see ``minhash_lsh_pairs_md5``), and
    the pair-dedup shuffle moves 16-byte id pairs — the (possibly
    large) shingle arrays are shuffled once per side by the
    verification joins, never through the band stage.

    Docs with an EMPTY shingle set (< ``SHINGLE_N`` tokens) never band
    and so never pair — by design: an empty set has Jaccard 0 (or 0/0)
    against everything, so no such pair can verify at ``threshold`` >
    0, and a shared null-signature bucket would only manufacture
    candidate volume (visible under ``keep_all``, but as guaranteed
    false positives).  ``_shingle_sets`` makes the drop explicit for
    both MinHash families.
    """
    n_hashes, n_bands = 16, 4
    rows_per_band = n_hashes // n_bands
    toks = _shingle_sets(docs, text_col)
    # Signature via explode + map-side-combined min aggregate (r6, same
    # rationale as _md5_shingle_bands): a transform-per-seed over a
    # projected shingle column gets the shingle expression INLINED by
    # CollapseProject and re-evaluated n_hashes times per row (HOF
    # lambdas see no subexpression elimination); row-wise xxhash64
    # post-explode is whole-stage-codegen'd and the groupBy shuffles
    # only n_hashes longs per doc.
    grams = toks.select("_id", F.explode("_sh").alias("_g"))
    sig = grams.groupBy("_id").agg(
        *[
            F.min(F.xxhash64(F.col("_g"), F.lit(MINHASH_SEED + i))).alias(
                f"_h{i}"
            )
            for i in range(n_hashes)
        ]
    )

    bands = sig.select(
        "_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[
                            F.col(f"_h{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("_band", "_bucket"),
    )

    cand = _bucket_pair_candidates(bands, "_band", "_bucket")
    sets = toks.select("_id", "_sh")
    cand = cand.join(
        sets.select(F.col("_id").alias("a_id"), F.col("_sh").alias("_a_sh")),
        "a_id",
    ).join(
        sets.select(F.col("_id").alias("b_id"), F.col("_sh").alias("_b_sh")),
        "b_id",
    )
    sim = jaccard(F.col("_a_sh"), F.col("_b_sh"))
    verified = cand.withColumn("jaccard_sim", F.round(sim, 6))
    if keep_all:
        return verified.select(
            "a_id",
            "b_id",
            "jaccard_sim",
            (F.col("jaccard_sim") >= threshold).alias("is_dup"),
        )
    return verified.filter(F.col("jaccard_sim") >= threshold).select(
        "a_id", "b_id", "jaccard_sim"
    )


def prefix_filtered_jaccard_join(
    docs: DataFrame,
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    """J7 scale path: corpus-wide Jaccard threshold self-join of
    ``docs.text`` (pairs of ``doc_id``) via prefix filtering (the
    PPJoin candidate rule) — no all-pairs join.

    Each doc keeps only its p = |s| - ceil(t·|s|) + 1 globally
    *rarest* tokens (ascending document frequency, token tie-break);
    any pair with J >= t must share at least one prefix token, so the
    equi-join on prefix tokens yields a candidate superset of the
    answer, which exact Jaccard verification then trims.

    The threshold is the rational ``num/den`` so the prefix-length
    ceil() is exact integer math — a float ``0.9 * 10`` can round up
    and silently shorten the prefix below the safe bound, dropping
    true pairs.  Verification compares ``den·|∩| >= num·|∪|`` in
    integers for the same reason.

    Scale shape: explode + vocabulary-frequency join + per-doc token
    sort (bounded by doc length), prefix explode, equi-join on prefix
    token, pair-dedup on bare id pairs, then two set joins for
    verification.  The frequency table is |vocab|-sized, so it gets NO
    broadcast hint — at fixture scale AQE upgrades it to a runtime
    broadcast anyway (it is far under autoBroadcastJoinThreshold), and
    at 100 TB (GB-sized vocab) the same plan stays a shuffle join on
    token instead of OOMing every executor.  Candidate volume is
    governed by rare-token bucket sizes — the filter is exactly what
    makes corpus-wide similarity join feasible without |docs|².
    """
    t_num, t_den = threshold_num, threshold_den
    # The token table feeds FIVE subplan evaluations downstream (the
    # vocabulary-frequency aggregate, both sides of the ranked join,
    # and both verification set joins) and the tokenizer is the
    # expensive part of each — materialize it once (guide §1.2: don't
    # compute things twice; §3.3: materializing an intermediate
    # truncates the repeated subtree).  r12 measured the
    # double-evaluation but could not separate this fix from machine
    # noise on a degraded box; re-measured r13 on a quiet box (see
    # OPTIMIZATION_r13.md).  localCheckpoint is executor-local and
    # non-recomputable — fine for a batch analytics job where a lost
    # executor fails the query and the caller re-runs; a long-lived
    # cluster pipeline would swap in reliable checkpointing or a
    # write + read-back at the same two points.
    toks = docs.select(
        F.col("doc_id").alias("_id"),
        F.array_distinct(tokenize(F.col("text"))).alias("_s"),
    ).where(F.size("_s") > 0).localCheckpoint()
    freq = (
        toks.select(F.explode("_s").alias("_tok"))
        .groupBy("_tok")
        .agg(F.count("*").alias("_df"))
    )
    ranked = toks.select(
        "_id", F.size("_s").alias("_sz"), F.explode("_s").alias("_tok")
    ).join(freq, "_tok")
    prefix = (
        ranked.groupBy("_id", "_sz")
        .agg(F.sort_array(F.collect_list(F.struct("_df", "_tok"))).alias("_ord"))
        .select(
            "_id",
            F.explode(
                F.expr(
                    f"slice(_ord, 1, _sz - (({t_num} * _sz + {t_den - 1}) "
                    f"div {t_den}) + 1)._tok"
                )
            ).alias("_tok"),
        )
        # Both sides of the candidate self-join below are THIS subplan;
        # without a barrier the frequency aggregate + per-doc sort run
        # twice (r12's measured double evaluation).  One materialization
        # feeds both sides; the join then scans ~|prefix| cached rows
        # twice instead of re-deriving them.
        .localCheckpoint()
    )
    # Candidates stay a STREAMING self-join here — deliberately NOT the
    # bucket-array form used by the MinHash LSH stages: a prefix-token
    # bucket is unbounded (a doc made of corpus-common tokens puts a
    # high-df token in its prefix), and materializing one bucket's
    # pair array OOMed at sf0.1 (measured — 8 GiB heap, ~5k-id bucket
    # → 12.5M struct array in a single row).  The join streams the
    # same pair volume through the shuffle instead; its per-side
    # subplan (explode + vocab join + sort) is cheap enough that the
    # double evaluation is the right trade.  Bucket arrays are safe
    # only where bucket cardinality is bounded by construction
    # (LSH signature buckets after exact dedup).
    cand = (
        prefix.select(F.col("_id").alias("a_id"), "_tok")
        .join(prefix.select(F.col("_id").alias("b_id"), "_tok"), "_tok")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    cand = cand.join(
        toks.select(F.col("_id").alias("a_id"), F.col("_s").alias("_a")), "a_id"
    ).join(
        toks.select(F.col("_id").alias("b_id"), F.col("_s").alias("_b")), "b_id"
    )
    inter = F.size(F.array_intersect("_a", "_b"))
    union = F.size("_a") + F.size("_b") - inter
    return (
        cand.select(
            "a_id",
            "b_id",
            inter.alias("_i"),
            union.alias("_u"),
        )
        .filter(F.lit(t_den) * F.col("_i") >= F.lit(t_num) * F.col("_u"))
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("_i").cast("double") / F.col("_u").cast("double"), 6
            ).alias("jaccard_sim"),
        )
    )


def _md5_shingle_bands(
    docs: DataFrame,
    n_hashes: int = MD5_N_HASHES,
    n_bands: int = MD5_N_BANDS,
) -> tuple[DataFrame, DataFrame]:
    """Shared md5-family sketch stages over ``docs.text``: shingle sets
    ``(_id, _sh)`` and LSH band buckets ``(_id, _band, _bkey)``.  Used
    by the within-corpus pair join, the band-load audit and the
    cross-corpus (decontamination) variant — signatures are
    per-document, so banding each corpus separately is bit-identical
    to banding their union.  ``md5_band_ctes`` is its DuckDB replay."""
    rows_per_band = n_hashes // n_bands
    assert rows_per_band * n_bands == n_hashes
    # Hash family (r6 rewrite): n_hashes values are 8-hex-char (32-bit)
    # CHUNKS of ceil(n/4) md5 digests per gram — md5(g), md5('#'+g), …
    # — instead of n_hashes independent md5('i#'+g) calls.  The
    # signature stage was the funnel's dominant cost (measured 5.0 s of
    # dedup_pipeline_summary's 5.5 s at sf0.1); chunking cuts the md5
    # count per gram from 8 to 2 for identical LSH semantics (md5 bits
    # are uniform, chunks behave as independent 32-bit hash functions;
    # min over fixed-width lowercase-hex strings = numeric min in both
    # engines).  Tie risk per doc is ~|sh|²/2³³ — negligible, and any
    # tie is replayed bit-identically by the DuckDB oracle.
    assert n_hashes % 4 == 0, "chunked family packs 4 chunks per digest"
    n_digests = n_hashes // 4
    sh = _shingle_sets(docs, "text")

    # Signature via EXPLODE + row-wise digest + map-side-combined min
    # aggregate, NOT array higher-order functions: HOF lambdas are
    # interpreted per-element with no common-subexpression caching, and
    # CollapseProject inlines a projected digest array into every
    # consumer — both roads re-run the md5s n_hashes times.  Row-wise
    # expressions get whole-stage codegen + subexpression elimination,
    # so the digest concat runs ONCE per gram and the 8 substrings are
    # chunk reads.  The groupBy(_id) shuffle moves only 8×8 hex chars
    # per doc after partial aggregation.
    grams = sh.select("_id", F.explode("_sh").alias("_g"))
    g = F.col("_g")
    dig = F.concat(
        *[
            F.md5(g) if d == 0 else F.md5(F.concat(F.lit("#" * d), g))
            for d in range(n_digests)
        ]
    )
    sig = grams.groupBy("_id").agg(
        *[
            F.min(F.substring(dig, 1 + 8 * i, 8)).alias(f"_h{i}")
            for i in range(n_hashes)
        ]
    )
    bands = sig.select(
        "_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"_h{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("_band", "_bkey"),
    )
    return sh, bands


def _md5_digest_concat_sql(n_hashes: int) -> str:
    """DuckDB lambda body (over gram ``g``) for the per-gram chunked
    digest — generated from the SAME ``n_digests = n_hashes // 4``
    formula as ``_md5_shingle_bands`` so a non-default ``n_hashes``
    (e.g. 16) can never silently desync Spark (which computes extra
    digests) from an oracle hardcoding two (whose substr past char 64
    would yield empty chunks)."""
    assert n_hashes % 4 == 0, "chunked family packs 4 chunks per digest"
    return " || ".join(
        "md5(g)" if d == 0 else f"md5('{'#' * d}' || g)"
        for d in range(n_hashes // 4)
    )


def md5_band_ctes(
    source: str, n_hashes: int = MD5_N_HASHES, n_bands: int = MD5_N_BANDS
) -> str:
    """DuckDB replay of ``_md5_shingle_bands`` over the relation
    ``source`` (``doc_id``, ``text``): the CTE list ``toks, sh, sh2,
    shd, sig, bands`` for a caller's ``WITH``.  ``sh2`` holds the
    non-empty shingle sets ``(doc_id, s)`` and ``bands`` the buckets
    ``(doc_id, band, bkey)``, bit-identical to the Spark stages."""
    rows_per_band = n_hashes // n_bands
    gram = " || ' ' || ".join(
        "t[i]" if k == 0 else f"t[i + {k}]" for k in range(SHINGLE_N)
    )
    sigs = ",\n               ".join(
        f"list_min(list_transform(ds, d -> substr(d, {1 + 8 * i}, 8)))"
        f" AS h{i}"
        for i in range(n_hashes)
    )
    band_rows = "\n        UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS bkey FROM sig".format(
            b=b,
            key=" || '|' || ".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(n_bands)
    )
    return rf"""toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS t
        FROM {source}
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(t) - {SHINGLE_N - 2}, 1)),
                   i -> {gram})) AS s
        FROM toks
    ),
    sh2 AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
    shd AS (
        SELECT doc_id, s,
               list_transform(s, g -> {_md5_digest_concat_sql(n_hashes)}) AS ds
        FROM sh2
    ),
    sig AS (
        SELECT doc_id, s,
               {sigs}
        FROM shd
    ),
    bands AS (
        {band_rows}
    )"""


def _md5_verdict() -> tuple[Column, Column]:
    """``(jaccard_sim, is_dup)`` of a candidate pair whose shingle sets
    are joined in as ``_a`` and ``_b``: the rounded Jaccard and the
    integer verify ``2·|∩| >= |∪|``, the Spark side of
    ``MD5_JACCARD_SQL`` and ``MD5_VERIFY_SQL``."""
    inter = F.size(F.array_intersect("_a", "_b"))
    union = F.size("_a") + F.size("_b") - inter
    sim = F.round(inter.cast("double") / union.cast("double"), 6)
    return sim.alias("jaccard_sim"), F.lit(2) * inter >= union


def minhash_lsh_pairs_md5(
    docs: DataFrame,
    n_hashes: int = MD5_N_HASHES,
    n_bands: int = MD5_N_BANDS,
    keep_all: bool = False,
) -> DataFrame:
    """J6 value-oracled variant: MinHash+LSH near-dup pairs of
    ``docs.doc_id`` over ``docs.text`` with an md5 hash family, fully
    reproducible in DuckDB SQL.

    Same pipeline shape as ``near_dedup_minhash`` (shingle → signature
    → band bucket → candidate pair → exact-Jaccard verify at t=1/2),
    but hash i is the i-th 8-hex-char chunk of the per-gram digest
    ``md5(g) || md5('#' || g)`` (one more ``'#'``-prefixed md5 per 4
    further hashes), and the signature element is the
    **lexicographic** minimum of those fixed-width lowercase hex
    chunks — which equals the numeric minimum of the 32-bit values,
    and both engines compare ASCII strings bytewise.  That makes every
    intermediate (signatures, band keys, candidate set, verified
    pairs) bit-identical across engines, so the driver's value-hash
    check covers the whole sketch pipeline instead of a rows-only
    count (the simhash md5-nibble trick, extended to MinHash).

    The xxhash64 twin stays the 100 TB default (JVM hash, no hex
    materialization); this variant trades ~2× signature cost for
    oracle-checkability.  Verification threshold is the integer form
    ``2·|∩| >= |∪|`` (exact, no float compare).

    Candidate generation is bucket-array, not self-join (r5): the
    band table aggregates to (bucket → sorted id array) ONCE and
    pairs explode from each array — a band self-join evaluates the
    whole signature subplan twice (the aliased sides don't
    canonicalize to a reusable exchange), measured 1.75× slower cold
    at sf0.1 for an identical candidate set.  Per-bucket arrays hold
    n ids where the self-join shuffles n² rows; the one degenerate
    case (a mega-bucket of identical docs) is exactly what running
    exact dedup FIRST removes (the funnel's composition order).
    """
    # NOTE (r6, measured): the shingle subplan feeds three consumers
    # (band build + both verify sides) but deliberately stays LAZY — a
    # localCheckpoint barrier on ``sh`` was tried and made the sf0.1
    # funnel 0.8 s SLOWER: writing the materialized gram arrays costs
    # more than recomputing the zip_with shingling per consumer.
    sh, bands = _md5_shingle_bands(docs, n_hashes, n_bands)
    cand = _bucket_pair_candidates(bands, "_band", "_bkey")
    sets = sh.select("_id", "_sh")
    cand = cand.join(
        sets.select(F.col("_id").alias("a_id"), F.col("_sh").alias("_a")), "a_id"
    ).join(sets.select(F.col("_id").alias("b_id"), F.col("_sh").alias("_b")), "b_id")
    sim, is_dup = _md5_verdict()
    if keep_all:
        # auditable form (near_dedup_minhash's keep_all): every LSH
        # candidate survives with its exact Jaccard and an integer-form
        # verdict — verification evidence in the output, false-positive
        # rate observable downstream.
        return cand.select("a_id", "b_id", sim, is_dup.alias("is_dup"))
    return cand.filter(is_dup).select("a_id", "b_id", sim)


def minhash_lsh_pairs_md5_oracle_sql(
    n_hashes: int = MD5_N_HASHES,
    n_bands: int = MD5_N_BANDS,
    keep_all: bool = False,
) -> str:
    """DuckDB SQL producing identical pairs (same md5 hash family).
    With ``keep_all``, replays the auditable form: every candidate with
    an ``is_dup`` verdict instead of the verification WHERE."""
    verdict = f",\n           {MD5_VERIFY_SQL} AS is_dup" if keep_all else ""
    where = "" if keep_all else f"WHERE {MD5_VERIFY_SQL}"
    return f"""
    WITH {md5_band_ctes("documents", n_hashes, n_bands)},
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                    AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id, {MD5_JACCARD_SQL} AS jaccard_sim{verdict}
    FROM cand
    JOIN sh2 sa ON sa.doc_id = a_id
    JOIN sh2 sb ON sb.doc_id = b_id
    {where}
    """


def minhash_band_cardinality_oracle_sql() -> str:
    """DuckDB SQL for the LSH band-load audit (M146): the md5 band
    family's per-band bucket-load statistics instead of exploding
    pairs."""
    return f"""
    WITH {md5_band_ctes("documents")},
    bsz AS (
        SELECT band, bkey, CAST(COUNT(*) AS BIGINT) AS n
        FROM bands GROUP BY band, bkey
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(MAX(n) AS BIGINT) AS max_bucket,
           CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_colliding,
           CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs
    FROM bsz GROUP BY band
    """


def minhash_lsh_cross_pairs_md5(left: DataFrame, right: DataFrame) -> DataFrame:
    """Cross-corpus MinHash+LSH near-dup pairs (fuzzy decontamination
    shape): every verified (left, right) pair with shingle-Jaccard
    >= 1/2, md5 hash family so the whole sketch is oracle-checkable.

    The asymmetric form of ``minhash_lsh_pairs_md5``: each corpus is
    shingled/signed/banded independently (per-document math, so the
    split changes nothing), and candidates come from joining LEFT band
    buckets to RIGHT band buckets — never left×left.  With a bounded
    right side (an eval/benchmark set — the decontamination case) the
    right bands broadcast: the big training corpus is scanned once,
    map-side, and candidate volume scales with |right| · bucket
    collision rate, not |left|².  Verification joins the shingle sets
    back on the bounded candidate ids only.

    Returns ``(a_id, b_id, jaccard_sim)`` with a_id from ``left``,
    b_id from ``right``.
    """
    sh_l, bands_l = _md5_shingle_bands(left)
    sh_r, bands_r = _md5_shingle_bands(right)
    cand = (
        bands_l.select(F.col("_id").alias("a_id"), "_band", "_bkey")
        .join(
            F.broadcast(
                bands_r.select(F.col("_id").alias("b_id"), "_band", "_bkey")
            ),
            ["_band", "_bkey"],
        )
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    cand = cand.join(
        sh_l.select(F.col("_id").alias("a_id"), F.col("_sh").alias("_a")),
        "a_id",
    ).join(
        F.broadcast(
            sh_r.select(F.col("_id").alias("b_id"), F.col("_sh").alias("_b"))
        ),
        "b_id",
    )
    sim, is_dup = _md5_verdict()
    return cand.filter(is_dup).select("a_id", "b_id", sim)


def incremental_dedup(corpus: DataFrame, batch: DataFrame) -> DataFrame:
    """Day-2 dedup: deduplicate an incoming BATCH against an existing
    corpus snapshot (both keyed ``doc_id``, content ``text``) without
    reshuffling the corpus documents.

    Returns every batch row annotated with ``drop_reason``:
    ``'corpus_dup'`` (content already in the corpus), ``'batch_dup'``
    (an earlier batch row — lower id — has the same content), or NULL
    (kept).  Downstream appends the NULL slice to the corpus.

    Scale shape: the corpus is reduced to DISTINCT 256-bit digests
    before anything moves — the join shuffles 32-byte hashes, never
    documents, and the batch (typically ≪ corpus) is the small side.
    When the corpus digest set fits a bloom budget, slot a
    ``bloom_filter_agg``/``might_contain`` prefilter before this join
    (see ``bloom_semi_agg``) — false positives are then removed by
    this exact digest join, so the bloom is a pure IO saver.
    Within-batch dedup is the standard keyed arg-min, one shuffle on
    the digest.
    """
    from pyspark.sql.window import Window

    dig = F.sha2(F.col("text"), 256)
    corpus_digests = corpus.select(dig.alias("_digest")).distinct()
    b = batch.withColumn("_digest", dig)
    marked = b.join(
        corpus_digests.withColumn("_in_corpus", F.lit(1)),
        "_digest",
        "left",
    )
    w_min = F.min("doc_id").over(Window.partitionBy("_digest"))
    return (
        marked.withColumn("_keep_id", w_min)
        .withColumn(
            "drop_reason",
            F.when(F.col("_in_corpus") == 1, "corpus_dup").when(
                F.col("doc_id") != F.col("_keep_id"), "batch_dup"
            ),
        )
        .drop("_in_corpus", "_keep_id")
    )
