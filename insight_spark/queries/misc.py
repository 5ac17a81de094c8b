"""Remaining batch-surface queries (SURVEY.md §2.C8, F4, H12, J8, L2-L5)."""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from insight_spark.operators.multimodal import (
    attach_media_columns,
    attach_real_media_columns,
    decode_media,
    decode_media_real,
    payload_entropy_arrow,
)
from insight_spark.operators.text import WS_RE, tokens_sql
from insight_spark.queries import query
from insight_spark.sources import load_table, register_views


@query(
    "range_join_clicks",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           COUNT(c.event_id) AS n_recent_clicks
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts <  p.ts
    GROUP BY p.event_id, p.user_id
    """,
)
def range_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join (C8): clicks in the 10 minutes before each
    purchase.  Equi key (user_id) + range predicate → shuffle on the
    equi key only; at scale add event-time bucketing as a prefilter
    (SURVEY.md §4.3)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    c = ev.filter(F.col("event_type") == "click").alias("c")
    return (
        p.join(
            c,
            (F.col("p.user_id") == F.col("c.user_id"))
            & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("c.ts") < F.col("p.ts")),
            "left",
        )
        .groupBy(
            F.col("p.event_id").alias("purchase_id"),
            F.col("p.user_id").alias("user_id"),
        )
        .agg(F.count(F.col("c.event_id")).alias("n_recent_clicks"))
    )


@query(
    "offset_page",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10 OFFSET 10
    """,
)
def offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination (F4): page 2 of the order listing, total order."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(10)
        .limit(10)
    )


@query(
    "map_ops",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_from_map,
           'k,u' AS keys_csv,
           2 AS n_entries
    FROM events
    """,
)
def map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction/access (H12): build a map from parsed props +
    user id, read it back.  The oracle checks the recovered values —
    map round-tripping must be lossless."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    m = F.map_concat(
        F.create_map(F.lit("k"), k),
        F.create_map(F.lit("u"), F.col("user_id")),
    )
    return ev.select(
        "event_id",
        F.element_at(m, "k").alias("k_from_map"),
        F.concat_ws(",", F.array_sort(F.map_keys(m))).alias("keys_csv"),
        F.size(m).alias("n_entries"),
    )


def _wavg_udf():
    """L2 grouped-agg pandas UDF: k-weighted mean of value.

    Deterministic under shuffle: products are sorted before summation,
    so the float accumulation order is independent of row arrival.
    """

    def wavg(v: pd.Series, k: pd.Series) -> float:
        import numpy as np

        prod = (v * k).to_numpy()
        num = float(np.sum(np.sort(prod)))
        den = float(k.sum())
        return num / den

    return pandas_udf(wavg, "double")


@query(
    "grouped_agg_udf",
    oracle="""
    SELECT event_type,
           ROUND(CAST(SUM(CAST(value * CAST(json_extract_string(props, '$.k') AS INTEGER)
                              AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE),
                 6) AS wavg_value
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
      AND CAST(json_extract_string(props, '$.k') AS INTEGER) > 0
    GROUP BY event_type
    """,
)
def grouped_agg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (L2): weighted average per type."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    base = ev.select("event_type", "value", k.alias("k")).filter(
        F.col("k").isNotNull() & (F.col("k") > 0)
    )
    wavg = _wavg_udf()
    return base.groupBy("event_type").agg(
        F.round(wavg("value", "k"), 6).alias("wavg_value")
    )


@query(
    "grouped_map_stats",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(quantile_cont(value, 0.5), 6) AS median_value
    FROM events
    GROUP BY user_id
    """,
)
def grouped_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (L3): per-user stats computed in a
    vectorized Python function (np.median == quantile_cont(0.5))."""
    ev = load_table(spark, sf_dir, "events")

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(pdf)],
                "median_value": [float(np.median(pdf["value"].to_numpy()))],
            }
        )

    out = ev.select("user_id", "value").groupBy("user_id").applyInPandas(
        stats, "user_id long, n_events long, median_value double"
    )
    return out.select(
        "user_id", "n_events", F.round("median_value", 6).alias("median_value")
    )


@query(
    "multimodal_decode",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image/png'
                           WHEN 1 THEN 'audio/wav'
                           ELSE 'video/mp4' END AS mime,
           CAST(length(text) AS INTEGER) AS n_bytes,
           CAST(16 + length(text) % 64 AS INTEGER) AS width,
           CAST(16 + (length(text) // 2) % 64 AS INTEGER) AS height
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline (J8 + L4): binary payload + typed metadata →
    mapInPandas 'decode' (stubbed codec, deterministic fake dims).

    The oracle recomputes the fake-decode formula from the text length,
    proving the payload/metadata plumbing is lossless end to end.
    """
    docs = load_table(spark, sf_dir, "documents")
    media = attach_media_columns(docs)
    return decode_media(media)


@query(
    "multimodal_decode_real",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image/bmp'
                           WHEN 1 THEN 'audio/wav'
                           ELSE 'video/y4m' END AS mime,
           CASE doc_id % 3
                WHEN 0 THEN CAST(8 + doc_id % 16 AS INTEGER)
                WHEN 2 THEN CAST(8 + (doc_id % 4) * 2 AS INTEGER)
           END AS width,
           CASE doc_id % 3
                WHEN 0 THEN CAST(4 + doc_id % 8 AS INTEGER)
                WHEN 2 THEN CAST(4 + (doc_id % 3) * 2 AS INTEGER)
           END AS height,
           CASE doc_id % 3
                WHEN 0 THEN CAST((doc_id * 37 + 11) % 251 AS DOUBLE)
                WHEN 2 THEN ROUND(
                    CAST(list_sum(list_transform(range(0, 2 + doc_id % 4),
                         f -> (doc_id * 29 + f * 13) % 256)) AS DOUBLE)
                    / (2 + doc_id % 4), 6)
           END AS mean_luma,
           CASE doc_id % 3
                WHEN 1 THEN CAST(32 + doc_id % 64 AS INTEGER)
                WHEN 2 THEN CAST(2 + doc_id % 4 AS INTEGER)
           END AS n_samples,
           CASE WHEN doc_id % 3 = 1
                THEN CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) END AS sample_rate,
           CASE WHEN doc_id % 3 = 1
                THEN CAST((doc_id * 31) % 4096 - 2048 AS INTEGER) END AS first_sample
    FROM documents
    """,
)
def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal REAL-codec pipeline (J8 + L4): synthesize genuine
    uncompressed-BMP / PCM-WAV / Y4M-video payloads from doc_id, then
    parse them back with the pure-Python decoders
    (operators/codecs.py) through mapInPandas — all three modalities
    decode for real as of r5.

    The oracle recomputes every decoded field from the synthesis
    arithmetic — a header-layout, stride-padding, chunk-walk, or
    planar-offset bug in any decoder breaks the value hash.  Video's
    mean_luma averages every frame's constant Y plane (exact int
    division, rounded identically both sides); its frame count reports
    through n_samples.
    """
    docs = load_table(spark, sf_dir, "documents")
    media = attach_real_media_columns(docs)
    return decode_media_real(media)


def _tokenize_udtf():
    """L5 Python UDTF: lateral-expand text into (idx, token) rows."""
    from pyspark.sql.functions import udtf

    class TokenizeUDTF:
        def eval(self, text: str):
            toks = [t for t in re.split(WS_RE, text) if t]
            for i, tok in enumerate(toks):
                yield i, tok

    return udtf(TokenizeUDTF, returnType="idx int, token string")


@query(
    "udtf_tokens",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
        WHERE doc_id < 50
    )
    SELECT doc_id, CAST(i - 1 AS INTEGER) AS idx, l[i] AS token
    FROM toks, unnest(range(1, len(l) + 1)) AS t(i)
    """,
)
def udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF lateral expansion (L5), checked against pure-SQL
    unnest — both split on ``WS_RE`` and drop empty tokens (Python's
    ``str.split()`` would also split on NBSP and U+001C..U+001F)."""
    register_views(spark, sf_dir, ("documents",))
    spark.udtf.register("tokenize_udtf", _tokenize_udtf())
    # Predicate INSIDE the subquery: Catalyst does not push a
    # post-lateral WHERE below an (Arrow)EvalPythonUDTF node, so the
    # outer-filter form ran the UDTF over the whole corpus (r7 finding
    # on the ngram twin — 2.6× regression at sf0.1).
    return spark.sql(
        """
        SELECT doc_id, t.idx, t.token
        FROM (SELECT doc_id, text FROM documents WHERE doc_id < 50) d,
             LATERAL tokenize_udtf(text) t
        """
    )


@query(
    "udtf_polymorphic_ngrams",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS ts
        FROM documents WHERE doc_id < 50
    ),
    g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
                   i -> {{'pos': i - 1, 'g1': ts[i], 'g2': ts[i + 1],
                         'g3': ts[i + 2]}})) AS s
        FROM toks WHERE len(ts) >= 3
    )
    SELECT doc_id, CAST(s.pos AS INTEGER) AS pos,
           s.g1 AS g1, s.g2 AS g2, s.g3 AS g3
    FROM g
    """,
)
def udtf_polymorphic_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (L5 depth): the output schema is
    computed at PLAN time by ``analyze()`` from a constant argument —
    ``ngram_poly(text, 3)`` emits (pos, g1, g2, g3), ``(text, 2)``
    would emit (pos, g1, g2) — the Spark 4 table-function contract for
    schema-on-argument operators (dynamic pivots, configurable
    expanders) that a fixed ``returnType`` UDTF cannot express.
    Checked against a pure-SQL trigram unnest."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import IntegerType, StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class NgramUDTF:
        @staticmethod
        def analyze(
            text: AnalyzeArgument, n: AnalyzeArgument
        ) -> AnalyzeResult:
            if not (
                n.isConstantExpression
                and isinstance(n.value, int)
                and n.value >= 1
            ):
                raise ValueError("ngram_poly: n must be a constant int >= 1")
            st = StructType().add("pos", IntegerType())
            for i in range(n.value):
                st = st.add(f"g{i + 1}", StringType())
            return AnalyzeResult(schema=st)

        def eval(self, text, n):
            toks = [t for t in re.split(WS_RE, text or "") if t]
            for i in range(len(toks) - n + 1):
                yield (i, *toks[i : i + n])

    register_views(spark, sf_dir, ("documents",))
    spark.udtf.register("ngram_poly", udtf(NgramUDTF))
    # Filter in the subquery, not after the lateral: Catalyst does not
    # push predicates below an ArrowEvalPythonUDTF, so the outer-WHERE
    # form fed the WHOLE corpus through the Python UDTF and filtered
    # doc_id < 50 afterwards (the r6→r7 2.6× bench regression; plan
    # pinned in tests/test_plans.py).
    return spark.sql(
        """
        SELECT doc_id, g.pos, g.g1, g.g2, g.g3
        FROM (SELECT doc_id, text FROM documents WHERE doc_id < 50) d,
             LATERAL ngram_poly(text, 3) g
        """
    )


@query(
    "interval_join_global",
    oracle="""
    SELECT p.event_id AS purchase_id,
           COUNT(c.event_id) AS n_nearby_clicks
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.ts BETWEEN p.ts - INTERVAL 60 SECOND AND p.ts + INTERVAL 60 SECOND
    GROUP BY p.event_id
    """,
)
def interval_join_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join with NO equi key (C8 hard case): clicks by ANY
    user within ±60 s of each purchase.

    Uses the bucketed-interval rewrite
    (operators/partitioning.bucketed_range_join) — shuffle join on
    epoch buckets + exact filter — instead of the BroadcastNestedLoop
    plan a raw theta join produces (plan-asserted in
    tests/test_partitioning.py).  Purchases with no nearby click are
    restored by a left join against the matched counts.
    """
    from insight_spark.operators.partitioning import bucketed_range_join

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    matched = (
        bucketed_range_join(p, c, "p_ts", "c_ts", -60, 60)
        .groupBy("purchase_id")
        .agg(F.count("click_id").alias("_n"))
    )
    return p.join(matched, "purchase_id", "left").select(
        "purchase_id",
        F.coalesce(F.col("_n"), F.lit(0)).alias("n_nearby_clicks"),
    )


@query(
    "dq_expectations",
    oracle="""
    SELECT 'orders_pk_unique' AS check_name,
           (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) AS metric,
           (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) = 0 AS passed
    UNION ALL
    SELECT 'lineitem_fk_orphans',
           (SELECT COUNT(*) FROM lineitem
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_orderkey = l_orderkey)),
           (SELECT COUNT(*) FROM lineitem
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_orderkey = l_orderkey)) = 0
    UNION ALL
    SELECT 'events_value_nonneg',
           (SELECT COUNT(*) FROM events WHERE value < 0),
           (SELECT COUNT(*) FROM events WHERE value < 0) = 0
    UNION ALL
    SELECT 'events_ts_null',
           (SELECT COUNT(*) FROM events WHERE ts IS NULL),
           (SELECT COUNT(*) FROM events WHERE ts IS NULL) = 0
    UNION ALL
    SELECT 'orders_status_domain',
           (SELECT COUNT(*) FROM orders
            WHERE o_orderstatus NOT IN ('F', 'O', 'P')),
           (SELECT COUNT(*) FROM orders
            WHERE o_orderstatus NOT IN ('F', 'O', 'P')) = 0
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite (the pipeline admission gate): a
    fixed battery of assertions — key uniqueness, FK orphan count,
    range, null, and domain checks — evaluated in one pass each and
    returned as (check_name, metric, passed) rows.

    Every check is an aggregate or anti-join whose metric is a single
    number, so the whole suite is a union of 1-row DataFrames — at
    100 TB each check is one scan (several share one), and the output
    is audit-log-sized.  Running checks as a *query* (not a script)
    means the same gate runs identically in batch, in CI, and inside
    a foreachBatch streaming sink.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    def check(name: str, metric_df: DataFrame) -> DataFrame:
        return metric_df.select(
            F.lit(name).alias("check_name"),
            F.col("metric"),
            (F.col("metric") == 0).alias("passed"),
        )

    pk = orders.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).alias("metric")
    )
    orphans = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count("*").alias("metric"))
    )
    negval = ev.filter(F.col("value") < 0).agg(F.count("*").alias("metric"))
    nullts = ev.filter(F.col("ts").isNull()).agg(F.count("*").alias("metric"))
    domain = orders.filter(
        ~F.col("o_orderstatus").isin("F", "O", "P")
    ).agg(F.count("*").alias("metric"))
    return (
        check("orders_pk_unique", pk)
        .unionAll(check("lineitem_fk_orphans", orphans))
        .unionAll(check("events_value_nonneg", negval))
        .unionAll(check("events_ts_null", nullts))
        .unionAll(check("orders_status_domain", domain))
    )


@query(
    "corr_matrix",
    oracle="""
    SELECT
      ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price,
      ROUND(corr(l_quantity, l_discount), 6) AS qty_disc,
      ROUND(corr(l_quantity, l_tax), 6) AS qty_tax,
      ROUND(corr(l_extendedprice, l_discount), 6) AS price_disc,
      ROUND(corr(l_extendedprice, l_tax), 6) AS price_tax,
      ROUND(corr(l_discount, l_tax), 6) AS disc_tax
    FROM lineitem
    """,
)
def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation matrix over the lineitem measures (feature
    audit before model training): all six pairs in ONE aggregate pass.

    Spark computes every corr in a single map-side-combined
    HashAggregate over one scan — the way to get an n-column
    correlation matrix without n² scans.  D8 parity (corr agrees with
    DuckDB bit-for-bit on these columns) extends to the full matrix.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice", "qty_price"),
        ("l_quantity", "l_discount", "qty_disc"),
        ("l_quantity", "l_tax", "qty_tax"),
        ("l_extendedprice", "l_discount", "price_disc"),
        ("l_extendedprice", "l_tax", "price_tax"),
        ("l_discount", "l_tax", "disc_tax"),
    ]
    return li.agg(
        *[F.round(F.corr(a, b), 6).alias(n) for a, b, n in pairs]
    )


@query(
    "byte_entropy_text",
    oracle=r"""
    WITH s AS (
        SELECT doc_id,
               regexp_replace(lower(text), '[^a-z ]', '', 'g') AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM s
    ),
    freq AS (
        SELECT doc_id, substr(t, i, 1) AS ch, COUNT(*) AS c
        FROM pos GROUP BY doc_id, ch
    ),
    tot AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n FROM freq GROUP BY doc_id),
    ent AS (
        SELECT f.doc_id,
               ROUND(-SUM((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n)),
                     6) AS byte_entropy
        FROM freq f JOIN tot USING (doc_id)
        GROUP BY f.doc_id
    )
    SELECT s.doc_id, COALESCE(e.byte_entropy, 0.0) AS byte_entropy
    FROM s LEFT JOIN ent e USING (doc_id)
    """,
)
def byte_entropy_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-entropy profiling (M11 via L4 mapInArrow, first driver
    row): Shannon entropy of each document's payload bytes, computed
    zero-copy on Arrow RecordBatches — the quality signal that flags
    binary junk / encrypted blobs / base64 bombs inside a text corpus.

    The payload here is the document text sanitized to ``[a-z ]`` and
    utf-8 encoded, which makes byte == character — so a DuckDB oracle
    can recompute the exact entropy from a character-frequency
    aggregate.  The mapInArrow operator under test is the SAME one the
    rows-only media path uses (payload_entropy_arrow); only the
    payload source differs.  Map-only, no shuffle; the Arrow hop
    avoids the bytes→pandas-object copy that dominates at media scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", ""), "utf-8"
    )
    media = docs.select("doc_id", payload.alias("payload"))
    return payload_entropy_arrow(media)


@query(
    "multimodal_resize_real",
    oracle="""
    SELECT doc_id,
           CAST(16 AS INTEGER) AS width,
           CAST(8 AS INTEGER) AS height,
           CAST((doc_id * 37 + 11) % 251 AS DOUBLE) AS mean_luma,
           CAST(54 + 48 * 8 AS INTEGER) AS n_bytes
    FROM documents
    WHERE doc_id % 3 = 0
    """,
)
def multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 real-codec RESIZE (upgrades the stub branch): every BMP
    payload is nearest-neighbor resampled to 16x8, re-encoded through
    the padded-row BMP layout, and re-decoded — one mapInPandas pass.

    The oracle states the invariants from the synthesis arithmetic:
    constant-fill sources keep mean_luma exactly (doc_id*37+11)%251
    through a CORRECT resample (a stride bug dilutes it with padding
    zeros), dims become the target, and the re-encoded byte size is
    the exact BMP layout constant (54-byte header + 48-byte stride x 8
    rows).  Scale shape: map-only Arrow-batched transform, no shuffle;
    a real imaging library slots into the same inner function.
    """
    from insight_spark.operators.multimodal import resize_media_real

    docs = load_table(spark, sf_dir, "documents")
    media = attach_real_media_columns(docs).filter(
        F.col("mime") == "image/bmp"
    )
    return resize_media_real(media, 16, 8)


@query(
    "multimodal_audio_frames",
    oracle="""
    WITH wavs AS (
        SELECT doc_id, 32 + doc_id % 64 AS n
        FROM documents WHERE doc_id % 3 = 1
    ),
    frames AS (
        SELECT doc_id, n,
               unnest(range(0, (n + 15) // 16)) AS i
        FROM wavs
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS frame_idx,
           CAST(LEAST(16, n - 16 * i) AS INTEGER) AS n_samples,
           CAST((doc_id * 31 + (16 * i) * 7) % 4096 - 2048 AS INTEGER)
               AS first_sample
    FROM frames
    """,
)
def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 real-codec FRAME-SAMPLE (audio form): each WAV's RIFF data
    chunk is split into 16-sample frames, one output row per frame —
    mapInPandas emitting more rows than it receives, the canonical
    keyframe-extraction shape with a real chunk walk underneath.

    The oracle regenerates every frame's (count, first_sample) from
    the synthesis arithmetic: frame i starts at sample 16i, so
    first_sample = (doc_id*31 + 16i*7) % 4096 - 2048 and the tail
    frame carries n - 16i samples — a chunk-walk or slicing bug
    breaks the hash.
    """
    from insight_spark.operators.multimodal import audio_frames_real

    docs = load_table(spark, sf_dir, "documents")
    media = attach_real_media_columns(docs).filter(
        F.col("mime") == "audio/wav"
    )
    return audio_frames_real(media, 16)


@query(
    "multimodal_video_frames",
    oracle="""
    WITH vids AS (
        SELECT doc_id, 2 + doc_id % 4 AS n
        FROM documents WHERE doc_id % 3 = 2
    ),
    frames AS (
        SELECT doc_id, unnest(range(0, n)) AS f FROM vids
    )
    SELECT doc_id,
           CAST(f AS INTEGER) AS frame_idx,
           CAST((doc_id * 29 + f * 13) % 256 AS DOUBLE) AS mean_luma
    FROM frames WHERE f % 2 = 0
    """,
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 real-codec FRAME-SAMPLE (video form, r5): walk each Y4M
    stream's FRAME markers, compute every frame's Y-plane mean luma,
    and keep every 2nd frame — the keyframe-sampling pass a training
    pipeline runs before per-frame feature extraction, with a REAL
    planar 4:2:0 chunk walk underneath (a chroma-offset bug shifts
    every subsequent frame's plane and breaks the hash).

    The oracle regenerates each sampled frame's mean from the
    synthesis arithmetic: frame f's Y plane is a constant fill of
    (doc_id*29 + f*13) % 256, so the mean is that value exactly.
    """
    from insight_spark.operators.multimodal import (
        attach_real_media_columns,
        video_frames_real,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = attach_real_media_columns(docs).filter(
        F.col("mime") == "video/y4m"
    )
    return video_frames_real(media, every=2)


@query(
    "multimodal_image_features",
    oracle="""
    WITH imgs AS (
        SELECT doc_id FROM documents WHERE doc_id % 3 = 0
    ),
    bands AS (
        SELECT doc_id, unnest(range(0, 4)) AS b FROM imgs
    )
    SELECT doc_id,
           CAST(b AS INTEGER) AS band,
           CAST(((doc_id * 37 + (2 * b) * 5) % 256
                 + (doc_id * 37 + (2 * b + 1) * 5) % 256) AS DOUBLE) / 2
               AS band_mean
    FROM bands
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 real-codec FEATURE-EXTRACT (r5): synthesize row-gradient BMPs
    (image row r has constant luma (doc_id*37 + r*5) % 256, 8 rows),
    then extract a 4-band mean-luma feature vector by parsing the
    actual bytes — which forces the decoder to un-reverse BMP's
    bottom-up row storage and strip stride padding.  A decoder that
    reads rows in file order produces the bands REVERSED and fails the
    hash (constant-fill fixtures can't catch that orientation bug —
    this one exists to).

    The band means are exact halves (avg of two ints), so the oracle
    recomputes them from the synthesis arithmetic bit-exactly.  Shape:
    one mapInPandas over Arrow batches (encode + parse per row), 4
    rows out per image — the thumbnail-embedding extraction pass of a
    vision-data pipeline, with PIL swapping into the same inner loop.
    """
    from insight_spark.operators.codecs import (
        bmp_row_band_means,
        encode_bmp_rows,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 0
    )

    def feats(batches):
        for pdf in batches:
            ids, bands, means = [], [], []
            for d in pdf["doc_id"]:
                d = int(d)
                w = 8 + d % 8
                lumas = [(d * 37 + r * 5) % 256 for r in range(8)]
                blob = encode_bmp_rows(w, 8, lumas)
                for b, m in enumerate(bmp_row_band_means(blob, 4)):
                    ids.append(d)
                    bands.append(b)
                    means.append(m)
            out = pd.DataFrame(
                {"doc_id": ids, "band": bands, "band_mean": means}
            )
            out["band"] = out["band"].astype("int32")
            yield out

    return docs.select("doc_id").mapInPandas(
        feats, "doc_id long, band int, band_mean double"
    )


@query(
    "multimodal_prep_funnel",
    oracle="""
    WITH imgs AS (SELECT doc_id AS d FROM documents WHERE doc_id % 3 = 0),
    feats AS (
        SELECT d,
               list_transform(range(0, 4),
                   b -> CAST(((d * 37 + (2 * b) * 5) % 256
                              + (d * 37 + (2 * b + 1) * 5) % 256)
                        AS DOUBLE) / 2) AS bm
        FROM imgs
    ),
    exact AS (
        SELECT d % 256 AS ck, MIN(d) AS keep FROM imgs GROUP BY d % 256
    ),
    surv AS (SELECT f.* FROM feats f JOIN exact e ON f.d = e.keep),
    perc AS (
        SELECT list_transform(bm, x -> CAST(floor(x / 32) AS INTEGER))
                   AS pk,
               MIN(d) AS keep
        FROM surv GROUP BY 1
    ),
    pass AS (
        SELECT s.d FROM surv s JOIN perc p ON s.d = p.keep
        WHERE (bm[1] + bm[2] + bm[3] + bm[4]) / 4 >= 48
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM imgs) AS n_images,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact_unique,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM perc)
               AS n_perceptual_unique,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pass) AS n_quality_pass
    """,
)
def multimodal_prep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship #3 — the vision-side training-data lifecycle in one
    value-checked row, the multimodal twin of ``data_prep_funnel``:

    1. INGEST: the image modality (every 3rd doc, real row-gradient
       BMPs synthesized from doc_id — the ``multimodal_image_features``
       fixture);
    2. DECODE + FEATURE: parse actual BMP bytes (bottom-up row
       un-reversal and all) into a 4-band mean-luma vector, and
       sha-256 the payload — ONE Arrow-batched pass produces both;
    3. EXACT DEDUP: keep-min per content digest (the synthesis
       arithmetic makes doc_id ≡ doc_id' (mod 256) byte-identical, so
       the oracle can state the expected survivor set exactly);
    4. PERCEPTUAL NEAR-DUP: quantize each band to 1/32 buckets — a
       pHash-style coarse fingerprint — and keep-min per bucket
       (catches brightness-profile twins whose bytes differ);
    5. QUALITY GATE: drop too-dark survivors (mean band luma < 48).

    Every stage count rides the same decode output, so a codec bug, a
    digest bug, a quantization drift, or a keep-rule change each break
    the hash.  The decode output is localCheckpoint-ed ONCE and all
    four stage counts read it — re-decoding media per stage is the
    canonical multimodal-pipeline anti-pattern (decode dominates cost
    at 100 TB; persist features, never re-read payloads).  Counts
    assemble via 1-row broadcast crossJoins (no global shuffle).
    """
    import hashlib

    from insight_spark.operators.codecs import (
        bmp_row_band_means,
        encode_bmp_rows,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 0
    )

    def decode(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w = 8 + d % 8
                lumas = [(d * 37 + r * 5) % 256 for r in range(8)]
                blob = encode_bmp_rows(w, 8, lumas)
                bm = bmp_row_band_means(blob, 4)
                rows.append(
                    (d, hashlib.sha256(blob).hexdigest(), *bm)
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "digest", "b0", "b1", "b2", "b3"]
            )

    feats = docs.select("doc_id").mapInPandas(
        decode,
        "doc_id long, digest string, b0 double, b1 double, "
        "b2 double, b3 double",
    ).localCheckpoint()  # decode once; four stage counts read it

    n_images = feats.groupBy().agg(F.count("*").alias("n_images"))
    exact = feats.groupBy("digest").agg(F.min("doc_id").alias("doc_id"))
    n_exact = exact.groupBy().agg(F.count("*").alias("n_exact_unique"))
    surv = feats.join(exact.select("doc_id"), "doc_id")
    q = [F.floor(F.col(b) / 32).cast("int").alias("q" + b[1]) for b in
         ("b0", "b1", "b2", "b3")]
    perc = (
        surv.select("doc_id", "b0", "b1", "b2", "b3", *q)
        .groupBy("q0", "q1", "q2", "q3")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    n_perc = perc.groupBy().agg(F.count("*").alias("n_perceptual_unique"))
    brightness = (
        F.col("b0") + F.col("b1") + F.col("b2") + F.col("b3")
    ) / 4
    n_pass = (
        surv.join(perc.select("doc_id"), "doc_id")
        .filter(brightness >= 48)
        .groupBy()
        .agg(F.count("*").alias("n_quality_pass"))
    )
    return (
        n_images.crossJoin(F.broadcast(n_exact))
        .crossJoin(F.broadcast(n_perc))
        .crossJoin(F.broadcast(n_pass))
    )


_SQL_SURFACE_TEXT = """
    WITH revenue AS (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS total_spend,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(r.n_orders) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(r.total_spend) AS DOUBLE), 6) AS segment_spend
    FROM revenue r JOIN customer c ON r.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
"""


@query("sql_text_interface", oracle=_SQL_SURFACE_TEXT)
def sql_text_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SECOND entry mode: raw SQL text over registered
    views (`spark.sql(...)`), demonstrating that a user of the
    reference who writes SQL — CTEs, joins, aggregates — can run the
    same statements unchanged; the oracle IS the query text, so the
    check proves Spark SQL and DuckDB agree on the shared ANSI
    dialect (with the repo's decimal-sum discipline embedded in the
    statement itself).

    Catalyst treats SQL text and DataFrame calls identically after
    parsing — same optimized plan, same broadcast/pushdown behavior —
    so everything the plan guards assert for the DataFrame surface
    holds here too.
    """
    from insight_spark.sources import register_views

    register_views(spark, sf_dir, ("orders", "customer"))
    return spark.sql(_SQL_SURFACE_TEXT)


_RECURSIVE_WALK_TEXT = """
    WITH RECURSIVE ordered AS (
        SELECT o_custkey, o_orderkey,
               CAST(o_totalprice AS DECIMAL(38,6)) AS price,
               CAST(row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS rn
        FROM orders
    ),
    walk AS (
        SELECT o_custkey, rn, price AS running_total
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.o_custkey, o.rn,
               CAST(w.running_total + o.price AS DECIMAL(38,6))
        FROM walk w JOIN ordered o
          ON o.o_custkey = w.o_custkey AND o.rn = w.rn + 1
    )
    SELECT o_custkey,
           CAST(MAX(rn) AS INTEGER) AS n_orders,
           ROUND(CAST(MAX(running_total) AS DOUBLE), 6) AS lifetime_value
    FROM walk GROUP BY o_custkey
"""


@query("recursive_cte_walk", oracle=_RECURSIVE_WALK_TEXT)
def recursive_cte_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE executed natively by Catalyst (Spark 4) — the
    iterative-SQL surface the reference's SQL users reach for on
    hierarchies and chains, run VERBATIM on both engines (the
    ``sql_text_interface`` shared-dialect pattern).  The recursion
    walks each customer's date-ordered order chain accumulating an
    exact-decimal running total; the anchor is each chain's head and
    each step joins the successor rank, so the recursion is a DAG walk
    that terminates by construction (UNION ALL — Spark does not yet
    support the UNION-distinct fixpoint form, which is why the cyclic
    closure queries use the iterative CC operator instead).

    Scale: each recursion level is one (custkey, rn) equi-join against
    the rank-indexed order table — level count = the longest chain
    (25 on the fixture, bounded by orders-per-customer), level size
    shrinks as chains end; Spark materializes each level like the
    hand-rolled iterative operators do, but plans it from SQL text.
    The hash check proves Spark's recursive execution and DuckDB's
    agree step-for-step (the running total makes any divergence in
    walk order or step count visible, not just the final sum).
    """
    from insight_spark.sources import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_RECURSIVE_WALK_TEXT)


@query(
    "table_diff_reconcile",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(38,6)) AS price
        FROM orders WHERE o_orderkey <= 2000
    ),
    v2 AS (
        SELECT o_orderkey,
               o_orderstatus,
               CASE WHEN o_orderkey % 89 = 0
                    THEN CAST(o_totalprice AS DECIMAL(38,6))
                         + CAST(1.5 AS DECIMAL(38,6))
                    ELSE CAST(o_totalprice AS DECIMAL(38,6)) END AS price
        FROM orders
        WHERE o_orderkey <= 2000 AND o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(38,6))
        FROM orders WHERE o_orderkey <= 2000 AND o_orderkey % 101 = 0
    )
    SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
           CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                WHEN v2.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS status,
           ROUND(CAST(v1.price AS DOUBLE), 6) AS old_price,
           ROUND(CAST(v2.price AS DOUBLE), 6) AS new_price
    FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
    WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
       OR v1.price <> v2.price OR v1.o_orderstatus <> v2.o_orderstatus
    """,
)
def table_diff_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / data reconciliation (M136): given two versions
    of a table, emit the change log — added / removed / changed keys
    with before/after values — the migration-audit inverse of
    ``cdc_apply_log`` (which APPLIES such a log).  v2 is derived from
    v1 by deterministic perturbations (drops at %97, price changes at
    %89, inserts at %101) so both engines reconcile the identical
    pair.

    Scale shape: ONE full outer join on the key (both sides shuffle
    once on o_orderkey; AQE handles skew), null-safe column compares
    decide 'changed' — no row-hash string materialization, no second
    pass.  At 100 TB this is the reconciliation run after a backfill
    or engine migration: output size is the drift, not the table.
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") <= 2000).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(38,6)").alias("price"),
    )
    v2_kept = base.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 89 == 0,
            F.col("price") + F.lit(1.5).cast("decimal(38,6)"),
        )
        .otherwise(F.col("price"))
        .alias("price"),
    )
    v2_added = base.filter(F.col("o_orderkey") % 101 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        "o_orderstatus",
        "price",
    )
    v2 = v2_kept.unionByName(v2_added)
    v1 = base.select(
        F.col("o_orderkey").alias("k1"),
        F.col("o_orderstatus").alias("s1"),
        F.col("price").alias("p1"),
    )
    v2r = v2.select(
        F.col("o_orderkey").alias("k2"),
        F.col("o_orderstatus").alias("s2"),
        F.col("price").alias("p2"),
    )
    diff = v1.join(v2r, F.col("k1") == F.col("k2"), "full_outer")
    status = (
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .otherwise("changed")
    )
    return diff.filter(
        F.col("k1").isNull()
        | F.col("k2").isNull()
        | (F.col("p1") != F.col("p2"))
        | (F.col("s1") != F.col("s2"))
    ).select(
        F.coalesce("k1", "k2").alias("o_orderkey"),
        status.alias("status"),
        F.round(F.col("p1").cast("double"), 6).alias("old_price"),
        F.round(F.col("p2").cast("double"), 6).alias("new_price"),
    )


@query(
    "join_size_estimate",
    oracle="""
    WITH ka AS (
        SELECT o_custkey AS k, COUNT(*) AS ca FROM orders GROUP BY o_custkey
    ),
    kb AS (
        SELECT c_custkey AS k, COUNT(*) AS cb FROM customer GROUP BY c_custkey
    ),
    est AS (
        SELECT CAST(SUM(ca * cb) AS BIGINT) AS est_rows,
               CAST(COUNT(*) AS BIGINT) AS n_common_keys
        FROM ka JOIN kb USING (k)
    ),
    act AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT est.est_rows, est.n_common_keys, act.actual_rows,
           est.est_rows = act.actual_rows AS exact_match
    FROM est, act
    """,
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from per-key statistics (M138): the
    planner-statistics identity |A ⋈ B| = Σ_k cnt_A(k)·cnt_B(k),
    computed from each side's key histogram and checked against the
    actual join count in the same result row — the cost-model building
    block behind join reordering and broadcast decisions, here exact
    (per-key counts) where a planner would use sketched NDV/histograms.

    Scale shape: two map-side-combined key histograms (each a
    word-count shuffle of its table's KEYS only), one key-keyed join
    of the histograms (|distinct keys| rows, not |rows|), one
    integer-product sum.  The verification join is the expensive part
    and exists only because the query proves its own estimate; a real
    planner runs just the histogram side — O(|keys|) state for a
    100 TB join decision.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    ka = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").alias("ca")
    )
    kb = cust.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count("*").alias("cb")
    )
    est = ka.join(kb, "k").agg(
        F.sum(F.col("ca") * F.col("cb")).cast("long").alias("est_rows"),
        F.count("*").cast("long").alias("n_common_keys"),
    )
    act = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .agg(F.count("*").cast("long").alias("actual_rows"))
    )
    return est.crossJoin(act).select(
        "est_rows",
        "n_common_keys",
        "actual_rows",
        (F.col("est_rows") == F.col("actual_rows")).alias("exact_match"),
    )


@query(
    "json_validity_audit",
    oracle="""
    WITH raw AS (
        SELECT event_type,
               CASE WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 1)
                         IN ('0', '1')
                    THEN substr(props, 1, greatest(len(props) - 2, 0))
                    ELSE props
               END AS p
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(count_if(NOT json_valid(p)) AS BIGINT) AS n_invalid,
           CAST(count_if(json_valid(p)) AS DOUBLE) / COUNT(*)
               AS valid_frac
    FROM raw GROUP BY event_type
    """,
)
def json_validity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON validity audit (M199): per event type, how many payloads
    fail to parse — the dead-letter accounting every ingestion
    pipeline runs before `json_extract_agg`-style consumers trust a
    props column (a malformed payload silently nulls out of
    get_json_object; this table says how much is silently missing).
    The fixture's props are all valid, so a deterministic md5-keyed
    truncation (~1/8 of events lose their closing chars — the classic
    mid-object log truncation) stands in for real corruption, the
    M176 pattern.

    Parity: validity = Spark ``try_parse_json IS NOT NULL`` vs DuckDB
    ``json_valid`` — both RFC-8259 parsers; the stand-in corruption
    produces unambiguously-invalid fragments (truncated objects), so
    the engines agree on every row by construction.

    Scale: map-only parse + one |event types|-keyed aggregate; counts
    exact BIGINTs, valid_frac ONE IEEE division.
    """
    ev = load_table(spark, sf_dir, "events")
    h = F.substring(F.md5(F.col("event_id").cast("string")), 1, 1)
    p = F.when(
        h.isin("0", "1"),
        F.expr("substr(props, 1, greatest(length(props) - 2, 0))"),
    ).otherwise(F.col("props"))
    raw = ev.select("event_type", p.alias("p"))
    valid = F.expr("try_parse_json(p) IS NOT NULL")
    return raw.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.count_if(~valid).cast("long").alias("n_invalid"),
        (F.count_if(valid).cast("double") / F.count("*")).alias(
            "valid_frac"
        ),
    )


@query(
    "phash_image_clusters",
    oracle="""
    WITH h AS (
        SELECT doc_id,
               list_transform(range(0, 8),
                   r -> (doc_id % 17 * 29 + r * 31) % 200
                        + (doc_id // 17) % 7) AS rl
        FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               list_sum(list_transform(range(0, 8),
                   r -> CASE WHEN 8 * rl[r + 1] > list_sum(rl)
                             THEN 1 << r ELSE 0 END)) AS phash
        FROM h
    )
    SELECT CAST(phash AS INTEGER) AS phash,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM hashed GROUP BY phash
    """,
)
def phash_image_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup clustering (M216) over the REAL
    codec path: synthesize a row-structured BMP per doc (17 content
    groups x 7 brightness offsets — same group = same picture, shifted
    exposure), round-trip it through the pure-Python encoder/decoder,
    compute an 8-band average-hash from the DECODED band means (bit r
    = band mean above the global mean), and cluster by hash equality.

    The aHash is brightness-INVARIANT (a constant offset moves every
    band and the global mean together), so the 7 exposure variants of
    each content group MUST collapse into one cluster — the core
    image-dedup property (re-encoded/re-exposed crawl duplicates) that
    byte-level dedup can never see.  The oracle replays the synthesis
    arithmetic closed-form: a stride, orientation, or band-boundary
    bug in the real decoder lands in the hash.

    Exactness: with 8 bands on an 8-row image each band mean is one
    integer row luma (exact in float64); the bit test is the integer
    comparison 8·band > Σbands on both sides.  Scale: encode→decode→
    hash is one Arrow-batched mapInPandas scan (map-only, stateless),
    then a bounded groupBy on ≤2^8 hash keys — no pairwise anything;
    the cluster table IS the dedup assignment.
    """
    from collections.abc import Iterator

    from insight_spark.operators.codecs import (
        bmp_row_band_means,
        encode_bmp_rows,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth_decode_hash(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for d in pdf["doc_id"]:
                d = int(d)
                rl = [
                    (d % 17 * 29 + r * 31) % 200 + (d // 17) % 7
                    for r in range(8)
                ]
                data = encode_bmp_rows(8, 8, rl)
                bands = bmp_row_band_means(data, 8)  # real decode
                total = sum(bands)
                hashes.append(
                    sum(
                        (1 << r)
                        for r, m in enumerate(bands)
                        if 8 * m > total
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "phash": hashes}
            )

    hashed = docs.mapInPandas(
        synth_decode_hash, "doc_id long, phash int"
    )
    return hashed.groupBy("phash").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(
    "wav_fingerprint_clusters",
    oracle="""
    WITH p AS (
        SELECT doc_id,
               list_transform(range(0, 64),
                   i -> abs(((doc_id % 13 * 31 + i * 7) % 1025) - 512)
                        * (1 + (doc_id // 13) % 3)) AS a
        FROM documents
    ),
    fr AS (
        SELECT doc_id,
               list_transform(range(0, 8),
                   f -> list_sum(list_transform(range(0, 8),
                                                j -> a[f * 8 + j + 1]))) AS fe
        FROM p
    ),
    hashed AS (
        SELECT doc_id,
               list_sum(list_transform(range(0, 8),
                   f -> CASE WHEN 8 * fe[f + 1] > list_sum(fe)
                             THEN 1 << f ELSE 0 END)) AS fp
        FROM fr
    )
    SELECT CAST(fp AS INTEGER) AS fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM hashed GROUP BY fp
    """,
)
def wav_fingerprint_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprint near-dup clustering (M217) — the WAV twin of
    ``phash_image_clusters``, completing the multimodal dedup story:
    synthesize a mono PCM-16 waveform per doc (13 content groups x 3
    VOLUME levels — same group = same recording at different gain),
    round-trip through the real RIFF encoder/decoder, fingerprint as
    8 frame-energy bits (frame mean|sample| above the global mean),
    cluster by fingerprint equality.

    The energy fingerprint is GAIN-invariant (scaling every sample
    scales all frame energies and their mean together), so the 3
    volume variants of each recording MUST collapse — the re-encoded/
    re-levelled audio-dup property byte hashing can't see.  The oracle
    replays the synthesis arithmetic in exact integers (8·frame_sum >
    Σframe_sums, equivalent to the engine's float-mean compare because
    /8 is exact in binary floating point), so a chunk-walk, sample-
    width, or frame-boundary bug in the decoder lands in the hash.

    Scale: encode→decode→fingerprint is one Arrow-batched mapInPandas
    scan, then a bounded groupBy on ≤256 keys — map-only, no pairs.
    """
    from collections.abc import Iterator

    from insight_spark.operators.codecs import (
        encode_wav,
        wav_frame_energies,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth_decode_fp(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps = []
            for d in pdf["doc_id"]:
                d = int(d)
                gain = 1 + (d // 13) % 3
                samples = [
                    (((d % 13) * 31 + i * 7) % 1025 - 512) * gain
                    for i in range(64)
                ]
                data = encode_wav(samples, 16000)
                fe = wav_frame_energies(data, 8)  # real decode
                total = sum(fe)
                fps.append(
                    sum(
                        (1 << f)
                        for f, e in enumerate(fe)
                        if 8 * e > total
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "fp": fps})

    hashed = docs.mapInPandas(synth_decode_fp, "doc_id long, fp int")
    return hashed.groupBy(F.col("fp").alias("fingerprint")).agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(
    "video_keyframe_select",
    oracle="""
    WITH vids AS (
        SELECT doc_id, 2 + doc_id % 4 AS n
        FROM documents WHERE doc_id % 3 = 2
    ),
    frames AS (
        SELECT doc_id,
               CAST(unnest(range(0, n)) AS INTEGER) AS frame_idx
        FROM vids
    ),
    lumas AS (
        SELECT doc_id, frame_idx,
               CAST((doc_id * 29 + frame_idx * 13) % 256 AS DOUBLE)
                   AS mean_luma
        FROM frames
    ),
    deltas AS (
        SELECT doc_id, frame_idx, mean_luma,
               abs(mean_luma - LAG(mean_luma) OVER (
                   PARTITION BY doc_id ORDER BY frame_idx
               )) AS d
        FROM lumas
    )
    SELECT doc_id, frame_idx, mean_luma,
           CAST(COALESCE(d, 0.0) AS DOUBLE) AS abs_delta
    FROM deltas
    WHERE frame_idx = 0 OR d >= 20.0
    """,
)
def video_keyframe_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video KEYFRAME selection by scene change (M282): decode every
    Y4M frame's mean luma (the REAL planar 4:2:0 walk underneath —
    `multimodal_video_frames`' codec path), then keep frame 0 plus
    every frame whose luma jumps ≥20 from its predecessor — the
    content-adaptive frame sampler a video training pipeline runs
    INSTEAD of fixed-stride sampling (stride-2 keeps redundant frames
    inside a static scene and misses cuts between its picks; delta
    selection keeps exactly the scene boundaries).

    The synthesis fill (doc_id·29 + f·13) % 256 makes consecutive
    deltas 13 (kept out) except where the fill WRAPS past 256 (a
    243-jump — the synthetic scene cut), so the fixture genuinely
    exercises both branches and the oracle replays the arithmetic
    closed-form.  Luma means are exact integers in double; the delta
    and threshold compare identical doubles both engines.

    Scale: one Arrow mapInPandas decode pass (map-only — decode work
    ∝ bytes scanned), then a lag window PARTITIONED per video over
    that video's ≤n frames — no global anything; output is the
    keyframe table feature extraction feeds on.
    """
    from insight_spark.operators.multimodal import (
        attach_real_media_columns,
        video_frames_real,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = attach_real_media_columns(docs).filter(
        F.col("mime") == "video/y4m"
    )
    from pyspark.sql.window import Window

    frames = video_frames_real(media, every=1)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    d = frames.withColumn(
        "d", F.abs(F.col("mean_luma") - F.lag("mean_luma").over(w))
    )
    return d.filter(
        (F.col("frame_idx") == 0) | (F.col("d") >= 20.0)
    ).select(
        "doc_id",
        "frame_idx",
        "mean_luma",
        F.coalesce(F.col("d"), F.lit(0.0)).alias("abs_delta"),
    )


@query(
    "sargable_rewrite_probe",
    oracle="""
    SELECT event_type,
           CAST(count_if(date_trunc('day', ts)
                         = TIMESTAMP '2024-01-15 00:00:00') AS BIGINT)
               AS n_naive,
           CAST(count_if(ts >= TIMESTAMP '2024-01-15 00:00:00'
                         AND ts < TIMESTAMP '2024-01-16 00:00:00')
                AS BIGINT) AS n_sargable,
           CAST(count_if(date_trunc('day', ts)
                         = TIMESTAMP '2024-01-15 00:00:00')
                = count_if(ts >= TIMESTAMP '2024-01-15 00:00:00'
                           AND ts < TIMESTAMP '2024-01-16 00:00:00')
                AS INT) AS rewrite_agrees
    FROM events GROUP BY event_type
    """,
)
def sargable_rewrite_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sargable-predicate rewrite probe (M289): the day-equality
    predicate every analyst writes first — date_trunc('day', ts) = D
    — wrapped in a function call NO engine can push into a parquet
    scan (the column is inside an expression), against its sargable
    rewrite ts ∈ [D, D+1day).  The value hash proves the two
    predicates select identical rows per event type; the PLAN
    difference — the rewrite reaches the scan as PushedFilters /
    row-group pruning bounds, the naive form scans everything and
    filters post-hoc — is asserted in tests/test_plans-style pins
    (tests/test_r10_ops.py).

    This is the query-authoring discipline that decides whether a
    time-ranged probe on a 100 TB event table reads one day's row
    groups or thirty days' — the same IO cliff `hidden_partition_
    pruning` (M281) solves at the LAYOUT level, solved here at the
    PREDICATE level (the two compose: sargable predicate + hidden
    partitioning = static day pruning AND row-group stats pruning).

    Scale: one scan, one |types|-keyed map-side aggregate; both
    predicates evaluated as codegen'd conditional counts.
    """
    ev = load_table(spark, sf_dir, "events")
    d0 = F.lit("2024-01-15 00:00:00").cast("timestamp")
    d1 = F.lit("2024-01-16 00:00:00").cast("timestamp")
    naive = F.count_if(F.date_trunc("day", F.col("ts")) == d0)
    sarg = F.count_if((F.col("ts") >= d0) & (F.col("ts") < d1))
    return ev.groupBy("event_type").agg(
        naive.cast("long").alias("n_naive"),
        sarg.cast("long").alias("n_sargable"),
        (naive == sarg).cast("int").alias("rewrite_agrees"),
    )
