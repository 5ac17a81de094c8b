"""Source/sink round-trip queries (SURVEY §2.A3/A4/A5b/A6, driver-checkable).

The A-family formats (csv, json-lines, ORC, partitioned parquet) have
pytest round-trips but no driver rows — the driver only compares query
results against DuckDB on the fixture parquet.  These queries close
that gap: each writes a deterministic fixture subset through the
format under test to /tmp, reads it back, and returns the rows — so
the driver's value-hash check verifies the full write→read cycle
against the oracle's direct parquet read.  A format that dropped a
row, mangled a type, or reordered a partition would hash-mismatch.

Write target is a fixed per-(format, sf) path with mode=overwrite:
rerun-safe (the determinism gate runs every query twice).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from insight_spark.engine import run_concurrently, scratch_base
from insight_spark.operators.similarity import embedding_sql, ivf_cells_ctes
from insight_spark.operators.text import token_set_sql, tokens_sql
from insight_spark.queries import query
from insight_spark.sources import load_table

#: r13: node-local scratch (tmpfs when present — engine.scratch_base),
#: same harness posture as the streaming checkpoints since r12.  The
#: format/manifest round-trips are small-file-churn bound (dozens of
#: parquet files + JSON manifests per run); on a disk-backed /tmp that
#: churn dominated their bench entries (manifest_delete_roundtrip
#: 0.99 → 3.70 s across boxes) and injected write-back variance.
#: Local-harness tuning, NOT a scale claim: a cluster's tables and
#: manifest logs live on durable storage addressed by its own scheme.
_RT_BASE = os.path.join(scratch_base(), "sources_rt")


def _rt_path(sf_dir: str, name: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(_RT_BASE, tag, name)


#: The deterministic subset: 100 lowest-key orders, scalar columns only.
_SUBSET_ORACLE = """
    SELECT o_orderkey, o_orderstatus, o_orderpriority
    FROM orders
    ORDER BY o_orderkey
    LIMIT 100
"""


def _subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .orderBy("o_orderkey")
        .limit(100)
    )


_SUBSET_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)


@query("csv_roundtrip", oracle=_SUBSET_ORACLE)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink+scan round-trip (A3): header on, explicit schema on the
    read side (inference is for ad-hoc only — a schema drift between
    write and read is exactly what this query would catch)."""
    path = _rt_path(sf_dir, "csv")
    _subset(spark, sf_dir).write.mode("overwrite").option("header", True).csv(path)
    from insight_spark.sources import read_csv

    return read_csv(spark, path, schema=_SUBSET_SCHEMA)


@query("json_roundtrip", oracle=_SUBSET_ORACLE)
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink+scan round-trip (A4), explicit read schema."""
    path = _rt_path(sf_dir, "json")
    _subset(spark, sf_dir).write.mode("overwrite").json(path)
    from insight_spark.sources import read_json

    return read_json(spark, path, schema=_SUBSET_SCHEMA)


@query("xml_roundtrip", oracle=_SUBSET_ORACLE)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink+scan round-trip (A4b) — the spark-xml connector merged
    into Spark 4 core, exercised both directions with an explicit
    rowTag and a read schema (element text → typed columns).  The
    remaining text-format interchange surface after CSV/JSON: feed
    systems and enterprise exports still speak XML."""
    path = _rt_path(sf_dir, "xml")
    (
        _subset(spark, sf_dir)
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "orders")
        .option("rowTag", "order")
        .save(path)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(_SUBSET_SCHEMA)
        .load(path)
    )


@query(
    "orc_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
    FROM lineitem
    WHERE l_orderkey <= 100
    """,
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink+scan round-trip (A5b) with full-fidelity types (double,
    timestamp) — binary columnar format, no text-formatting loss."""
    path = _rt_path(sf_dir, "orc")
    (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 100)
        .select(
            "l_orderkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_shipdate",
        )
        .write.mode("overwrite")
        .orc(path)
    )
    from insight_spark.sources import read_orc

    return read_orc(spark, path)


@query(
    "partitioned_sink_roundtrip",
    oracle="""
    SELECT o_orderstatus, o_orderkey, o_orderpriority
    FROM orders
    WHERE o_orderkey <= 500 AND o_orderstatus = 'F'
    """,
)
def partitioned_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink round-trip (A6): write partitionBy
    (o_orderstatus), read back with a partition filter — the read scans
    only the matching directory (partition pruning at the source), and
    the partition column is reconstructed from the path.  The hash
    check proves the hive-style layout loses nothing."""
    path = _rt_path(sf_dir, "part_parquet")
    (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 500)
        .select("o_orderkey", "o_orderpriority", "o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    return (
        spark.read.parquet(path)
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderstatus", "o_orderkey", "o_orderpriority")
    )


@query(
    "schema_merge_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderkey <= 50
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_orderpriority
    FROM orders WHERE o_orderkey > 50 AND o_orderkey <= 100
    """,
)
def schema_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution ingest (lakehouse A-surface): two parquet
    batches written with DIFFERENT schemas — v1 lacks the
    o_orderpriority column a later producer added — read back as one
    table with ``mergeSchema``, v1 rows null-filled for the new
    column.

    This is the drift case every long-lived 100 TB table hits
    (producers upgrade, history doesn't); mergeSchema resolves the
    union-of-fields at the footer level, so old files are never
    rewritten and the scan stays parquet-native.  The value check
    proves no row or column is lost or misaligned across versions.
    """
    base = _rt_path(sf_dir, "schema_merge")
    orders = load_table(spark, sf_dir, "orders")
    (
        orders.filter(F.col("o_orderkey") <= 50)
        .select("o_orderkey", "o_orderstatus")
        .write.mode("overwrite")
        .parquet(os.path.join(base, "v=1"))
    )
    (
        orders.filter((F.col("o_orderkey") > 50) & (F.col("o_orderkey") <= 100))
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(os.path.join(base, "v=2"))
    )
    merged = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(base)
    return merged.select("o_orderkey", "o_orderstatus", "o_orderpriority")


def _media_files_dir(spark: SparkSession, sf_dir: str) -> str:
    """Get-or-create a directory of real media FILES (one per doc) for
    the binaryFile source: BMP/WAV/Y4M payloads synthesized from
    doc_id (operators/multimodal.attach_real_media_columns).  Written
    via foreachPartition — each task writes its own rows, the same
    shape as a distributed per-object PUT to an object store; no
    driver-side row loop.  Tagged by the source parquet size+mtime so
    fixture refreshes invalidate the cache.
    """
    from insight_spark.operators.multimodal import attach_real_media_columns

    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    # v2: video branch became real Y4M in r5 — the version bump
    # invalidates media trees cached by earlier rounds
    tag = f"media_v2_{st.st_size}_{st.st_mtime_ns}"
    out = _rt_path(sf_dir, tag)
    marker = os.path.join(out, "_READY")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents")
    media = attach_real_media_columns(docs)
    ext = {"image/bmp": "bmp", "audio/wav": "wav", "video/y4m": "y4m"}

    def write_part(rows):
        for r in rows:
            p = os.path.join(out, f"{r['doc_id']}.{ext[r['mime']]}")
            tmp = p + ".tmp"
            with open(tmp, "wb") as f:
                f.write(bytes(r["payload"]))
            os.replace(tmp, p)

    media.foreachPartition(write_part)
    open(marker, "w").close()
    return out


@query(
    "binary_stats",
    oracle="""
    WITH sz AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image/bmp'
                               WHEN 1 THEN 'audio/wav'
                               ELSE 'video/y4m' END AS mime,
               CASE doc_id % 3
                   WHEN 0 THEN 54 + ((3 * (8 + doc_id % 16) + 3) // 4 * 4)
                                    * (4 + doc_id % 8)
                   WHEN 1 THEN 44 + 2 * (32 + doc_id % 64)
                   ELSE len('YUV4MPEG2 W' || (8 + (doc_id % 4) * 2)
                            || ' H' || (4 + (doc_id % 3) * 2)
                            || ' F25:1 Ip A1:1 C420') + 1
                        + (2 + doc_id % 4)
                          * (6 + (8 + (doc_id % 4) * 2) * (4 + (doc_id % 3) * 2)
                               + 2 * ((8 + (doc_id % 4) * 2) // 2)
                                   * ((4 + (doc_id % 3) * 2) // 2))
               END AS n_bytes
        FROM documents
    )
    SELECT mime,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(MIN(n_bytes) AS BIGINT) AS min_bytes,
           CAST(MAX(n_bytes) AS BIGINT) AS max_bytes
    FROM sz
    GROUP BY mime
    ORDER BY mime
    """,
)
def binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source evidence (A11, first driver row): write one
    real media file per document (BMP/WAV/Y4M, payloads
    synthesized from doc_id), scan the directory with Spark's
    ``binaryFile`` format, and aggregate per-mime file counts and size
    stats from the scan's ``length`` column.

    The oracle recomputes every file size from the codec layout
    arithmetic (BMP = 54-byte header + stride-padded rows; WAV = 44 +
    2·n_samples; Y4M = text header + per-frame 6-byte marker + planar
    4:2:0 payload) — a header-layout
    change, a dropped file, or a listing bug breaks the hash.  The
    scan itself never reads file CONTENT for this query: (path,
    length) come from the file listing, so column pruning keeps the
    payload bytes off the wire — the at-scale pattern for media-corpus
    inventory passes.
    """
    from insight_spark.sources import read_binary_files

    d = _media_files_dir(spark, sf_dir)
    files = read_binary_files(spark, d, glob="*.{bmp,wav,y4m}")
    mime = F.when(F.col("path").endswith(".bmp"), "image/bmp").otherwise(
        F.when(F.col("path").endswith(".wav"), "audio/wav").otherwise(
            "video/y4m"
        )
    )
    return (
        files.select(mime.alias("mime"), F.col("length").alias("n_bytes"))
        .groupBy("mime")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("n_bytes").alias("total_bytes"),
            F.min("n_bytes").alias("min_bytes"),
            F.max("n_bytes").alias("max_bytes"),
        )
        .orderBy("mime")
    )


@query(
    "shard_export_counts",
    oracle="""
    WITH sharded AS (
        SELECT n_chars,
               CAST(list_reduce(list_transform(range(1, 9),
                        i -> CAST(strpos('0123456789abcdef',
                                  substr(md5(CAST(doc_id AS VARCHAR)), i, 1))
                                  - 1 AS BIGINT)),
                    (acc, x) -> acc * 16 + x) % 8 AS INTEGER) AS shard
        FROM documents
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM sharded
    GROUP BY shard
    ORDER BY shard
    """,
)
def shard_export_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard export round-trip (M5, first driver row): write
    the documents table into 8 hive-partitioned shards (shard =
    md5(doc_id) first-8-hex mod 8 — content-keyed, reproducible across
    engines and re-runs), read the shard tree back, and aggregate
    per-shard doc counts and char totals.

    The oracle recomputes the shard assignment arithmetic in DuckDB
    (hex fold of the same md5 prefix), so a repartition bug, a dropped
    shard directory, or a hash change breaks the value hash.  The
    read back goes through partition discovery — shard is a directory
    column, so a trainer reading shard i scans one directory
    (partition pruning), which is the whole point of the layout.
    """
    from insight_spark.sources.sinks import write_training_shards

    docs = load_table(spark, sf_dir, "documents")
    out_dir = _rt_path(sf_dir, "training_shards")
    write_training_shards(
        docs.select("doc_id", "n_chars", "text"), out_dir, "doc_id", 8
    )
    back = spark.read.parquet(out_dir)
    return (
        back.groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("shard")
    )


@query(
    "bucketed_join_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact-fact join (A6b): write orders and
    lineitem bucketed by the JOIN KEY (8 buckets, sorted, one file per
    bucket via a same-hash repartition), read both back through the
    catalog, and sort-merge-join them WITHOUT a shuffle — the
    pre-shuffle-once / join-many-times layout that turns the biggest
    recurring exchange in a 100 TB star schema into a one-time write
    cost.  Plan-asserted: the only Exchange left is the small
    post-join priority aggregate.

    The quantity sum casts to BIGINT per row before aggregation
    (TPC-H quantities are integer-valued doubles), keeping the
    round-trip value-exact on both engines.
    """
    import re as _re

    from insight_spark.sources.sinks import write_bucketed

    tag = _re.sub(r"[^a-z0-9]", "_", os.path.basename(os.path.normpath(sf_dir)))
    base = _rt_path(sf_dir, "bucketed")
    n_buckets = 8
    t_orders, t_lineitem = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"

    # r13 (guide §2.6): the two bucketed table writes are independent
    # jobs over distinct tables/paths — overlap them from two driver
    # threads (the lineitem write is ~6× the orders write, so the
    # orders job back-fills its tail for free).  Each side repartitions
    # by the same hash as bucketBy, so each write leaves exactly 1 file
    # per bucket.
    def _write_orders() -> None:
        write_bucketed(
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority")
            .repartition(n_buckets, "o_orderkey"),
            t_orders,
            base,
            ["o_orderkey"],
            n_buckets,
        )

    def _write_lineitem() -> None:
        write_bucketed(
            load_table(spark, sf_dir, "lineitem")
            .select(
                "l_orderkey", F.col("l_quantity").cast("long").alias("qty")
            )
            .repartition(n_buckets, "l_orderkey"),
            t_lineitem,
            base,
            ["l_orderkey"],
            n_buckets,
        )

    run_concurrently(_write_orders, _write_lineitem)
    o = spark.table(t_orders)
    li = spark.table(t_lineitem)
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("qty").alias("sum_qty"),
        )
    )


@query(
    "compaction_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority
    FROM orders WHERE o_orderkey <= 2000
    """,
)
def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction (A6c): the #1 recurring maintenance op on
    a long-lived 100 TB table.  Stage 1 writes the subset fragmented
    (maxRecordsPerFile=50 — the shape a streaming ingest or
    over-parallel job leaves behind); stage 2 compacts by reading the
    fragment tree and rewriting through a single coalesced partition
    with the cap lifted.  The returned rows come from the COMPACTED
    tree, so the value hash proves compaction is loss- and
    duplication-free; the file-count collapse is asserted in
    tests/test_plans.py (fragmented >> compacted).

    At scale the coalesce(1) becomes repartition(target_file_count) or
    a size-based `spark.sql.files.maxPartitionBytes`-aligned rewrite;
    the read-rewrite-swap shape is identical.
    """
    frag = _rt_path(sf_dir, "compact_frag")
    compact = _rt_path(sf_dir, "compact_out")
    subset = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
    )
    (
        subset.write.mode("overwrite")
        .option("maxRecordsPerFile", 50)
        .parquet(frag)
    )
    (
        spark.read.parquet(frag)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(compact)
    )
    return spark.read.parquet(compact)


@query("avro_roundtrip", oracle=_SUBSET_ORACLE)
def avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro sink+scan round-trip (A5b gap closure, r5): the external
    spark-avro connector is absent offline, so the write and read go
    through the repo's zero-dependency spec-compliant object-container
    codec (operators/avro_codec.py) — files any standard Avro tool can
    read.

    Write side: foreachPartition serializes each partition into ONE
    container file (the distributed per-task PUT shape — no driver
    row loop); read side: ``binaryFile`` listing + mapInPandas block
    walk, schema recovered from each file's own embedded metadata.
    Swapping in spark-avro later is a two-line change
    (``.format("avro")`` both ways); the value hash proves the
    round-trip is lossless either way.
    """
    import glob

    from insight_spark.operators.avro_codec import (
        make_schema,
        read_avro_bytes,
        write_avro_bytes,
    )

    out = _rt_path(sf_dir, "avro")
    os.makedirs(out, exist_ok=True)
    for stale in glob.glob(os.path.join(out, "*.avro")):
        os.remove(stale)
    schema = make_schema(
        "orders_subset",
        [
            ("o_orderkey", "long"),
            ("o_orderstatus", "string"),
            ("o_orderpriority", "string"),
        ],
    )

    def write_part(rows):
        import uuid

        recs = [
            (r["o_orderkey"], r["o_orderstatus"], r["o_orderpriority"])
            for r in rows
        ]
        if not recs:
            return
        p = os.path.join(out, f"part-{uuid.uuid4().hex}.avro")
        tmp = p + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(write_avro_bytes(recs, schema))
        os.replace(tmp, p)

    _subset(spark, sf_dir).foreachPartition(write_part)

    from insight_spark.sources import read_binary_files

    files = read_binary_files(spark, out, glob="*.avro")

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            keys, stats, prios = [], [], []
            for content in pdf["content"]:
                _sch, rows = read_avro_bytes(bytes(content))
                for k, s, p in rows:
                    keys.append(k)
                    stats.append(s)
                    prios.append(p)
            yield pd.DataFrame(
                {
                    "o_orderkey": pd.Series(keys, dtype="int64"),
                    "o_orderstatus": pd.Series(stats, dtype="object"),
                    "o_orderpriority": pd.Series(prios, dtype="object"),
                }
            )

    return files.select("content").mapInPandas(
        decode,
        "o_orderkey long, o_orderstatus string, o_orderpriority string",
    )


@query(
    "dynamic_partition_overwrite",
    oracle="""
    SELECT o_orderstatus, o_orderkey,
           CASE WHEN o_orderstatus = 'F' AND o_orderkey <= 500
                THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE o_orderkey <= 500
    """,
)
def dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition backfill (A6d): rewrite ONE partition of a
    status-partitioned table with corrected data while every other
    partition's files stay untouched — `partitionOverwriteMode=dynamic`,
    the daily-restatement primitive of a partitioned 100 TB lakehouse
    table (static mode would wipe the whole root; dynamic replaces only
    the partitions present in the incoming frame).

    The round-trip: write the subset partitioned by status, then
    overwrite just the 'F' partition with doubled prices, read the
    whole tree back.  The value hash proves (a) the backfill landed,
    (b) no other partition was dropped or duplicated.
    """
    path = _rt_path(sf_dir, "dyn_overwrite")
    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 500)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )
    base.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    fixed = (
        base.filter(F.col("o_orderstatus") == "F")
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    (
        fixed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    return spark.read.parquet(path).select(
        "o_orderstatus", "o_orderkey", "o_totalprice"
    )


@query("jdbc_roundtrip", oracle=_SUBSET_ORACLE)
def jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JDBC sink+scan round-trip (A8, upgraded r5 from the
    parquet stand-in): ``df.write.jdbc`` batch-INSERTs the subset into
    an embedded Apache Derby database (the JDBC driver Spark already
    ships for its metastore), ``spark.read.jdbc`` scans it back
    through the same driver — the exact code path a PostgreSQL
    serving layer uses; production swaps the URL and driver class,
    nothing else.

    The value hash proves type mapping (BIGINT/VARCHAR) and row
    fidelity survive the SQL-database round trip.

    Derby writes its ``derby.log`` where ``derby.stream.error.file``
    points when the engine boots (the process's working directory by
    default), so the property is set to this query's dir first.  It is
    a JVM-wide system property, read once per boot: a JVM that already
    booted Derby keeps its log where it is.
    """
    import re as _re

    from insight_spark.sources.sinks import read_jdbc, write_jdbc

    tag = _re.sub(r"[^a-z0-9]", "_", os.path.basename(os.path.normpath(sf_dir)))
    path = _rt_path(sf_dir, "derby")
    os.makedirs(path, exist_ok=True)
    spark.sparkContext._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", os.path.join(path, "derby.log")
    )
    url = f"jdbc:derby:{path}/db;create=true"
    table = f"orders_subset_{tag}"
    write_jdbc(_subset(spark, sf_dir), url, table)
    return read_jdbc(spark, url, table)


@query(
    "search_index_probe",
    oracle=rf"""
    SELECT 'the' AS term, doc_id
    FROM (SELECT DISTINCT doc_id
          FROM (SELECT doc_id,
                       unnest({tokens_sql('text')}) AS term
                FROM documents)
          WHERE term = 'the')
    ORDER BY doc_id
    """,
)
def search_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 serving path, driver-checked end to end: build the search
    index sink (bucketed doc store + bucketed/sorted inverted-index
    posting table — the ES segment + term-dictionary layout), then
    serve a single-term lookup from it and return the exploded
    posting list.  The value hash proves the sink's explode→groupBy
    posting build and the read-back both preserve exact doc
    membership.

    The probe filter hits the posting table's bucket column, so the
    scan's bucket set keeps 1 of n_buckets files (a file filter on a
    plain, non-bucketed scan — the lookup is one task; plan-asserted
    in tests/test_plans.py) — a point lookup stays O(index/n_buckets)
    IO no matter how large the term dictionary grows, which is the
    property the real ES connector provides and the 100 TB posture
    needs from a serving stand-in.
    """
    import re as _re

    from insight_spark.sources.sinks import search_term_lookup, write_search_index

    tag = _re.sub(r"[^a-z0-9]", "_", os.path.basename(os.path.normpath(sf_dir)))
    tables = write_search_index(
        spark,
        load_table(spark, sf_dir, "documents"),
        _rt_path(sf_dir, "search_idx"),
        n_buckets=8,
        table_prefix=f"search_idx_{tag}",
    )
    probe = search_term_lookup(spark, tables["postings"], "the")
    return probe.select("term", F.explode("posting").alias("doc_id"))


@query(
    "suggest_from_index",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id,
               unnest({tokens_sql('text')}) AS term
        FROM documents
    ),
    df AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM tok GROUP BY term
    )
    SELECT term, df FROM df
    WHERE term LIKE 'th%'
    ORDER BY df DESC, term
    LIMIT 10
    """,
)
def suggest_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 completion suggester, serving from the WRITTEN index (closes
    the A7 partial): ``prefix_suggest_th`` ranks candidates from an
    in-plan term-frequency view; this twin does the write→serve round
    trip a real search store performs — build the index sink (doc
    store + postings + the dedicated suggest structure, ES's separate
    completion-FST role), then answer the prefix query from the
    persisted suggest table.

    The suggest table is bucketed on the 2-char prefix key, so the
    lookup's prefix2 EQUALITY leaves 1 of 8 files in the scan's bucket
    set (a file filter: the lookup is one task; plan-asserted in
    tests/test_plans.py) — a suggester query stays O(index/n_buckets)
    IO however large the term dictionary grows, the same serving
    property the term point lookup has.  Ranking is document frequency
    (df desc, term asc): the postings' df column read back from disk,
    so the hash also proves df survived the write.
    """
    import re as _re

    from insight_spark.sources.sinks import suggest_lookup, write_search_index

    tag = _re.sub(r"[^a-z0-9]", "_", os.path.basename(os.path.normpath(sf_dir)))
    tables = write_search_index(
        spark,
        load_table(spark, sf_dir, "documents"),
        _rt_path(sf_dir, "suggest_idx"),
        n_buckets=8,
        table_prefix=f"suggest_idx_{tag}",
    )
    return suggest_lookup(spark, tables["suggest"], "th", k=10)


@query(
    "manifest_log_roundtrip",
    oracle="""
    SELECT CAST(1 AS INTEGER) AS snapshot_version,
           o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey <= 300
    UNION ALL
    SELECT CAST(2 AS INTEGER), o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey <= 500
    """,
)
def manifest_log_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional manifest-log table (M208): ACID append + TIME
    TRAVEL on plain parquet — the Delta-style commit-log primitive the
    A6c/A6d/M24/M93 maintenance family circles around without owning
    (M93 applies a CDC log; this IS the log).  Two appends commit
    versions 1 and 2; the query reads BOTH snapshots back via time
    travel and returns their union, so the value hash proves (a) v1's
    read is byte-stable after v2 committed (snapshot isolation), (b)
    v2 sees v1's files plus its own (append semantics), (c) nothing is
    lost or duplicated across the commit boundary.

    Commit = O_CREAT|O_EXCL create of the next version's JSON manifest
    (the put-if-absent every object store provides): a losing
    concurrent writer gets ConflictError and its staged files stay
    invisible — readers only trust the manifest (torn writes
    impossible; conflict property pinned in tests/test_manifest.py).
    Scale: the log holds file paths, commit cost is O(1) metadata at
    any table size; snapshot reads are explicit-file parquet scans, so
    pruning/pushdown work unchanged.
    """
    import shutil

    from insight_spark.operators.manifest import log_append, read_snapshot

    path = _rt_path(sf_dir, "manifest_tbl")
    shutil.rmtree(path, ignore_errors=True)  # fresh log per run
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1 = log_append(
        orders.filter(F.col("o_orderkey") <= 300), path, expected_version=0
    )
    log_append(
        orders.filter(
            (F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 500)
        ),
        path,
        expected_version=v1,
    )
    snap1 = read_snapshot(spark, path, 1).select(
        F.lit(1).alias("snapshot_version"),
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
    )
    snap2 = read_snapshot(spark, path, 2).select(
        F.lit(2).alias("snapshot_version"),
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
    )
    return snap1.unionByName(snap2)


@query(
    "manifest_delete_roundtrip",
    oracle="""
    SELECT CAST(2 AS INTEGER) AS snapshot_version,
           o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey <= 500
    UNION ALL
    SELECT CAST(3 AS INTEGER), o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey <= 500 AND o_orderstatus <> 'F'
    """,
)
def manifest_delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE on the manifest-log table (M210): the GDPR
    primitive — remove every row matching a predicate by committing a
    new version that rewrites ONLY the files containing matches; files
    with no matching row carry over by path (zero IO), so a selective
    delete costs O(matching files), not O(table).  The pre-delete
    snapshot stays readable by version — audit history AND row erasure
    in one mechanism (erasure completes when a vacuum expires the old
    version, the standard Delta/Iceberg retention story).

    The value hash reads BOTH snapshots back: v2 (pre-delete, all rows
    to key 500) and v3 (post-delete, status F gone) — proving the
    delete removed exactly the matching rows, kept everything else
    bit-identical, and never disturbed time travel.  File-reuse
    accounting is pinned in tests/test_manifest.py (kept files appear
    by identical path in the new manifest).
    """
    import shutil

    from insight_spark.operators.manifest import (
        log_append,
        log_delete,
        read_snapshot,
    )

    path = _rt_path(sf_dir, "manifest_del")
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # partition v1 by status so some files contain no 'F' rows — the
    # carried-over-by-path case executes, not just the rewrite case
    log_append(
        orders.filter(F.col("o_orderkey") <= 300).repartition(
            4, "o_orderstatus"
        ),
        path,
        expected_version=0,
    )
    log_append(
        orders.filter(
            (F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 500)
        ).repartition(4, "o_orderstatus"),
        path,
        expected_version=1,
    )
    log_delete(spark, path, F.col("o_orderstatus") == "F", expected_version=2)
    pre = read_snapshot(spark, path, 2).select(
        F.lit(2).alias("snapshot_version"),
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
    )
    post = read_snapshot(spark, path, 3).select(
        F.lit(3).alias("snapshot_version"),
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
    )
    return pre.unionByName(post)


@query(
    "manifest_checkpoint_read",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(1 AS INTEGER) AS tail_manifests
    FROM orders WHERE o_orderkey <= 700
    """,
)
def manifest_checkpoint_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed log read (M209): reconstruct the latest snapshot
    from the newest CHECKPOINT plus the manifest tail after it — the
    mechanism that keeps snapshot construction O(tail) when the commit
    log has grown to millions of versions (the Delta paper's parquet
    checkpoint, here one JSON per checkpoint).

    Three appends; checkpoint written at v2; the read must start from
    that checkpoint and replay exactly ONE tail manifest (v3).  The
    replay count rides in the result as a literal column, so the value
    hash pins both the data (every row to key 700, nothing lost or
    doubled crossing the checkpoint boundary) and the bounded-replay
    property itself.
    """
    import shutil

    from insight_spark.operators.manifest import (
        log_append,
        read_snapshot_via_checkpoint,
        write_checkpoint,
    )

    path = _rt_path(sf_dir, "manifest_ckpt")
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    log_append(orders.filter(F.col("o_orderkey") <= 300), path)
    log_append(
        orders.filter(
            (F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 500)
        ),
        path,
    )
    write_checkpoint(path)  # checkpoint at v2
    log_append(
        orders.filter(
            (F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 700)
        ),
        path,
    )
    df, n_tail = read_snapshot_via_checkpoint(spark, path)
    return df.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(n_tail).alias("tail_manifests"),
    )


@query(
    "manifest_zone_map_scan",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(3 AS INTEGER) AS files_scanned,
           CAST(5 AS INTEGER) AS files_total
    FROM orders WHERE o_orderkey BETWEEN 150 AND 350
    """,
)
def manifest_zone_map_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping on the manifest-log table (M211): each
    append records per-file [min, max] column stats IN THE MANIFEST
    (the Delta dataSkipping design), and a range probe plans its scan
    over only the files whose interval intersects the predicate — the
    decision runs driver-side over bounded metadata, zero data IO.

    Five single-file appends with disjoint key ranges (1-100, ...,
    401-500); the probe [150, 350] must touch exactly 3 of the 5
    files.  Both the scanned rows AND the file counts ride in the
    hash, so a skipping bug (scanning everything, or skipping a file
    that intersects) is a value mismatch, not a silent perf loss.  At
    100 TB this is the difference between 3 files and 3 million for a
    key-range probe on a naturally-clustered (e.g. time-ordered)
    table.
    """
    import shutil

    from insight_spark.operators.manifest import (
        log_append,
        read_snapshot_pruned,
    )

    path = _rt_path(sf_dir, "manifest_zone")
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    for i in range(5):
        log_append(
            orders.filter(
                (F.col("o_orderkey") > i * 100)
                & (F.col("o_orderkey") <= (i + 1) * 100)
            ).coalesce(1),
            path,
            stats_cols=["o_orderkey"],
        )
    df, n_scan, n_total = read_snapshot_pruned(
        spark, path, [("o_orderkey", 150, 350)]
    )
    return df.select(
        "o_orderkey",
        "o_totalprice",
        F.lit(n_scan).alias("files_scanned"),
        F.lit(n_total).alias("files_total"),
    )


@query(
    "manifest_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderkey <= 300
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey > 300 AND o_orderkey <= 500
    """,
)
def manifest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution on the manifest-log table (M212):
    version 2 appends a column version 1 never had; a merge-schema
    snapshot read surfaces the union schema with NULL for pre-existing
    files — evolution with ZERO rewrite of history (the parquet
    ``mergeSchema`` contract riding the manifest's explicit file
    list).  The hash proves old rows carry NULL (not garbage), new
    rows carry their values, and no row was lost or retyped crossing
    the schema boundary.  At 100 TB rewriting history for a column
    add is a non-starter; evolve-on-read is the only shape that scales.
    """
    import shutil

    from insight_spark.operators.manifest import log_append, read_snapshot

    path = _rt_path(sf_dir, "manifest_schema")
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    log_append(
        orders.filter(F.col("o_orderkey") <= 300).select(
            "o_orderkey", "o_totalprice"
        ),
        path,
    )
    log_append(
        orders.filter(
            (F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 500)
        ).select("o_orderkey", "o_totalprice", "o_orderpriority"),
        path,
    )
    return read_snapshot(spark, path, merge_schema=True).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )


@query(
    "manifest_vacuum_audit",
    oracle="""
    SELECT CAST(3 AS INTEGER) AS files_removed,
           CAST(1 AS INTEGER) AS files_kept,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderkey > 600 AND o_orderkey <= 700) AS latest_rows,
           (SELECT ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                                   AS DECIMAL(38,6)) AS DOUBLE), 6)
            FROM orders
            WHERE o_orderkey > 600 AND o_orderkey <= 700) AS latest_sum
    """,
)
def manifest_vacuum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM on the manifest-log table (M213): physically destroy the
    bytes no retained version references — dropped-by-overwrite files
    AND staging orphans from losing concurrent writers — completing
    the GDPR story ``manifest_delete_roundtrip`` starts (delete hides
    rows; vacuum erases them once retention passes).

    Deterministic audit: two single-file appends, one overwrite (drops
    both), plus a CONFLICTING writer whose staged file never joined
    any manifest — vacuum retaining only the overwrite must remove
    exactly 3 files and keep exactly 1, and the surviving snapshot
    must still read byte-identically (count + DECIMAL sum in the
    hash).  Metadata-only referenced-set computation (union of
    retained manifests' file lists, zero data IO); deletion cost
    O(removed) — the shape that works when a 100 TB table has years
    of expired versions.
    """
    import shutil

    from insight_spark.operators.manifest import (
        ConflictError,
        log_append,
        log_overwrite,
        read_snapshot,
        vacuum,
    )

    path = _rt_path(sf_dir, "manifest_vac")
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )

    def rng(lo: int, hi: int) -> DataFrame:
        return orders.filter(
            (F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi)
        ).coalesce(1)

    log_append(rng(0, 100), path)  # v1: 1 file, dropped by overwrite
    log_append(rng(100, 200), path)  # v2: 1 file, dropped by overwrite
    v3 = log_overwrite(rng(600, 700), path)  # v3: the retained file
    try:  # losing writer: stages a file, commit rejected -> orphan
        log_append(rng(200, 300), path, expected_version=2)
    except ConflictError:
        pass
    audit = vacuum(path, retain_from_version=v3)
    latest = read_snapshot(spark, path)
    return latest.agg(
        F.lit(audit["files_removed"]).alias("files_removed"),
        F.lit(audit["files_kept"]).alias("files_kept"),
        F.count("*").alias("latest_rows"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("decimal(38,6)")
            .cast("double"),
            6,
        ).alias("latest_sum"),
    )


@query(
    "pyds_topic_counts",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(epoch_ms(ts)) AS BIGINT) AS min_ts_ms,
           CAST(MAX(epoch_ms(ts)) AS BIGINT) AS max_ts_ms,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6)
               AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def pyds_topic_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 custom Python DataSource under the driver contract: batch-read
    the ``event_topic`` connector (sources/pyds.py — the Spark-4
    DataSource API connector whose stream side does real offset
    commit + exactly-once restart) and aggregate per event type.  The
    value hash proves the connector's partition planning (N row-range
    InputPartitions read independently on executors) delivers every
    event exactly once with wire-faithful types (epoch-millis BIGINT
    timestamps, the form a real topic delivers).
    """
    from insight_spark.sources.pyds import EventTopicDataSource

    if not getattr(spark, "_event_topic_registered", False):
        spark.dataSource.register(EventTopicDataSource)
        spark._event_topic_registered = True
    topic = (
        spark.read.format("event_topic")
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .option("numPartitions", 8)
        .load()
    )
    return topic.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("ts_ms").alias("min_ts_ms"),
        F.max("ts_ms").alias("max_ts_ms"),
        # exact decimal aggregation, double presentation (the engine's
        # no-decimal-output schema discipline)
        F.round(
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 6
        ).alias("sum_value"),
    )


@query(
    "vector_index_probe",
    oracle=f"""
    WITH c AS (
        SELECT vec_id AS c_vec_id,
               {embedding_sql()} AS e
        FROM embeddings
    ),
    {ivf_cells_ctes('c', 'c_vec_id', 8)},
    probes AS (
        SELECT cell_id FROM (
            SELECT cents.cell_id,
                   ROW_NUMBER() OVER (
                       ORDER BY list_distance(
                           (SELECT e FROM c WHERE c_vec_id = 0),
                           cents.centroid),
                       cents.cell_id) AS rn
            FROM cents
        ) WHERE rn <= 2
    ),
    pairs AS (
        SELECT CAST(0 AS BIGINT) AS q_vec_id, a.c_vec_id,
               ROUND(list_cosine_similarity(
                   (SELECT e FROM c WHERE c_vec_id = 0), a.e), 6) AS cos_sim
        FROM assigned a JOIN probes USING (cell_id)
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
def vector_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-index SERVING path (the A7-probe pattern for embeddings):
    write the IVF-assigned corpus as a cell-partitioned parquet index
    (`partitionBy("cell_id")` — FAISS's inverted lists as hive
    partitions), then serve one query by reading back ONLY its 2
    nearest probe cells — partition pruning keeps the scan at
    O(corpus · n_probe / n_cells) IO, plan-asserted in
    tests/test_plans.py.

    Probe-cell selection runs driver-side over the 8 collected
    centroids (bounded model state, O(K·d) — the quantizer is the only
    thing a vector-serving tier keeps in memory); everything corpus-
    sized stays in the pruned scan.  Same deterministic quantizer and
    tie-breaks as ann_ivf_topk, so DuckDB replays seeding, assignment,
    probe choice, and ranking exactly.
    """
    from insight_spark.operators.similarity import ivf_assign, seeded_centroids

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("c_vec_id"), F.col("embedding").alias("c_embedding")
    )
    cents = seeded_centroids(emb, 8)
    path = _rt_path(sf_dir, "vector_index")
    (
        ivf_assign(emb, cents)
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(path)
    )

    # bounded model state: 8 centroids + the probe vector (K·d floats)
    cent_rows = {r["cell_id"]: list(r["centroid"]) for r in cents.collect()}
    q_vec = list(
        emb.filter(F.col("c_vec_id") == 0).collect()[0]["c_embedding"]
    )

    def d2(a: list[float], b: list[float]) -> float:
        s = 0.0
        for x, y in zip(a, b):
            s += (float(x) - float(y)) ** 2
        return s

    probe_cells = [
        cid
        for cid, _ in sorted(
            ((cid, d2(q_vec, c)) for cid, c in cent_rows.items()),
            key=lambda t: (t[1], t[0]),
        )[:2]
    ]

    index = spark.read.parquet(path)
    from insight_spark.operators.similarity import cosine

    qcol = F.array(*[F.lit(float(x)) for x in q_vec])
    hits = index.filter(F.col("cell_id").isin(probe_cells)).select(
        F.lit(0).cast("long").alias("q_vec_id"),
        "c_vec_id",
        F.round(cosine(qcol, F.col("c_embedding")), 6).alias("cos_sim"),
    )
    from pyspark.sql.window import Window

    # Top-5 via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps + driver merge), NOT a row_number window over the probed
    # cells — q_vec_id is the literal 0, so Catalyst constant-folds the
    # partition key and the window would serialize the whole candidate
    # set (O(corpus * n_probe / n_cells) rows) onto one task.  rank is
    # attached by a window over the already-bounded 5-row head (the
    # hybrid_search_rrf pattern; allowlisted in tests/test_plans.py).
    top5 = hits.orderBy(F.desc("cos_sim"), F.asc("c_vec_id")).limit(5)
    w = Window.orderBy(F.desc("cos_sim"), F.asc("c_vec_id"))
    return top5.withColumn("rank", F.row_number().over(w))


@query(
    "mv_rollup_rewrite",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6)
               AS revenue,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*) AS avg_order_value
    FROM orders
    GROUP BY 1, 2
    """,
)
def mv_rollup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view rollup serving (M132): maintain a DAILY
    pre-aggregate MV of orders — (order date, priority) → additive
    partials (count, DECIMAL revenue sum) — and answer a MONTHLY
    rollup FROM THE MV, never touching the base table.

    The algebraic-aggregate decomposition every OLAP serving tier
    relies on: COUNT and exact-decimal SUM re-aggregate losslessly
    from partials, and AVG derives from them at the end — so the
    monthly answer from the |days × priorities|-row MV is
    bit-identical to recomputing over the base (which is exactly what
    the DuckDB oracle does: it aggregates the BASE table, proving the
    rewrite lossless).  At 100 TB the MV is the difference between
    scanning a few thousand partial rows and scanning the fact table;
    tests/test_plans.py asserts the serving plan reads ONLY the MV
    parquet.

    Partials use DECIMAL(38,6) (order-independent exact sums — the
    house money discipline), so partial-of-partial introduces no
    float drift at any re-aggregation depth.
    """
    orders = load_table(spark, sf_dir, "orders")
    mv_path = _rt_path(sf_dir, "mv_daily_rev")
    (
        orders.groupBy(
            F.col("o_orderdate").alias("day"), "o_orderpriority"
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias(
                "rev_partial"
            ),
        )
        .write.mode("overwrite")
        .parquet(mv_path)
    )
    mv = spark.read.parquet(mv_path)
    monthly = mv.groupBy(
        F.date_format("day", "yyyy-MM").alias("month"), "o_orderpriority"
    ).agg(
        F.sum("n_orders").alias("n_orders"),
        F.sum("rev_partial").alias("_rev"),
    )
    return monthly.select(
        "month",
        "o_orderpriority",
        "n_orders",
        F.round(F.col("_rev").cast("double"), 6).alias("revenue"),
        # avg stays UNROUNDED: terminal ROUND(double) of a computed
        # mean is exactly the 1-ulp cross-engine divergence the r7
        # float discipline forbids (rfm_segmentation precedent) —
        # both engines emit the bit-equal IEEE division of the exact
        # decimal sum (cast double) by the long count instead.
        (F.col("_rev").cast("double") / F.col("n_orders")).alias(
            "avg_order_value"
        ),
    )


@query(
    "export_manifest_checksums",
    oracle="""
    WITH sharded AS (
        SELECT doc_id, n_chars,
               CAST(list_reduce(list_transform(range(1, 9),
                        i -> CAST(strpos('0123456789abcdef',
                                  substr(md5(CAST(doc_id AS VARCHAR)), i, 1))
                                  - 1 AS BIGINT)),
                    (acc, x) -> acc * 16 + x) % 8 AS INTEGER) AS shard,
               list_reduce(list_transform(range(1, 9),
                        i -> CAST(strpos('0123456789abcdef',
                                  substr(md5(text), i, 1))
                                  - 1 AS BIGINT)),
                    (acc, x) -> acc * 16 + x) AS h
        FROM documents
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
           CAST(bit_xor(h) AS BIGINT) AS content_checksum
    FROM sharded GROUP BY shard
    """,
)
def export_manifest_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export manifest with content checksums (M174): for each training
    shard of the M5 layout (md5(doc_id) hex-fold mod 8), the manifest
    row a data handoff ships beside the files — doc count, char total,
    id range, and an order-independent content checksum (XOR of each
    doc's md5-prefix integer).  The receiving side recomputes the same
    six numbers after transfer; any lost, duplicated, truncated, or
    altered document flips the checksum.  XOR, not SUM, deliberately:
    commutative/associative like a sum but overflow-free at any corpus
    size, so the manifest arithmetic is identical at sf0.001 and
    100 TB.

    Exactness: shard and checksum reuse the exact hex-fold arithmetic
    of ``shard_export_counts`` (content-keyed, engine-reproducible);
    every output column is an exact integer — nothing float in the
    whole query.

    Scale: one map-only projection (two md5s per row) + a bounded
    8-key map-side-combined aggregate.  The manifest costs one scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    fold = lambda col: F.conv(  # noqa: E731
        F.substring(F.md5(col), 1, 8), 16, 10
    ).cast("long")
    sharded = docs.select(
        "doc_id",
        "n_chars",
        (fold(F.col("doc_id").cast("string")) % 8)
        .cast("int")
        .alias("shard"),
        fold(F.col("text")).alias("h"),
    )
    return sharded.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.expr("bit_xor(h)").alias("content_checksum"),
    )


@query(
    "manifest_merge_upsert",
    oracle="""
    SELECT CAST(2 AS INTEGER) AS snapshot_version,
           o_orderkey, o_totalprice
    FROM orders WHERE o_orderkey <= 500
    UNION ALL
    SELECT CAST(3 AS INTEGER), o_orderkey,
           CASE WHEN o_orderkey > 200 AND o_orderkey <= 400
                THEN o_totalprice * 2 ELSE o_totalprice END
    FROM orders WHERE o_orderkey <= 500
    UNION ALL
    SELECT CAST(3 AS INTEGER), o_orderkey, o_totalprice
    FROM orders WHERE o_orderkey > 700 AND o_orderkey <= 750
    """,
)
def manifest_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE on the manifest-log table (M224) — Delta's
    ``MERGE INTO`` upsert in one atomic commit: update rows replace
    their key's existing row, new keys insert, and ONLY files holding
    a matched key are rewritten (their unmatched rows survive
    verbatim; untouched files carry over by path).  At 100 TB a daily
    upsert must cost O(matched files), never O(table) — the same bound
    ``manifest_delete_roundtrip`` pins for delete.

    Two appends build the base; the merge doubles prices for keys
    201-400 (spanning BOTH base commits' files) and inserts keys
    701-750.  Both snapshots ride in the hash: v2 proves the pre-merge
    state stayed time-travel readable; v3 proves matched rows were
    replaced (not duplicated), unmatched rows survived the rewrite,
    and inserts landed exactly once.
    """
    import shutil

    from insight_spark.operators.manifest import (
        log_append,
        log_merge,
        read_snapshot,
    )

    path = _rt_path(sf_dir, "manifest_merge")
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    log_append(
        orders.filter(F.col("o_orderkey") <= 300).repartition(
            4, "o_orderkey"
        ),
        path,
    )
    log_append(
        orders.filter(
            (F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 500)
        ).repartition(4, "o_orderkey"),
        path,
    )
    updates = orders.filter(
        (F.col("o_orderkey") > 200) & (F.col("o_orderkey") <= 400)
    ).withColumn("o_totalprice", F.col("o_totalprice") * 2)
    inserts = orders.filter(
        (F.col("o_orderkey") > 700) & (F.col("o_orderkey") <= 750)
    )
    log_merge(
        spark, updates.unionByName(inserts), path, key="o_orderkey"
    )
    pre = read_snapshot(spark, path, 2).select(
        F.lit(2).alias("snapshot_version"), "o_orderkey", "o_totalprice"
    )
    post = read_snapshot(spark, path, 3).select(
        F.lit(3).alias("snapshot_version"), "o_orderkey", "o_totalprice"
    )
    return pre.unionByName(post)


@query(
    "delta_index_merge_read",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id,
               unnest({token_set_sql('text')}) AS term
        FROM documents
    )
    SELECT 'join' AS term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS df_delta,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM tok WHERE term = 'join'
    """,
)
def delta_index_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance (M234) — the refresh model every
    real search store uses (ES segments, Lucene): the BASE inverted
    index is built once over the stable corpus; newly-arrived docs go
    into a small DELTA segment; a term lookup serves from the UNION of
    both (posting concat, df sum) so new documents are searchable
    without rebuilding the base — at 100 TB rebuilding on every
    ingest batch is a non-starter; segment merge happens offline.

    Docs with doc_id % 10 == 0 play the new arrivals.  Both segments
    are written through the A7 bucketed sink, each side's lookup keeps
    1 of 8 bucket files in its scan's bucket set, and the merged
    posting's df / id-range ride in the value hash — a lost or
    double-counted posting in EITHER segment breaks it.
    """
    import re as _re

    from insight_spark.sources.sinks import (
        search_term_lookup,
        write_search_index,
    )

    tag = _re.sub(r"[^a-z0-9]", "_", os.path.basename(os.path.normpath(sf_dir)))
    docs = load_table(spark, sf_dir, "documents")
    # The base and delta segment builds are fully independent (disjoint
    # doc subsets, distinct tables/paths) — overlapped from two driver
    # threads so the delta's tasks back-fill the base write's tail
    # (guide §2.6); offline segment builds on a real cluster run as
    # concurrent jobs for the same reason.
    def _segment(name: str, keep) -> dict[str, str]:
        return write_search_index(
            spark,
            docs.filter(keep),
            _rt_path(sf_dir, name),
            8,
            f"{name}_{tag}",
        )

    base_tables, delta_tables = run_concurrently(
        lambda: _segment("delta_idx_base", F.col("doc_id") % 10 != 0),
        lambda: _segment("delta_idx_delta", F.col("doc_id") % 10 == 0),
    )
    base = search_term_lookup(spark, base_tables["postings"], "join")
    delta = search_term_lookup(spark, delta_tables["postings"], "join")
    merged = base.select(
        "term", F.explode("posting").alias("doc_id"), F.lit(0).alias("is_delta")
    ).unionByName(
        delta.select(
            "term",
            F.explode("posting").alias("doc_id"),
            F.lit(1).alias("is_delta"),
        )
    )
    # one global row, as in the oracle: an absent term reads df = 0
    return merged.agg(
        F.lit("join").alias("term"),
        F.count("*").alias("df"),
        F.sum("is_delta").cast("long").alias("df_delta"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(
    "manifest_clone_diverge",
    oracle="""
    SELECT 'source' AS table_name,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderkey <= 300) AS n_rows,
           CAST(1 AS INTEGER) AS version
    UNION ALL
    SELECT 'clone',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderkey <= 300
               OR (o_orderkey > 800 AND o_orderkey <= 900)),
           CAST(2 AS INTEGER)
    """,
)
def manifest_clone_diverge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy SHALLOW CLONE (M239): a new table whose v1 manifest
    references the source's files BY PATH — cloning a 100 TB table is
    one metadata write — after which the two evolve independently: an
    append to the clone must never appear in the source, and the
    clone's v1 must read the source's bytes without having copied
    them.  The dev/test-against-production-data primitive (and the
    cheap experiment branch for data-pipeline what-ifs).

    The hash pins both sides after divergence: source still exactly
    its own rows at its own latest version, clone = source + its
    private append at version 2.  Zero-copy itself is pinned in
    tests/test_manifest.py (the clone's v1 file list is identical,
    path for path, to the source's).
    """
    import shutil

    from insight_spark.operators.manifest import (
        latest_version,
        log_append,
        log_clone,
        read_snapshot,
    )

    src_tbl = _rt_path(sf_dir, "clone_src")
    dst_tbl = _rt_path(sf_dir, "clone_dst")
    shutil.rmtree(src_tbl, ignore_errors=True)
    shutil.rmtree(dst_tbl, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    log_append(orders.filter(F.col("o_orderkey") <= 300), src_tbl)
    log_clone(src_tbl, dst_tbl)
    log_append(
        orders.filter(
            (F.col("o_orderkey") > 800) & (F.col("o_orderkey") <= 900)
        ),
        dst_tbl,
    )
    src_df = read_snapshot(spark, src_tbl).agg(
        F.lit("source").alias("table_name"),
        F.count("*").alias("n_rows"),
        F.lit(latest_version(src_tbl)).cast("int").alias("version"),
    )
    dst_df = read_snapshot(spark, dst_tbl).agg(
        F.lit("clone").alias("table_name"),
        F.count("*").alias("n_rows"),
        F.lit(latest_version(dst_tbl)).cast("int").alias("version"),
    )
    return src_df.unionByName(dst_df)


@query(
    "manifest_compact_optimize",
    oracle="""
    SELECT CAST(5 AS INTEGER) AS files_before,
           CAST(1 AS INTEGER) AS files_after,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderkey > 0 AND o_orderkey <= 500) AS n_rows,
           (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM orders
            WHERE o_orderkey > 0 AND o_orderkey <= 500) AS sum_keys
    """,
)
def manifest_compact_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE small-file compaction (M240): five per-epoch commits
    fragment the table into five files (the streaming-sink accretion
    pattern M221 creates); one compaction commit rewrites them as ONE
    byte-identical file — at 100 TB scan cost is dominated by
    file-open overhead until this job runs, and because it's just
    another atomic version, readers never block and time travel still
    serves the fragmented history until vacuum.

    The hash pins the before/after file counts AND the data (count +
    key checksum read from the compacted version), so a compaction
    that lost, doubled, or reordered rows into corruption fails the
    value check, not just a size check.
    """
    import json as _json
    import shutil

    from insight_spark.operators.manifest import (
        _manifest_path,
        log_append,
        log_compact,
        read_snapshot,
    )

    path = _rt_path(sf_dir, "manifest_compact")
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    for i in range(5):
        log_append(
            orders.filter(
                (F.col("o_orderkey") > i * 100)
                & (F.col("o_orderkey") <= (i + 1) * 100)
            ).coalesce(1),
            path,
        )
    before = len(
        _json.load(open(_manifest_path(path, 5)))["files"]
    )
    v6 = log_compact(spark, path, target_files=1)
    after = len(_json.load(open(_manifest_path(path, v6)))["files"])
    return read_snapshot(spark, path).agg(
        F.lit(before).cast("int").alias("files_before"),
        F.lit(after).cast("int").alias("files_after"),
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("sum_keys"),
    )


@query(
    "manifest_version_cdc",
    oracle="""
    SELECT CAST(2 AS INTEGER) AS version,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderkey > 300 AND o_orderkey <= 500) AS rows_added,
           (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM orders
            WHERE o_orderkey > 300 AND o_orderkey <= 500) AS added_key_sum
    UNION ALL
    SELECT CAST(3 AS INTEGER),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderkey > 500 AND o_orderkey <= 650),
           (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM orders
            WHERE o_orderkey > 500 AND o_orderkey <= 650)
    """,
)
def manifest_version_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between table versions (M242) — Delta's
    ``table_changes()`` readout: for each version the rows it ADDED,
    computed as the multiset difference ``read(v) exceptAll
    read(v−1)`` over the time-travel snapshots (the G-surface set op
    doing lakehouse work).  This is how a downstream consumer
    incrementally syncs from a versioned table without replaying it —
    at 100 TB the per-version delta is what ships, never the
    snapshot.

    The hash pins each version's delta count AND an added-key
    checksum, so a CDC leak (rows attributed to the wrong version, a
    snapshot bleeding into a delta) is a value failure.  Cost: the
    diff reads exactly the two snapshots' file lists; in production
    the manifest's per-version `added` file list serves this without
    ANY diff — the exceptAll leg is the independent cross-check.
    """
    import shutil

    from insight_spark.operators.manifest import log_append, read_snapshot

    path = _rt_path(sf_dir, "manifest_cdc")
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    log_append(orders.filter(F.col("o_orderkey") <= 300), path)
    log_append(
        orders.filter(
            (F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 500)
        ),
        path,
    )
    log_append(
        orders.filter(
            (F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 650)
        ),
        path,
    )
    out = None
    for v in (2, 3):
        delta = read_snapshot(spark, path, v).exceptAll(
            read_snapshot(spark, path, v - 1)
        )
        row = delta.agg(
            F.lit(v).cast("int").alias("version"),
            F.count("*").alias("rows_added"),
            F.sum("o_orderkey").alias("added_key_sum"),
        )
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "manifest_constraint_gate",
    oracle="""
    SELECT CAST(1 AS INTEGER) AS snapshot_version,
           o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey <= 300
    UNION ALL
    SELECT CAST(2 AS INTEGER), o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey > 300 AND o_orderkey <= 500
    UNION ALL
    SELECT CAST(2 AS INTEGER), o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey <= 300
    """,
)
def manifest_constraint_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK-constraint enforcement on the manifest-log write path
    (M254): the table declares constraints (key NOT NULL, positive
    price, status in the legal domain); a conforming batch commits v1;
    a batch containing poisoned rows (negated prices) is REJECTED
    atomically — no version, no orphan files, table still at v1; the
    cleaned batch then commits as v2.  This is the ingest gate
    data_contract_audit (M233) only OBSERVES — here the contract is
    enforced at commit time, the Delta ``ADD CONSTRAINT`` semantics.

    The value hash reads v1 and v2 back: v2 exists as version TWO
    (had the poisoned batch committed it would be v2 with negative
    prices and the clean batch v3 — both the version literals and the
    prices would mismatch), proving rejection left no partial state.
    Rejection-with-no-orphans and the NULL-fails semantics are pinned
    in tests/test_manifest.py.

    Scale: validation is ONE map-side aggregate over the incoming
    batch only (never the table); the driver sees |constraints|
    violator counts — bounded state.
    """
    import shutil

    from insight_spark.operators.manifest import (
        ConstraintViolation,
        log_append_checked,
        read_snapshot,
    )

    checks = {
        "key_not_null": "o_orderkey IS NOT NULL",
        "price_positive": "o_totalprice > 0",
        "status_domain": "o_orderstatus IN ('O', 'F', 'P')",
    }
    path = _rt_path(sf_dir, "manifest_gate")
    shutil.rmtree(path, ignore_errors=True)  # fresh log per run
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1 = log_append_checked(
        orders.filter(F.col("o_orderkey") <= 300),
        path,
        checks,
        expected_version=0,
    )
    second = orders.filter(
        (F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 500)
    )
    poisoned = second.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice")),
    )
    try:
        log_append_checked(poisoned, path, checks, expected_version=v1)
        raise AssertionError("poisoned batch must be rejected")
    except ConstraintViolation:
        pass
    v2 = log_append_checked(second, path, checks, expected_version=v1)
    snap1 = read_snapshot(spark, path, v1).select(
        F.lit(1).alias("snapshot_version"),
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
    )
    snap2 = read_snapshot(spark, path, v2).select(
        F.lit(2).alias("snapshot_version"),
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
    )
    return snap1.unionByName(snap2)


@query(
    "file_metadata_rowcount_audit",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_files
    FROM events WHERE event_id <= 2000
    GROUP BY event_type
    """,
)
def file_metadata_rowcount_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file row accounting via the hidden ``_metadata`` column
    (M271): write a partitioned table with one file per partition,
    read it back, and attribute every row to the PHYSICAL FILE that
    holds it — the layout audit behind small-file/compaction decisions
    (`manifest_compact_optimize` plans merges from file sizes; this is
    the scan-side primitive that measures rows-per-file without any
    external catalog, straight from parquet scan metadata).

    The n_files column rides in the value hash: repartition(col) puts
    each partition value in exactly one task, so each hive directory
    must contain exactly ONE file — a layout regression (splitty
    writes, task retries leaving extras) breaks the hash, not just a
    perf graph.  The n_rows column proves ``_metadata.file_path``
    attribution loses/duplicates nothing vs the oracle's direct count.

    Scale: the write shuffles once on the partition key (the A6b
    shape); the read-back aggregate is metadata-bounded (|types|
    groups).  ``_metadata`` is populated from the scan's own file
    handles — zero extra IO at any table size.
    """
    path = _rt_path(sf_dir, "file_meta")
    (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") <= 2000)
        .select("event_id", "event_type")
        .repartition(F.col("event_type"))
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(path)
    )
    return (
        spark.read.parquet(path)
        .select("event_type", F.col("_metadata.file_path").alias("fp"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.countDistinct("fp").cast("long").alias("n_files"),
        )
    )


@query(
    "manifest_restore_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(4 AS INT) AS current_version,
           CAST(2 AS INT) AS restored_from
    FROM orders WHERE o_orderkey <= 200
    """,
)
def manifest_restore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE on the manifest-log table (M272): v1 appends keys
    ≤100, v2 appends 101–200, v3 OVERWRITES with 201–250 (the bad
    deploy), then RESTORE TO v2 commits v4.  The query reads the
    LATEST snapshot — the hash proves v4 serves exactly v2's rows
    (1–200), i.e. the rollback undid the overwrite without erasing
    it (v3 stays time-travel readable; vacuum decides its fate
    later).

    Rollback-as-forward-commit is the only shape that scales: v4 is a
    metadata-only commit REUSING v2's file paths — zero data IO at
    any table size — and the O_EXCL race rules still apply, so a
    concurrent writer can't interleave with the restore.  The
    version literals ride in the value hash: a restore that lands on
    the wrong version or re-reads v3's files is a hash mismatch.
    """
    import shutil

    from insight_spark.operators.manifest import (
        latest_version,
        log_append,
        log_overwrite,
        log_restore,
        read_snapshot,
    )

    path = _rt_path(sf_dir, "manifest_restore")
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    v1 = log_append(
        orders.filter(F.col("o_orderkey") <= 100), path, expected_version=0
    )
    v2 = log_append(
        orders.filter(
            (F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200)
        ),
        path,
        expected_version=v1,
    )
    log_overwrite(
        orders.filter(
            (F.col("o_orderkey") > 200) & (F.col("o_orderkey") <= 250)
        ),
        path,
        expected_version=v2,
    )
    v4 = log_restore(path, to_version=v2)
    assert v4 == latest_version(path) == 4
    return read_snapshot(spark, path).select(
        "o_orderkey",
        "o_orderstatus",
        F.lit(v4).cast("int").alias("current_version"),
        F.lit(v2).cast("int").alias("restored_from"),
    )


@query(
    "manifest_disjoint_writers",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(3 AS INT) AS final_version
    FROM orders
    WHERE o_orderkey <= 400 AND o_orderstatus IN ('F', 'O')
    GROUP BY o_orderstatus
    """,
)
def manifest_disjoint_writers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-isolated concurrent writers (M273): two uncoordinated
    appends to DIFFERENT partitions of the manifest-log table both
    land.  Writer A (status 'F') bases its commit on v1; writer B
    (status 'O') commits v2 first; A's O_EXCL create of v2 fails, the
    logical conflict check reads v2's declared partition set, finds
    {'O'} ∩ {'F'} = ∅, and auto-retries as v3 — the Delta
    logical-conflict semantics that let a 1000-executor ingest fleet
    share one table without coordination.  (Overlapping writers still
    hard-fail — pinned in tests/test_manifest.py.)

    The hash proves the final snapshot holds BOTH writers' rows
    exactly once, grouped per partition, and final_version == 3 rides
    in the hash so a lost retry (v2 overwritten, or A landing as v2)
    is a value mismatch, not a log line.  Scale: the retry re-commits
    METADATA only — staged data files are written once whichever
    version number wins.
    """
    import shutil

    from insight_spark.operators.manifest import (
        latest_version,
        log_append_isolated,
        read_snapshot,
    )

    path = _rt_path(sf_dir, "manifest_disjoint")
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    base = orders.filter(
        (F.col("o_orderkey") <= 200) & F.col("o_orderstatus").isin("F", "O")
    )
    v1 = log_append_isolated(base, path, ["F", "O"], expected_version=0)
    more = orders.filter(
        (F.col("o_orderkey") > 200) & (F.col("o_orderkey") <= 400)
    )
    # writer B commits first (based on v1, partition 'O')
    log_append_isolated(
        more.filter(F.col("o_orderstatus") == "O"),
        path,
        ["O"],
        expected_version=v1,
    )
    # writer A ALSO based on v1 (stale token, partition 'F') — loses
    # the v2 race, detects disjointness, auto-retries as v3
    v3 = log_append_isolated(
        more.filter(F.col("o_orderstatus") == "F"),
        path,
        ["F"],
        expected_version=v1,
    )
    assert v3 == latest_version(path) == 3
    return (
        read_snapshot(spark, path)
        .groupBy("o_orderstatus")
        .agg(F.count("*").cast("long").alias("n_rows"))
        .select(
            "o_orderstatus",
            "n_rows",
            F.lit(v3).cast("int").alias("final_version"),
        )
    )


@query(
    "hidden_partition_pruning",
    oracle="""
    SELECT event_id, event_type,
           CAST(CAST(value AS DECIMAL(38,6)) * 1000000 AS BIGINT)
               AS value_micro
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-12 00:00:00'
    """,
)
def hidden_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden partitioning round-trip (M281, the Iceberg headline
    feature re-expressed on hive layout): the table is written
    partitioned by a DERIVED day value the user never sees; the query
    filters on the RAW timestamp and the reader maps that predicate
    onto the layout, so the scan prunes to 2 of 30 day directories
    (plan-asserted in tests/test_plans.py) while the logical schema
    stays untouched — no `_part_day` in the output, no user knowledge
    of the layout.

    This is the layout discipline that makes every time-ranged query
    on a 100 TB event table read days, not the table: partition
    pruning is STATIC (directory listing, zero data IO) and the exact
    ts predicate still applies on top, so the mapping can only ever
    cost IO, never correctness — and a too-narrow mapping (dropped
    rows) would break this query's value hash.
    """
    from insight_spark.sources.parquet import (
        read_ts_range,
        write_hidden_partitioned,
    )

    path = _rt_path(sf_dir, "hidden_part")
    write_hidden_partitioned(
        load_table(spark, sf_dir, "events").select(
            "event_id",
            "ts",
            "event_type",
            (F.col("value").cast("decimal(38,6)") * 1000000)
            .cast("long")
            .alias("value_micro"),
        ),
        path,
    )
    return read_ts_range(
        spark, path, "2024-01-10 00:00:00", "2024-01-12 00:00:00"
    ).select("event_id", "event_type", "value_micro")


@query(
    "csv_corrupt_records_audit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parsed,
           CAST(7 AS BIGINT) AS n_corrupt,
           CAST(SUM(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS key_checksum
    FROM orders WHERE o_orderkey <= 200
    """,
)
def csv_corrupt_records_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingestion with corrupt-record capture (M306):
    a feed file carrying 7 malformed lines (wrong column counts,
    non-numeric keys — the classic upstream-export bugs) is
    read with an explicit schema and a ``_corrupt_record`` column, so
    bad lines land in the dead-letter column INSTEAD of silently
    nulling into the data or killing the job (FAILFAST) — the
    ingestion posture every production CSV feed needs, now
    driver-verified: n_parsed, n_corrupt, and a checksum of the
    parsed keys all ride in the value hash, so a parser that drops a
    good row, passes a bad one, or mis-attributes columns breaks the
    query, not a log line.

    Scale: the corrupt-column mechanism is per-row local work inside
    the scan — no extra pass, no shuffle; the audit aggregate is
    1-row.  (Injected lines are appended driver-side to the written
    file — fixture construction, not a data path.)
    """
    import os

    path = _rt_path(sf_dir, "corrupt_csv")
    good = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 200)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .coalesce(1)
    )
    good.write.mode("overwrite").option("header", True).csv(path)
    part = [
        f for f in os.listdir(path) if f.endswith(".csv")
    ][0]
    # structurally recoverable corruption only: per-row token-count
    # and type failures land in _corrupt_record; unterminated QUOTES
    # would instead abort the whole split (the parser consumes to EOF
    # inside the quote) — that failure mode needs FAILFAST + a feed
    # fix, not a dead-letter column
    bad_lines = [
        "999991,F",  # missing column
        "abc,F,1-URGENT",  # non-numeric key
        "999994",  # single field
        "999995,F,1-URGENT,EXTRA",  # extra column
        "999996,F,1-URGENT,X,Y",  # two extra columns
        "12.5,F,1-URGENT",  # fractional key (not BIGINT)
        "999997e,O,2-HIGH",  # trailing garbage on key
    ]
    with open(os.path.join(path, part), "a") as fh:
        for line in bad_lines:
            fh.write(line + "\n")
    # the local-FS .crc sidecar no longer matches the appended file;
    # a real feed drop has no sidecar at all
    crc = os.path.join(path, "." + part + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    df = (
        spark.read.schema(
            "o_orderkey BIGINT, o_orderstatus STRING,"
            " o_orderpriority STRING, _corrupt_record STRING"
        )
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # Spark REQUIRES the parse to be cached before _corrupt_record can
    # be filtered alone (SPARK-21610) — but the CacheManager matches
    # cache entries by PLAN, and this query's fixed path makes reruns
    # plan-identical, so a rerun would silently serve the PREVIOUS
    # file's blocks (caught by the full suite's determinism pass).
    # unpersist-then-cache drops any stale entry first (belt and
    # braces alongside the eager unpersist below — ADVICE r10 #2).
    df.unpersist(blocking=True)
    df = df.cache()
    try:
        parsed = df.filter(F.col("_corrupt_record").isNull())
        corrupt = df.filter(F.col("_corrupt_record").isNotNull())
        row = (
            parsed.agg(
                F.count("*").cast("long").alias("n_parsed"),
                F.sum("o_orderkey").cast("long").alias("key_checksum"),
            )
            .crossJoin(
                F.broadcast(
                    corrupt.agg(
                        F.count("*").cast("long").alias("n_corrupt")
                    )
                )
            )
            .select("n_parsed", "n_corrupt", "key_checksum")
            .collect()[0]
        )
    finally:
        # the cache exists only to satisfy SPARK-21610 during the two
        # aggregates; dropping it here keeps session memory flat
        # instead of pinning this file's blocks until the next
        # invocation (ADVICE r10 #2)
        df.unpersist(blocking=True)
    return spark.createDataFrame(
        [row], "n_parsed long, n_corrupt long, key_checksum long"
    )


@query(
    "multi_table_publish",
    oracle="""
    WITH s1 AS (
        SELECT CAST(1 AS INT) AS set_version,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                 WHERE o_orderkey <= 100) AS n_orders,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
                 WHERE c_custkey <= 50) AS n_customers
    ),
    s2 AS (
        SELECT CAST(2 AS INT) AS set_version,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                 WHERE o_orderkey <= 200) AS n_orders,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
                 WHERE c_custkey <= 50) AS n_customers
    )
    SELECT * FROM s1 UNION ALL SELECT * FROM s2
    """,
)
def multi_table_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic multi-table publish sets (M327): commit (orders@v,
    customers@v) combinations as single O_EXCL meta-manifests, so
    readers resolve a CROSS-TABLE-consistent snapshot — the guarantee
    single-table logs cannot give (between two tables' commits there
    is no joint ordering; the publish set IS that ordering).  Here:
    set v1 pins (orders@1, customers@1); orders then appends v2 —
    which set v1 readers must NOT see — and set v2 pins (orders@2,
    customers@1).  The hash proves both sets resolve to exactly
    their pinned row counts: a reader that leaked the newer orders
    version into set v1, or re-read 'latest' anywhere, mismatches.

    This is the fact+dim deploy primitive: publish the new fact AND
    the new dim as one visible unit, or neither — eliminating the
    window where a repartitioned dim joins yesterday's fact.

    Scale: a set is metadata naming metadata — publish is O(1) in
    table count and size; member reads are ordinary explicit-file
    snapshot scans (pruning unchanged).
    """
    import shutil

    from insight_spark.operators.manifest import (
        log_append,
        publish_set,
        read_set,
    )

    orders_t = _rt_path(sf_dir, "pub_orders")
    cust_t = _rt_path(sf_dir, "pub_cust")
    meta = _rt_path(sf_dir, "pub_meta")
    for p in (orders_t, cust_t, meta):
        shutil.rmtree(p, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")

    # r13 (guide §2.6): the orders v1→v2 append chain and the customers
    # append hit DISTINCT table logs — the only ordering the publish
    # sets need is ov1 before ov2 (expected_version CAS) and both
    # members written before their set publishes.  Two driver threads
    # overlap the independent write jobs so one table's commit tail
    # back-fills with the other's tasks; versions stay deterministic
    # because every expected_version is passed explicitly.  The set
    # publishes themselves stay sequential: set_version assignment is
    # an O_EXCL counter and s1 < s2 is part of the result.
    def _orders_chain() -> tuple[int, int]:
        ov1 = log_append(
            orders.filter(F.col("o_orderkey") <= 100), orders_t,
            expected_version=0,
        )
        ov2 = log_append(
            orders.filter(
                (F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200)
            ),
            orders_t,
            expected_version=ov1,
        )
        return ov1, ov2

    def _cust_write() -> int:
        return log_append(
            cust.filter(F.col("c_custkey") <= 50), cust_t, expected_version=0
        )

    (ov1, ov2), cv1 = run_concurrently(_orders_chain, _cust_write)
    s1 = publish_set(meta, {orders_t: ov1, cust_t: cv1})
    s2 = publish_set(meta, {orders_t: ov2, cust_t: cv1})

    def leg(set_v: int):
        tables = read_set(spark, meta, set_v)
        n_o = tables[orders_t].count()
        n_c = tables[cust_t].count()
        return spark.createDataFrame(
            [(set_v, n_o, n_c)],
            "set_version int, n_orders long, n_customers long",
        )

    # the two snapshot reads are independent count jobs — overlap them
    # the same way (results are deterministic row counts)
    leg1, leg2 = run_concurrently(lambda: leg(s1), lambda: leg(s2))
    return leg1.unionByName(leg2)


@query(
    "mv_staleness_probe",
    oracle="""
    WITH src AS (
        SELECT CAST(MAX(date_trunc('day', ts)) AS TIMESTAMP) AS src_max_day,
               CAST(count_if(ts >= TIMESTAMP '2024-01-24 00:00:00')
                    AS BIGINT) AS rows_behind
        FROM events
    )
    SELECT CAST(TIMESTAMP '2024-01-24 00:00:00' AS TIMESTAMP)
               AS mv_watermark_day,
           src_max_day,
           rows_behind,
           CAST(datediff('day', TIMESTAMP '2024-01-24 00:00:00',
                         src_max_day) AS BIGINT) AS days_stale,
           CAST(rows_behind > 0 AS INT) AS refresh_needed
    FROM src
    """,
)
def mv_staleness_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view staleness probe (M337): compare a persisted
    daily-rollup MV's WATERMARK (the newest day it covers — read back
    from the MV parquet itself, not from bookkeeping) against the
    source's newest data, reporting rows-behind and days-stale — the
    freshness SLO check every MV scheduler runs to decide refresh
    (`mv_rollup_rewrite` proves the MV answers queries; this proves
    it is CURRENT enough to be allowed to).  The MV here is built
    through the 2024-01-24 cutoff, so the probe measurably lags and
    the refresh flag fires — ground truth by construction.

    Exactness: watermark and staleness are exact day/count
    arithmetic; the flag restates an integer comparison.

    Scale: the MV-side read is an aggregate over the ROLLUP (already
    |days|-sized — metadata); the source side is one conditional
    count under a pushed-down predicate.  A scheduler runs this at
    audit cost, never touching the MV's full history.
    """
    path = _rt_path(sf_dir, "mv_stale")
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-24 00:00:00").cast("timestamp")
    (
        ev.filter(F.col("ts") < cutoff)
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").cast("long").alias("n_events"))
        .write.mode("overwrite")
        .parquet(path)
    )
    mv = spark.read.parquet(path).agg(
        F.max("day").alias("_mv_max_day")
    )
    mv_watermark = (
        F.col("_mv_max_day") + F.expr("INTERVAL 1 DAY")
    ).alias("mv_watermark_day")
    src = ev.agg(
        F.max(F.date_trunc("day", "ts")).alias("src_max_day"),
        F.count_if(F.col("ts") >= cutoff).cast("long").alias("rows_behind"),
    )
    return mv.crossJoin(F.broadcast(src)).select(
        mv_watermark,
        "src_max_day",
        "rows_behind",
        F.datediff(
            F.to_date("src_max_day"),
            F.to_date(F.col("_mv_max_day") + F.expr("INTERVAL 1 DAY")),
        )
        .cast("long")
        .alias("days_stale"),
        (F.col("rows_behind") > 0).cast("int").alias("refresh_needed"),
    )
