"""Sinks (SURVEY.md §2.A6-A8, A10).

The reference serves from Elasticsearch (search/suggest) and PostgreSQL
(aggregates) [SURVEY.md §0.1 R:high].  Offline, both are emulated with
layouts that preserve the *access pattern* the serving stores provide,
so swapping in the real connectors (``format("es")``,
``.write.jdbc``) is a one-line change per sink:

- search-index sink → bucketed+sorted parquet table (segment/shard
  layout) + an inverted-index posting table (term → sorted doc ids):
  the two structures an ES index materializes.
- jdbc sink → parquet + a generated DDL file recording the table
  schema that would be issued to PG.

Scale notes: ``partitionBy`` on write gives partition pruning to every
downstream reader; ``bucketBy`` pre-shuffles once at write time so
later term lookups and doc joins are shuffle-free.  Every bucketed
table, the search index's and the registry's alike, is written by
``write_bucketed``.  The posting-list build is explode + groupBy — the
same bounded-key shuffle shape as term_freq.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_spark.engine import run_concurrently
from insight_spark.operators.text import tokenize


def _hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through its own Hadoop
    FileSystem — existence checks and deletes that hold for any scheme
    (plain local, file://, hdfs://, s3a://), unlike ``os.path``."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sc._jsc.hadoopConfiguration()), hpath


def _rename(fs, src, dst) -> None:
    """``FileSystem.rename`` that raises instead of returning False."""
    if not fs.rename(src, dst):
        raise RuntimeError(f"rename {src} -> {dst} failed")


def write_bucketed(
    df: DataFrame,
    table: str,
    out_dir: str,
    bucket_keys: list[str],
    n_buckets: int,
    sort_keys: list[str] | None = None,
) -> None:
    """A6b: persist ``df`` as the external bucketed parquet table
    ``table`` at ``out_dir/table``, sorted within buckets by
    ``sort_keys`` (default: the bucket keys).

    Bucket metadata lives in the session catalog and the data under
    ``out_dir``, so no static warehouse conf is needed.  A bucketed+sorted
    pair sort-merge-joins with no exchange and no sort, and an equality
    on the bucket key reads 1 of ``n_buckets`` files.  One file per
    bucket needs the caller to ``repartition(n_buckets, *bucket_keys)``
    first (same hash as ``bucketBy``); without it every write task
    leaves up to one file per bucket.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_keys)
        .sortBy(*(sort_keys or bucket_keys))
        .option("path", os.path.join(out_dir, table))
        .format("parquet")
        .saveAsTable(table)
    )


def write_search_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    table_prefix: str = "search_idx",
) -> dict[str, str]:
    """A7: search-index sink emulation (the ES role).

    Writes (1) the doc store, bucketed by doc_id and sorted within
    buckets — ES's doc segments; (2) the inverted index: one row per
    term with a sorted posting list of doc ids and the df — ES's term
    dictionary + postings; (3) the suggest table (below).  Returns the
    three table names registered in the session catalog (bucketed
    tables must go through the catalog).
    """
    doc_table = f"{table_prefix}_docs"
    post_table = f"{table_prefix}_postings"
    suggest_table = f"{table_prefix}_suggest"

    # The doc-store write and the postings chain are independent jobs
    # over distinct tables/paths — overlapped from two driver threads
    # (guide §2.6) so each write's straggler/commit tail back-fills
    # with the other's tasks, same pattern as the base/delta segment
    # overlap in delta_index_merge_read.  The suggest table reads the
    # WRITTEN posting table, so it stays ordered after postings inside
    # its thread.  (r12 measured this overlap as noise-inconclusive on
    # a degraded box; re-measured r13 on a quiet box — see
    # OPTIMIZATION_r13.md.)
    def _write_docs() -> None:
        write_bucketed(docs, doc_table, out_dir, ["doc_id"], n_buckets)

    def _write_postings_then_suggest() -> None:
        postings = (
            docs.select(
                "doc_id",
                F.explode(F.array_distinct(tokenize(F.col("text")))).alias(
                    "term"
                ),
            )
            .groupBy("term")
            .agg(
                F.sort_array(F.collect_list("doc_id")).alias("posting"),
                F.count("*").alias("df"),
            )
        )
        write_bucketed(postings, post_table, out_dir, ["term"], n_buckets)

        # the completion-suggester structure — ES keeps this SEPARATE
        # from the inverted index (an FST keyed by input prefixes); the
        # stand-in keys each term by its 2-char prefix and buckets on
        # it, so a prefix lookup is an EQUALITY on the bucket column
        # and reads 1 of n files in one task, exactly like the term
        # point lookup.  Derived by reading the WRITTEN posting table
        # (one aggregated scan, no re-tokenization).
        suggest = spark.table(post_table).select(
            F.substring("term", 1, 2).alias("prefix2"), "term", "df"
        )
        write_bucketed(
            suggest.repartition(n_buckets, "prefix2"),
            suggest_table,
            out_dir,
            ["prefix2"],
            n_buckets,
            sort_keys=["prefix2", "term"],
        )

    run_concurrently(_write_docs, _write_postings_then_suggest)
    return {"docs": doc_table, "postings": post_table, "suggest": suggest_table}


def search_term_lookup(spark: SparkSession, post_table: str, term: str) -> DataFrame:
    """Serving-side read of the A7 index: posting list for one term.
    The term equality leaves one file in the scan's bucket set, so the
    lookup is a one-task scan of 1 of n files."""
    return spark.table(post_table).filter(F.col("term") == term)


def suggest_lookup(
    spark: SparkSession, suggest_table: str, prefix: str, k: int = 10
) -> DataFrame:
    """Serving-side completion suggester over the A7 suggest table:
    top-k terms extending ``prefix``, ranked by document frequency
    (df desc, term asc tie-break — the ES completion ordering with a
    deterministic tie key).

    ``prefix`` must be >= 2 chars: the equality on the bucketed
    ``prefix2`` column leaves 1 of n files in the scan's bucket set (a
    file filter — the lookup is one task, and the top-k needs no
    shuffle); the residual ``startswith`` handles longer prefixes
    within that file (rows are term-sorted, so parquet row-group stats
    skip non-matching ranges)."""
    if len(prefix) < 2:
        raise ValueError("suggest_lookup needs a prefix of >= 2 chars")
    return (
        spark.table(suggest_table)
        .filter(
            (F.col("prefix2") == prefix[:2])
            & F.col("term").startswith(prefix)
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
        .select("term", "df")
    )


def write_jdbc_standin(df: DataFrame, out_dir: str, table: str) -> str:
    """A8: PG sink stand-in — parquet payload + the DDL that would be
    issued over JDBC (offline env has no PG; ``df.write.jdbc(url,
    table, properties)`` is the production call)."""
    path = os.path.join(out_dir, table)
    df.write.mode("overwrite").parquet(path)
    ddl_cols = ",\n  ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    ddl = f"CREATE TABLE {table} (\n  {ddl_cols}\n);\n"
    fs, ddl_path = _hadoop_fs(df.sparkSession, os.path.join(path, "_ddl.sql"))
    out = fs.create(ddl_path, True)
    try:
        out.write(ddl.encode())
    finally:
        out.close()
    return path


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    id_col: str,
    n_shards: int,
) -> str:
    """Training-export sink: deterministic shard layout for a trainer.

    Shard = md5(id) mod n_shards — content-keyed, so the layout is
    reproducible across engines/re-runs and a trainer reading shard i
    always sees the same documents (no RNG, no row-position
    dependence).  Within a shard, rows are sorted by the same hash: a
    stable pseudo-shuffle, which is what sequence-level training wants
    (decorrelated neighbors, bit-identical every run).

    One repartition on the shard key (each output file written by one
    task), hive-partitioned by ``shard`` for pruning.  At 100 TB pick
    n_shards ≈ total_bytes / target_file_size.
    """
    hashed = df.withColumn(
        "_h", F.md5(F.col(id_col).cast("string"))
    ).withColumn(
        "shard",
        (F.conv(F.substring("_h", 1, 8), 16, 10).cast("long") % n_shards).cast(
            "int"
        ),
    )
    (
        hashed.repartition(n_shards, "shard")
        .sortWithinPartitions("_h", id_col)
        .drop("_h")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    return out_dir


def _commit_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    merge: Callable[[DataFrame], DataFrame],
) -> None:
    """Merge one micro-batch onto the parquet table ``out_dir/serving``
    and commit it by rename: the crash-safe commit of every
    foreachBatch sink here.

    The batch is read once.  A micro-batch DataFrame is an uncached
    plan that recomputes its whole lineage, the stateful stage
    included, on every read, so the served copy and the batch meet in
    one union rather than a join: the served copy is tagged
    ``_src = 0`` and the batch ``_src = 1``.  The serving read takes
    the batch's schema, so no schema-inference job runs, and ``merge``
    must return a table of the batch's column types.  ``merge`` maps
    that union, coalesced to one partition, to the new table.

    One job per batch and one merge task: one partition satisfies the
    merge aggregate's distribution, so no merge shuffle runs; in the
    ingest stream that task is the batch's only task, which also
    scans the events and runs the state store.  The merge is written
    once, to ``_staging_<batch_id>``, reading ``serving`` and never
    writing it, and an empty ``_batch_<queryId>_<batch_id>`` marker
    (``_batch_<batch_id>`` for a call outside a stream) is added
    beside its ``_SUCCESS``.  Driver-side ``FileSystem`` renames (no
    job) then swap it in: ``serving`` → ``_serving_prev``, staged copy
    → ``serving``, delete ``_serving_prev``.  One rename thus commits
    the table and the stream and id of the batch it holds.  Nothing is
    deleted before a complete, ``_SUCCESS``-marked copy exists, and a
    reader finds a committed table except between the two renames.

    The next batch mends a crash before the replayed batch re-merges:
    a swap that died between its renames (``serving`` missing,
    ``_serving_prev`` present) is rolled back; any other
    ``_serving_prev`` or ``_staging_*`` is deleted, and a failed staged
    write never touched ``serving``.  Every path is asked of its own
    Hadoop FileSystem, so a file:// / hdfs:// / s3a:// ``out_dir``
    sees its earlier batches too (ADVICE r13).  Rename is atomic
    metadata on ``file://`` and HDFS; on object stores (s3a://, gs://)
    it copies the table, not atomically.

    Only a MISSING serving dir means first batch.  One that exists
    without its ``_SUCCESS`` marker (emptied or damaged out of band)
    raises instead of being merged onto or re-seeded from one batch.
    """
    spark = batch_df.sparkSession
    fs, root = _hadoop_fs(spark, out_dir)
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    serving, prev = Path(root, "serving"), Path(root, "_serving_prev")
    staging = Path(root, f"_staging_{batch_id}")
    if not fs.exists(serving) and fs.exists(prev):
        _rename(fs, prev, serving)
    fs.delete(prev, True)
    for leftover in fs.globStatus(Path(root, "_staging_*")) or []:
        fs.delete(leftover.getPath(), True)
    rows = batch_df.withColumn("_src", F.lit(1))
    if fs.exists(serving):
        if not fs.exists(Path(serving, "_SUCCESS")):
            raise RuntimeError(
                f"serving dir {serving} has no _SUCCESS marker: its last "
                "write did not commit; refusing to merge onto it"
            )
        served = spark.read.schema(batch_df.schema).parquet(serving.toString())
        rows = served.withColumn("_src", F.lit(0)).unionByName(rows)
    try:
        # One file sizes the output for a key-bounded table (guide §6
        # small-files).  A cluster serving a large key space would
        # repartition to a target file size here instead.
        merge(rows.coalesce(1)).write.parquet(staging.toString())
        query = _query_id(spark)
        marker = f"_batch_{query}_{batch_id}" if query else f"_batch_{batch_id}"
        fs.create(Path(staging, marker)).close()
    except Exception:
        fs.delete(staging, True)
        raise
    if fs.exists(serving):
        _rename(fs, serving, prev)
    _rename(fs, staging, serving)
    fs.delete(prev, True)


def _query_id(spark: SparkSession) -> str | None:
    """Id of the streaming query whose ``foreachBatch`` call is running
    on this thread, None outside a stream.  It is the same across
    restarts from one checkpoint and new for a new checkpoint."""
    return spark.sparkContext.getLocalProperty("sql.streaming.queryId")


def _served_batch(spark: SparkSession, out_dir: str) -> tuple[str | None, int]:
    """Query id and batch id of the batch whose commit made
    ``out_dir/serving``, from its ``_batch_[<queryId>_]<id>`` marker;
    ``(None, -1)`` before the first commit."""
    fs, markers = _hadoop_fs(spark, os.path.join(out_dir, "serving", "_batch_*"))
    served = []
    for m in fs.globStatus(markers) or []:
        query, _, batch = m.getPath().getName()[len("_batch_"):].rpartition("_")
        served.append((int(batch), query or None))
    batch, query = max(served, default=(-1, None))
    return query, batch


def foreach_batch_upsert(out_dir: str, key_cols: list[str]):
    """A10/K8: idempotent micro-batch upsert into a parquet serving dir.

    Returns a ``foreachBatch`` function: each micro-batch overwrites
    the keys it contains (read-merge-write on the serving copy,
    committed by :func:`_commit_batch`) — the same upsert contract an
    ES/PG sink gives, exactly-once per micro-batch via the checkpoint's
    batch id.  Each key keeps the value struct of its highest ``_src``
    tag: a batch row replaces the served row, a key only served
    survives, and duplicate batch keys collapse to one of the batch's
    rows.
    """

    def latest(rows: DataFrame) -> DataFrame:
        cols = [c for c in rows.columns if c != "_src"]
        value = F.struct(*[c for c in cols if c not in key_cols])
        return (
            rows.groupBy(*key_cols)
            .agg(F.max_by(value, "_src").alias("_v"))
            .select(
                *[
                    c if c in key_cols else F.col("_v").getField(c).alias(c)
                    for c in cols
                ]
            )
        )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        _commit_batch(batch_df, batch_id, out_dir, latest)

    return upsert


def foreach_batch_additive_merge(
    out_dir: str, key_cols: list[str], add_cols: list[str]
):
    """A10/K8 depth: ADDITIVE micro-batch merge into a parquet MV —
    incremental materialized-view maintenance with the state in the
    SINK, not the streaming engine.

    Returns a ``foreachBatch`` function: each micro-batch arrives as
    RAW pre-aggregated partials (count / DECIMAL sums per key) and is
    merged by ADDING onto the serving copy, so the engine keeps no
    aggregation state at all — the pattern that scales a 100 TB rollup
    without a 100 TB state store.  Duplicate keys within a batch add
    up too.  The sums keep the batch's column types, so partials
    should come in the type the MV holds (long counts, DECIMAL(38,s)
    sums).  Readers scan ``out_dir/serving``.

    The commit is :func:`_commit_batch`'s, the upsert's.  Unlike the
    upsert, an additive merge is NOT naturally idempotent, so
    exactly-once needs a fence: a batch whose id is not above the one
    in the committed ``serving``'s ``_batch_<queryId>_<id>`` marker is
    already folded in and is skipped.  One rename commits the data and
    the fence together.  The fence can be a single high-water mark
    because Structured Streaming batch ids increase monotonically and
    only the last uncommitted batch is ever replayed; a swap that died
    between its renames leaves no ``serving``, and the rolled-back copy
    holds an earlier batch than the replayed one.

    Batch ids are only ordered within one query: a new checkpoint
    restarts them at 0.  So a batch of a query other than the one that
    committed ``serving`` raises ``RuntimeError`` naming both ids.
    Skipping it as a redelivery would drop its rows silently, and
    adding it could count twice a source the new checkpoint replays
    from its start.  Calls outside a stream carry no query id and
    fence by batch id alone.
    """

    def sums(rows: DataFrame) -> DataFrame:
        return rows.groupBy(*key_cols).agg(
            *[F.sum(c).cast(rows.schema[c].dataType).alias(c) for c in add_cols]
        )

    def add(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        query = _query_id(spark)
        served_query, served = _served_batch(spark, out_dir)
        if served >= 0 and served_query != query:
            raise RuntimeError(
                f"{out_dir}/serving holds batch {served} of query "
                f"{served_query}; refusing batch {batch_id} of query "
                f"{query}: its batch ids do not continue that query's"
            )
        if batch_id > served:
            _commit_batch(batch_df, batch_id, out_dir, sums)

    return add


#: Embedded Derby ships with Spark (metastore dependency) — a REAL JDBC
#: endpoint with zero extra deps.  Production PG swaps url + driver.
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def write_jdbc(df: DataFrame, url: str, table: str) -> None:
    """A8 real JDBC sink: the actual ``df.write.jdbc`` path (executors
    open driver connections and batch INSERTs — the same code path a
    PostgreSQL serving layer uses, pointed at embedded Derby here)."""
    df.write.mode("overwrite").jdbc(url, table, properties={"driver": DERBY_DRIVER})


def read_jdbc(spark: SparkSession, url: str, table: str) -> DataFrame:
    """A8 read side: ``spark.read.jdbc`` — full-table scan through the
    JDBC driver (production adds partitionColumn/bounds for parallel
    reads; Derby embedded serves one JVM, so a single partition is the
    honest shape here)."""
    return spark.read.jdbc(url, table, properties={"driver": DERBY_DRIVER})
