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
from urllib.parse import urlparse

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


def _local_dir(out_dir: str) -> str:
    """``out_dir`` as a local path (a ``file:`` URI maps to its path);
    any other scheme raises — ``os.replace`` commits are local-only."""
    url = urlparse(out_dir)
    if url.scheme not in ("", "file"):
        raise ValueError(f"out_dir {out_dir!r}: os.replace commits are local-only")
    return url.path if url.scheme else out_dir


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
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "_ddl.sql"), "w") as fh:
        fh.write(ddl)
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


def foreach_batch_upsert(out_dir: str, key_cols: list[str]):
    """A10/K8: idempotent micro-batch upsert into a parquet serving dir.

    Returns a ``foreachBatch`` function: each micro-batch overwrites
    the keys it contains (read-merge-write on the serving copy) —
    the same upsert contract an ES/PG sink gives, exactly-once per
    micro-batch via the checkpoint's batch id.

    The batch is read once.  A micro-batch DataFrame is an uncached
    plan that recomputes its whole lineage, the stateful stage
    included, on every read, so the merge is one union rather than a
    join of the batch against itself: the serving copy is tagged
    ``_src = 0`` and the batch ``_src = 1``, and each key keeps the
    value struct of its highest tag.  A batch row replaces the served
    row, a key only served survives, and duplicate batch keys collapse
    to one of the batch's rows.  The serving read takes the batch's
    schema, so no schema-inference job runs either.

    One job per batch and one merge task: the union is coalesced to
    one partition ahead of the merge, so no merge shuffle runs; in the
    ingest stream that task is the state stage's own.  The merge is
    written once, to
    ``_staging_<batch_id>``, reading ``serving`` and never writing it.
    Driver-side ``FileSystem`` renames (no job) then swap it in:
    ``serving`` → ``_serving_prev``, staged copy → ``serving``, delete
    ``_serving_prev``.  Nothing is deleted before a complete,
    ``_SUCCESS``-marked copy exists, and a reader finds a committed
    table except between the two renames.  The next batch mends a
    crash before the replayed batch re-merges: a swap that died
    between its renames (``serving`` missing, ``_serving_prev``
    present) is rolled back; any other ``_serving_prev`` or
    ``_staging_*`` is deleted, and a failed staged write never touched
    ``serving``.  Rename is atomic metadata on ``file://`` and HDFS;
    on object stores (s3a://, gs://) it copies the table, not atomically.

    Only a MISSING serving dir means first batch.  One that exists
    without its ``_SUCCESS`` marker (emptied or damaged out of band)
    raises instead of being merged onto or re-seeded from one batch.
    """

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Every path is asked of its own Hadoop FileSystem, so a
        # file:// / hdfs:// / s3a:// out_dir sees its earlier batches
        # too (ADVICE r13).
        fs, root = _hadoop_fs(spark, out_dir)
        Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
        serving, prev = Path(root, "serving"), Path(root, "_serving_prev")
        staging = Path(root, f"_staging_{batch_id}")
        if not fs.exists(serving) and fs.exists(prev):
            _rename(fs, prev, serving)
        fs.delete(prev, True)
        for leftover in fs.globStatus(Path(root, "_staging_*")) or []:
            fs.delete(leftover.getPath(), True)
        cols = batch_df.columns
        value = F.struct(*[c for c in cols if c not in key_cols])
        tagged = batch_df.withColumn("_src", F.lit(1))
        if fs.exists(serving):
            if not fs.exists(Path(serving, "_SUCCESS")):
                raise RuntimeError(
                    f"serving dir {serving} has no _SUCCESS marker: its last "
                    "write did not commit; refusing to merge onto it"
                )
            served = spark.read.schema(batch_df.schema).parquet(serving.toString())
            tagged = served.withColumn("_src", F.lit(0)).unionByName(tagged)
        # coalesce(1) ahead of the merge: one job, one merge task.  One
        # partition satisfies the aggregate's distribution, so no merge
        # shuffle runs, and the single file sizes the output for a
        # key-bounded table (guide §6 small-files).  A cluster serving a
        # large key space would repartition to a target file size here
        # instead.
        merged = (
            tagged.coalesce(1)
            .groupBy(*key_cols)
            .agg(F.max_by(value, "_src").alias("_v"))
            .select(
                *[
                    c if c in key_cols else F.col("_v").getField(c).alias(c)
                    for c in cols
                ]
            )
        )
        try:
            merged.write.parquet(staging.toString())
        except Exception:
            fs.delete(staging, True)
            raise
        if fs.exists(serving):
            _rename(fs, serving, prev)
        _rename(fs, staging, serving)
        fs.delete(prev, True)

    return upsert


def foreach_batch_additive_merge(
    out_dir: str, key_cols: list[str], add_cols: list[str]
):
    """A10/K8 depth: ADDITIVE micro-batch merge into a parquet MV —
    incremental materialized-view maintenance with the state in the
    SINK, not the streaming engine.

    Returns a ``foreachBatch`` function: each micro-batch arrives as
    RAW pre-aggregated partials (count / DECIMAL sums per key) and is
    merged by ADDING onto the serving copy (read-modify-write), so
    the engine keeps no aggregation state at all — the pattern that
    scales a 100 TB rollup without a 100 TB state store.  Unlike the
    overwrite upsert, an additive merge is NOT naturally idempotent,
    so exactly-once needs explicit batch-id fencing.

    Commit protocol (crash-safe): each batch writes its merged result
    to a fresh versioned dir ``serving_b{id}``, then atomically
    promotes it by ``os.replace``-ing a pointer file (``CURRENT``)
    that records BOTH the live dir and the highest applied batch id —
    one atomic rename commits the data and the fence together.  A
    crash before the rename leaves the old pointer (batch unapplied —
    redelivery re-merges from the OLD version, correct); a crash
    after leaves the new pointer (redelivery is fenced out).  The
    fence can be a single high-water-mark because Structured
    Streaming batch ids are monotonically increasing and only the
    last uncommitted batch is ever replayed.

    Failure posture: only a MISSING serving version is treated as
    first-batch; any other read error (transient IO, corruption)
    re-raises rather than silently re-initializing the MV from one
    batch's partials.  A non-local ``out_dir`` raises ``ValueError``.
    """
    out_dir = _local_dir(out_dir)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        import json

        spark = batch_df.sparkSession
        os.makedirs(out_dir, exist_ok=True)
        pointer = os.path.join(out_dir, "CURRENT")
        state: dict = {"dir": None, "last_applied": -1}
        if os.path.exists(pointer):
            with open(pointer) as fh:
                state = json.load(fh)
        if batch_id <= state["last_applied"]:
            return  # redelivery: already folded in
        if state["dir"] is None:
            merged = batch_df
        else:
            # Pointer exists => the version it names was fully written
            # before the pointer commit; a failure reading it is real.
            current = spark.read.parquet(os.path.join(out_dir, state["dir"]))
            merged = current.unionByName(batch_df)
        vdir = f"serving_b{batch_id}"
        # One file per MV version (guide §6 small-files): the merged
        # table is key-bounded (one row per rollup key), and every
        # later batch re-reads the live version — 8 shuffle-partition
        # shards per version were pure open overhead.  Coalescing ahead
        # of the sum needs no merge shuffle: one task reads, adds and
        # writes.  A cluster serving a large key space repartitions to
        # a target file size here instead.
        merged = merged.coalesce(1)
        if state["dir"] is not None:
            merged = merged.groupBy(*key_cols).agg(
                *[F.sum(c).alias(c) for c in add_cols]
            )
        merged.write.mode("overwrite").parquet(os.path.join(out_dir, vdir))
        tmp_ptr = os.path.join(out_dir, f"_ptr_{batch_id}")
        with open(tmp_ptr, "w") as fh:
            json.dump({"dir": vdir, "last_applied": batch_id}, fh)
        os.replace(tmp_ptr, pointer)  # the atomic commit point
        if state["dir"] is not None:  # GC the superseded version
            import shutil

            shutil.rmtree(os.path.join(out_dir, state["dir"]), ignore_errors=True)

    return merge


def read_additive_mv(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the live version of an additive-merge MV: resolve the
    ``CURRENT`` pointer written by :func:`foreach_batch_additive_merge`
    and scan only the committed serving dir.

    A missing pointer means NO batch ever committed (e.g. the stream
    drained zero micro-batches) — surfaced as a descriptive error
    rather than a bare FileNotFoundError, because "empty stream" and
    "wrong path" need different fixes and the raw errno can't tell
    them apart."""
    import json

    out_dir = _local_dir(out_dir)
    pointer = os.path.join(out_dir, "CURRENT")
    try:
        with open(pointer) as fh:
            state = json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"additive MV at {out_dir!r} has no CURRENT pointer: no "
            "micro-batch has ever committed (empty/failed stream, or "
            "wrong out_dir) — the MV read has nothing serveable yet"
        ) from None
    return spark.read.parquet(os.path.join(out_dir, state["dir"]))


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
