"""Parquet scan layer (SURVEY.md §2.A1/A2) + view registration (§1.3).

The one genuinely non-obvious piece is the events.ts repair: the fixture
writes ``ts`` as parquet TIMESTAMP(NANOS), which Spark's vectorized reader
rejects.  With ``spark.sql.legacy.parquet.nanosAsLong=true`` the column
arrives as a raw nanosecond LongType; we convert with **integer** division
(``ts div 1000``) before ``timestamp_micros`` — float division drifts up
to 1 µs at 2024-epoch magnitudes and breaks hash-parity with DuckDB,
which truncates ns→µs natively (FIXTURES.md).

Scale note: these are plain ``spark.read.parquet`` scans — predicate
pushdown, column pruning and partition pruning all apply.  Table-specific
repairs are projections (no shuffle, no UDF); at 100 TB the scan cost is
the parquet reader's, unchanged by this layer.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: All driver fixture tables, in FK-dependency order (dims first).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _repair_events(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to TimestampType whatever the fixture encoding.

    The fixtures have already shipped two encodings across rounds:

    - parquet TIMESTAMP(NANOS): rejected by the vectorized reader; with
      ``nanosAsLong=true`` it arrives as a raw ns LongType and is
      repaired with integer division (µs truncation, matching DuckDB).
    - parquet timestamp[us] with ``isAdjustedToUTC=false``: Spark 4
      reads this as TIMESTAMP_NTZ, on which ``cast(.. as bigint)`` is an
      AnalysisException — so every epoch-math site downstream breaks.
      Under the pinned UTC session timezone the NTZ→LTZ cast is exact
      (wall clock == instant), so normalize here, once.

    ``inferTimestampNTZ.enabled=false`` in SEMANTIC_CONF makes the scan
    yield TimestampType directly (defense in depth); this projection
    covers sessions where that conf could not be applied.
    """
    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


#: Sessions whose semantic confs were already asserted (conf.set is an
#: RPC; doing it per load_table cost ~0.3 s/query at bench scale).
_conf_done: weakref.WeakSet = weakref.WeakSet()

#: Plan cache: fixture dirs are immutable, so the analyzed DataFrame
#: (schema + repair projection) is reusable across queries on the same
#: session — skips the parquet footer/schema RPC on every re-load.
_df_cache: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table by name, applying any schema repair.

    Asserts the runtime-settable semantic confs (UTC timezone,
    nanosAsLong) once per session so correctness holds even on a session
    the engine did not build (the driver passes its own SparkSession).
    """
    from insight_spark.engine import SEMANTIC_CONF

    if spark not in _conf_done:
        for k, v in SEMANTIC_CONF.items():
            spark.conf.set(k, v)
        _conf_done.add(spark)
    else:
        # cheap re-check (conf.get is a local lookup, no RPC): a caller
        # that mutated a semantic conf mid-session (e.g. timeZone in a
        # test) must not silently load tables under drifted semantics
        for k, v in SEMANTIC_CONF.items():
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)

    cache = _df_cache.setdefault(spark, {})
    key = (sf_dir, name)
    if key not in cache:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events":
            df = _repair_events(df)
        cache[key] = df
    return cache[key]


def parquet_rows(path: str) -> int:
    """Row count of one parquet file, read from its footer (no Spark job)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register temp views mirroring the DuckDB oracle's view names."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    **options,
) -> DataFrame:
    """CSV scan (A3) of files with a header row: explicit schema
    preferred; inference only for ad-hoc."""
    reader = spark.read.options(header=True, **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    **options,
) -> DataFrame:
    """JSON-lines scan (A4) with optional explicit schema."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def from_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """In-memory source (A5)."""
    return spark.createDataFrame(rows, schema)


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    """ORC scan (A-family: columnar alternative to parquet, built into
    Spark).  Same pushdown/pruning behavior as the parquet scan —
    PushedFilters and ReadSchema appear in the plan identically."""
    return spark.read.options(**options).orc(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
) -> DataFrame:
    """Raw-file scan (A11): Spark's ``binaryFile`` format — the ingest
    path for media corpora (images/audio/video as whole files).

    Schema is fixed by the format: (path, modificationTime, length,
    content binary).  ``pathGlobFilter`` prunes at *listing* time, so a
    mime-targeted read (``glob="*.wav"``) never opens non-matching
    files; pair with ``operators/multimodal`` decode UDFs downstream.
    At scale, many-small-files listing cost dominates — prefer
    consolidated Parquet payload tables (TESTDATA layout) once
    ingested; this source is the first hop only.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def write_hidden_partitioned(df: DataFrame, path: str) -> None:
    """Hidden day-partitioning (the Iceberg headline feature, public
    design): lay the table out by a DERIVED partition value
    (``to_date(ts)`` of the ``ts`` column) the user never has to know
    about — queries keep filtering on the raw timestamp and
    ``read_ts_range`` maps that
    predicate onto the layout.  The derived column is written as the
    hive partition key and dropped again on read, so the logical
    schema is unchanged."""
    (
        df.withColumn("_part_day", F.to_date(F.col("ts")))
        .repartition(F.col("_part_day"))
        .write.mode("overwrite")
        .partitionBy("_part_day")
        .parquet(path)
    )


def read_ts_range(spark: SparkSession, path: str, lo: str, hi: str) -> DataFrame:
    """Range scan over a hidden-partitioned table: the caller supplies
    only the TIMESTAMP predicate [lo, hi); the reader derives the
    matching partition predicate (day(lo) ≤ _part_day ≤ day(hi)) so
    the scan PRUNES to the touched directories — static partition
    pruning from a predicate the user wrote against the raw column.
    Correctness never depends on the pruning: the exact ts predicate
    is applied on top (a row in a touched partition but outside
    [lo, hi) is still filtered), so a transform-mapping bug can only
    cost IO, never rows — except a too-NARROW mapping, which the
    value oracle of ``hidden_partition_pruning`` would catch as
    missing rows."""
    lo_c, hi_c = F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp")
    return (
        spark.read.parquet(path)
        .filter(
            (F.col("_part_day") >= F.to_date(lo_c))
            & (F.col("_part_day") <= F.to_date(hi_c))
        )
        .filter((F.col("ts") >= lo_c) & (F.col("ts") < hi_c))
        .drop("_part_day")
    )
