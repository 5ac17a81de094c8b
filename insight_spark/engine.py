"""Session builder + the config contract (SURVEY.md §7.2).

Every entry point (driver contract, tests, bench) builds its session here
so the semantics-critical configs are pinned in exactly one place:

- ``spark.sql.session.timeZone=UTC`` — timestamp parity with the DuckDB
  oracle (naive timestamps, SURVEY.md §7.4).
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — events.ts is
  TIMESTAMP(NANOS) which the vectorized reader otherwise rejects
  ([PARQUET_TYPE_ILLEGAL]); read as long, repaired in sources.parquet.
- Arrow enabled — all Python interop is Arrow-batched (SNIPPETS.md idiom).
- AQE on (Spark 4 default, pinned explicitly): runtime partition
  coalescing, dynamic broadcast, skew-join splitting — the 100 TB posture
  relies on it instead of hand-salting.

Scale posture: ``shuffle.partitions`` here is a *test-SF* setting (small
data, avoid 200 near-empty partitions).  On a real cluster this is set to
~2-3× total executor cores and AQE coalesces from there; nothing else in
the engine assumes a partition count.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Configs that change query *semantics* (not just speed) — always applied.
SEMANTIC_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # fixtures drifted to timestamp[us] isAdjustedToUTC=false between
    # rounds; read those as TimestampType (not NTZ, on which epoch casts
    # are illegal).  Exact under the pinned UTC session timezone.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python UDTFs must plan ArrowEvalPythonUDTF, not the rowwise
    # BatchEvalPythonUDTF — the engine-wide plan guard
    # (tests/test_plans.py) treats rowwise Python as fatal at scale.
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
}

def scratch_base() -> str:
    """Node-local scratch root for harness fixtures, stream checkpoints,
    shuffle files and the warehouse.

    Prefers tmpfs (``/dev/shm``) when present: the streaming micro-batch
    drains are fixed-overhead-dominated and that overhead is almost all
    small-file churn (state-store deltas, offset/commit WAL) — measured
    r12 at sf0.1, moving this churn off the disk-backed ``/tmp`` cut the
    4-query stream drain subset ~45% and, just as important, removed the
    multi-second variance disk write-back injected into bench timings.
    Override with ``SPARK_GRAFT_SCRATCH``.  Cluster posture: checkpoints
    and warehouses live on durable storage (HDFS/S3) addressed by their
    own scheme — this local-path choice never applies there.
    """
    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        return env
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        return "/dev/shm/insight_spark_scratch"
    return "/tmp/insight_spark_scratch"


#: Performance configs for the local test harness.
LOCAL_PERF_CONF = {
    "spark.sql.shuffle.partitions": "8",
    # file:// checkpoint I/O through the CRC-less raw local fs (guide
    # §6): Hadoop's default checksumming local fs writes+reads a
    # ``.crc`` side file per file, DOUBLING file creates for every
    # state-store delta and offset/commit WAL entry — all of which go
    # through FileContextBasedCheckpointFileManager, i.e. the
    # AbstractFileSystem (FileContext) side configured here.  Client-
    # side checksums defend unreliable remote storage; for a local-
    # disk/tmpfs harness they are pure overhead (measured r12: the
    # 4-query stream drain subset dropped ~50%).  The FileSystem-API
    # side (``fs.file.impl``) deliberately stays the default:
    # ``FileSystem.getLocal`` hard-casts to LocalFileSystem and the
    # RocksDB state-store file manager breaks under a Raw override.
    # Cluster posture: hdfs://-/s3a:// schemes keep their own integrity
    # machinery — this override only touches file:// checkpoints.
    "spark.hadoop.fs.AbstractFileSystem.file.impl": (
        "org.apache.hadoop.fs.local.RawLocalFs"
    ),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
    # shuffle/spill blocks on the scratch root (tmpfs when available) —
    # see scratch_base(); a cluster sets this to fast local disks.
    "spark.local.dir": os.path.join(scratch_base(), "local"),
    # Spark 4.1 writes a checksum file beside every checkpoint file
    # (offset log, commit log, state-store deltas) — integrity
    # protection for OBJECT-STORE checkpoints.  The local harness
    # checkpoints to /tmp where it is pure overhead: measured r12,
    # state commits drop 753→435 ms per 4-batch drain with it off
    # (~0.4 s/drain across the 20-query streaming family).  A cluster
    # deploy checkpointing to S3/GCS should flip this back on.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
    # bucketed tables (operators/partitioning.py) register here; keep the
    # warehouse out of the repo tree, on the scratch root
    "spark.sql.warehouse.dir": os.path.join(scratch_base(), "warehouse"),
}


def session_builder(app_name: str = "insight_spark", master: str | None = None):
    """Return a SparkSession.Builder with the engine's config contract."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    for k, v in {**SEMANTIC_CONF, **LOCAL_PERF_CONF}.items():
        builder = builder.config(k, v)
    return builder


def get_spark(app_name: str = "insight_spark") -> SparkSession:
    """Get-or-create the engine session (idempotent; reuses a warm JVM)."""
    spark = session_builder(app_name).getOrCreate()
    # getOrCreate may return a pre-existing session (e.g. the driver's) whose
    # builder didn't carry our semantic conf — re-assert the runtime-settable
    # ones so query semantics don't depend on who created the JVM.
    for k, v in SEMANTIC_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on an existing session; builder path covers it
    return spark


def run_concurrently(*fns):
    """Run each zero-argument ``fn`` on its own driver thread and return
    their results in argument order; the first failure (in argument
    order) re-raises once every thread has finished.

    The overlap idiom for independent Spark jobs (guide §2.6): one
    write's commit tail back-fills with the other's tasks.  Each thread
    target is wrapped in ``pyspark.inheritable_thread_target`` at
    submit time, so the jobs keep the caller's JVM local properties —
    job group, scheduler pool, description — and the active session's
    job tags; a caller that counts or cancels its group's jobs sees
    every one of them."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    inherit = inheritable_thread_target(SparkSession.active())
    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futures = [pool.submit(inherit(fn)) for fn in fns]
        return [f.result() for f in futures]


@contextmanager
def conf_override(spark: SparkSession, conf: dict[str, str]):
    """Set session confs for a scoped probe and ALWAYS restore them.

    The whole registry shares one session, so a leaked threshold (a
    256-byte advisory partition size, a disabled broadcast threshold)
    would silently re-plan every query that runs later — the defect
    class the determinism gate's conf-isolation leg pins.  One shared
    implementation so the restore contract lives in exactly one place
    (used by queries/optimizer_rt.py, queries/streaming_rt.py and the
    probe-restoration tests).  An unset key is read as ``None`` and
    unset again on exit: a plain ``get`` would return a registered
    key's default, and restoring that would leave the key set."""
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
