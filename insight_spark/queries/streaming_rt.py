"""Driver-checkable Structured Streaming queries (SURVEY §2.K1/K4/K5).

The K-surface previously had pytest-only evidence: the driver compares
batch query results against DuckDB and never drives a stream.  These
queries close that gap by running a REAL streaming execution inside a
batch-shaped query: fixture events are split into event-time-ordered
parquet chunks, a file-source stream (micro-batch per chunk) runs the
windowed aggregation through the streaming engine into a memory sink
with Trigger-drain semantics, and the drained table is returned — so
the driver's value-hash check verifies actual micro-batch execution
(state merged across 4 micro-batches) against the batch oracle.

Two output-mode regimes:

- ``complete`` (hourly counts, dedup counts): every window re-emits on
  drain, sidestepping watermark finalization — the simplest exact form.
- ``append`` (session windows, sliding windows): the strict regime —
  a window/session emits ONLY once the watermark passes its close, so
  a far-future sentinel event arrives last to finalize everything, and
  the sentinel's own contribution is filtered from the result.  This
  checks state merge + watermark eviction semantics, not just
  aggregation.

Either way the drained table must match the batch oracle exactly —
the stream-batch-unification contract (§5.3.4) checked by the driver
instead of only by tests.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_spark.engine import conf_override, scratch_base
from insight_spark.queries import query
from insight_spark.sources import load_table
from insight_spark.streaming.core import run_stream_to_memory, run_to_completion

#: Stream fixtures + checkpoints live on the node-local scratch root
#: (tmpfs when available — the drains' fixed cost is small-file churn,
#: see engine.scratch_base); created eagerly so every mkdtemp(dir=...)
#: below has a parent.
_RT_BASE = os.path.join(scratch_base(), "stream_rt")
os.makedirs(_RT_BASE, exist_ok=True)

#: The shuffle-partition conf a stateful drain pins into its checkpoint.
_PARTS = "spark.sql.shuffle.partitions"


def _chunk_dir(spark: SparkSession, sf_dir: str, dup: bool = False) -> str:
    """Get-or-create the chunked stream input for a fixture dir.

    Chunks are content-addressed by (sf_dir, dup, the single fixture
    file's size + mtime) — a file stat, no Spark job — so a fixture
    swap invalidates stale chunks (driver fixture drift between rounds
    is an established pattern); reuse across queries in the same round
    avoids rewriting per determinism-rerun.  ``dup`` additionally
    copies every chunk file — duplicate arrivals for the exactly-once
    dedup query.
    """
    from insight_spark.streaming.core import prepare_stream_input

    st = os.stat(os.path.join(sf_dir, "events.parquet"))
    key = f"{sf_dir}|{dup}|{st.st_size}|{st.st_mtime_ns}"
    tag = hashlib.md5(key.encode()).hexdigest()[:12]
    out = os.path.join(_RT_BASE, tag)
    marker = os.path.join(out, "_READY")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        paths = prepare_stream_input(spark, sf_dir, out, n_chunks=4)
        if dup:
            for p in paths:
                shutil.copy(p, p.replace(".parquet", "_dup.parquet"))
        open(marker, "w").close()
    return out


@contextmanager
def _checkpoint_dir():
    """A fresh stream checkpoint dir under ``_RT_BASE``, removed on
    exit — after a drain that throws too.  Anything that reads the
    checkpoint (statestore/state-metadata reader, offsets log) reads it
    eagerly inside the ``with`` block."""
    ckpt = tempfile.mkdtemp(prefix="ckpt_", dir=_RT_BASE)
    try:
        yield ckpt
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _drain(
    spark: SparkSession,
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Drain ``stream_df`` into the memory sink ``name`` on a throwaway
    checkpoint: the sink's rows live on the driver, not in it."""
    with _checkpoint_dir() as ckpt:
        return run_stream_to_memory(spark, stream_df, name, ckpt, output_mode)


def _committed_conf(ckpt: str) -> dict[str, str]:
    """The session conf pinned by the checkpoint's latest offsets entry.

    OffsetSeq file layout (positional, ADVICE r11): line 1 is the format
    version tag, line 2 the metadata JSON carrying the pinned conf,
    line 3+ the per-source offsets."""
    offsets = os.path.join(ckpt, "offsets")
    latest = max((f for f in os.listdir(offsets) if f.isdigit()), key=int)
    with open(os.path.join(offsets, latest)) as fh:
        return json.loads(fh.read().splitlines()[1])["conf"]


@query(
    "stream_hourly_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 through the streaming engine: tumbling 1-hour counts built by
    4 micro-batches (one per ts-ordered chunk, maxFilesPerTrigger=1),
    state merged across batches, drained complete into a memory sink.
    Identical expression to the driver-green batch ``events_hourly`` —
    the oracle row proves stream execution == batch semantics."""
    from insight_spark.streaming.core import (
        hourly_counts_stream,
        read_events_stream,
    )

    events = read_events_stream(spark, _chunk_dir(spark, sf_dir))
    agg = hourly_counts_stream(events)
    name = "mem_hourly_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = _drain(spark, agg, name)
    return out.select(
        "window_start",
        "event_type",
        "n_events",
        F.round(F.col("sum_value").cast("double"), 6).alias("sum_value"),
    )


@query(
    "stream_dedup_counts",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 through the streaming engine: every chunk file arrives TWICE;
    ``dropDuplicates("event_id")`` keyed state discards the replayed
    rows across batch boundaries, so the counts equal the batch counts
    over the original events — exactly-once semantics under
    at-least-once delivery, driver-checked.

    2 files per trigger (4 micro-batches over the 8 files): keyed
    dedup is batch-slicing-invariant, and the dup copies carry fresh
    mtimes so the file source (mtime order) delivers EVERY replay in a
    later batch than its original — cross-batch replay dedup is still
    what the hash proves; the coarser slicing only amortizes the
    ~0.6 s fixed per-trigger drain cost (measured r12)."""
    from insight_spark.streaming.core import read_events_stream

    events = read_events_stream(
        spark, _chunk_dir(spark, sf_dir, dup=True), max_files_per_trigger=2
    )
    deduped = (
        events.withWatermark("ts", "24 hours")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )
    name = "mem_dedup_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return _drain(spark, deduped, name)


#: Sentinel user id: its single far-future event advances the watermark
#: past every real session so APPEND mode finalizes them all.
_SENTINEL_USER = -1


def _chunk_dir_with_sentinel(spark: SparkSession, sf_dir: str) -> str:
    """Chunked stream input plus a trailing far-future sentinel chunk."""
    from insight_spark.streaming.core import write_single_parquet

    base = _chunk_dir(spark, sf_dir)
    out = base + "_sentinel"
    marker = os.path.join(out, "_READY")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out, exist_ok=True)
        # the file stream source orders arrivals by MODIFICATION TIME,
        # not name — copy in chunk order and stamp strictly increasing
        # mtimes, or an out-of-order chunk arrives "late" and the
        # watermark silently drops it wholesale (observed: a scrambled
        # copy order dropped an entire chunk's 250 rows)
        t0 = 1_000_000_000
        for i, f in enumerate(sorted(os.listdir(base))):
            if f.endswith(".parquet"):
                dst = os.path.join(out, f)
                shutil.copy(os.path.join(base, f), dst)
                os.utime(dst, (t0 + i, t0 + i))
        ev = load_table(spark, sf_dir, "events")
        sentinel = ev.select(
            F.lit(0).cast("long").alias("event_id"),
            F.timestamp_add(
                "DAY", F.lit(10), F.max("ts")
            ).alias("ts"),
            F.lit(_SENTINEL_USER).cast("long").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        # stamped far in mtime-future so the source reads it last and
        # the watermark only advances once every real event is ingested
        dst = os.path.join(out, "zz_sentinel.parquet")
        write_single_parquet(sentinel, dst)
        os.utime(dst, (t0 + 10_000, t0 + 10_000))
        open(marker, "w").close()
    return out


@query(
    "stream_session_append",
    oracle="""
    WITH flags AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER w < INTERVAL 30 MINUTE
                    THEN 0 ELSE 1 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flags
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 through the streaming engine in APPEND mode — the strictest
    streaming evidence in the suite: session-window state must merge
    events across micro-batches AND the watermark must finalize and
    emit every closed session (append emits a session only once the
    watermark passes its close; complete mode would sidestep eviction
    entirely).  A far-future sentinel event arrives last, pushing the
    watermark past all real sessions so none are left unemitted; the
    sentinel's own session is filtered from the result.  Parity with
    the batch lag-gap oracle proves merge + eviction semantics exact.
    """
    from insight_spark.streaming.core import read_events_stream

    # 2 files per trigger (3 micro-batches over 4 chunks + sentinel):
    # session-window state still merges across batch boundaries and
    # append-mode eviction still fires on the sentinel's watermark
    # advance; the coarser slicing only amortizes per-trigger cost.
    events = read_events_stream(
        spark, _chunk_dir_with_sentinel(spark, sf_dir), max_files_per_trigger=2
    )
    agg = (
        events.withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
        )
    )
    name = "mem_sess_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = _drain(spark, agg, name, output_mode="append")
    return out.filter(F.col("user_id") != _SENTINEL_USER)


@query(
    "stream_sliding_append",
    oracle="""
    SELECT time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE * s
               AS window_start,
           COUNT(*) AS n_events
    FROM events, unnest([0, 1]) AS t(s)
    GROUP BY 1
    """,
)
def stream_sliding_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 through the streaming engine in APPEND mode: 10-minute
    windows sliding every 5 (each event in exactly 2 overlapping
    windows), watermark-finalized by the same far-future sentinel as
    the session query — every real window closes and emits, the
    sentinel's own two windows are filtered by time bound.  Parity
    with the batch explode-form oracle proves overlapping-window state
    and eviction agree with batch semantics.
    """
    from insight_spark.streaming.core import read_events_stream

    # 2 files per trigger — same slicing argument as the session query.
    events = read_events_stream(
        spark, _chunk_dir_with_sentinel(spark, sf_dir), max_files_per_trigger=2
    )
    agg = (
        events.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    name = "mem_slide_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = _drain(spark, agg, name, output_mode="append")
    [hi] = (
        load_table(spark, sf_dir, "events")
        .agg(F.max("ts").alias("hi"))
        .collect()
    )
    return out.filter(F.col("window_start") <= hi["hi"])


@query(
    "stream_static_join_counts",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT user_id,
               CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                    THEN 'A' ELSE 'B' END AS variant
        FROM events
    )
    SELECT variant, event_type, COUNT(*) AS n_events
    FROM events e JOIN dim d ON e.user_id = d.user_id
    GROUP BY variant, event_type
    """,
)
def stream_static_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 through the streaming engine: the event stream joins a STATIC
    dimension (the md5-keyed variant assignment of ab_test_metrics)
    inside the micro-batch pipeline, then aggregates per (variant,
    type) — the enrich-then-aggregate shape of every streaming ETL
    (facts stream, dims don't).

    The static side is plan-fixed: each micro-batch broadcast-joins
    the same dimension — no stream-side state for the join itself,
    only for the downstream aggregate.  Complete-mode drain; parity
    with the batch join oracle proves per-batch enrichment composes
    to exactly the batch result.
    """
    from insight_spark.streaming.core import read_events_stream

    dim = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
                "A",
            )
            .otherwise("B")
            .alias("variant"),
        )
    )
    events = read_events_stream(spark, _chunk_dir(spark, sf_dir))
    agg = (
        events.join(F.broadcast(dim), "user_id")
        .groupBy("variant", "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    name = "mem_ssj_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return _drain(spark, agg, name)


def _chunk_dir_with_late(spark: SparkSession, sf_dir: str) -> str:
    """Sentinel chunk dir plus a LATE re-delivery: after the far-future
    sentinel has advanced the watermark past every real event, a copy
    of the FIRST chunk arrives again (mtime-last).  Every row in it is
    days behind the watermark, so K4 semantics require the engine to
    drop the whole chunk on the floor."""
    base = _chunk_dir_with_sentinel(spark, sf_dir)
    out = base + "_late"
    marker = os.path.join(out, "_READY")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out, exist_ok=True)
        chunks = sorted(
            f for f in os.listdir(base) if f.endswith(".parquet")
        )
        t0 = 1_000_000_000
        for i, f in enumerate(chunks):
            dst = os.path.join(out, f)
            shutil.copy(os.path.join(base, f), dst)
            os.utime(dst, (t0 + i, t0 + i))
        # the late arrival: first chunk again, mtime AFTER the sentinel
        late = os.path.join(out, "zzz_late_redelivery.parquet")
        shutil.copy(os.path.join(base, chunks[0]), late)
        os.utime(late, (t0 + 20_000, t0 + 20_000))
        open(marker, "w").close()
    return out


@query(
    "stream_late_drop",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 through the streaming engine: watermark late-data drop,
    driver-checked.  Chunks arrive in event-time order, a far-future
    sentinel closes every real window (append mode emits each exactly
    once), and THEN the first chunk is re-delivered — every row of it
    now days behind the watermark.  Correct K4 semantics drop the
    re-delivery entirely: the drained table equals the batch hourly
    counts over the original events.

    2 files per trigger (3 micro-batches: chunks 1-2, chunks 3-4,
    sentinel + re-delivery): the re-delivered rows are DAYS behind
    even the pre-sentinel watermark (max ts of chunk 4 − 1 min), so
    the drop invariant is slicing-independent, and the last real
    window still closes via the sentinel's advance (emitted in the
    trailing no-data batch).  A leak would either re-emit
    closed windows (duplicate rows -> row-count mismatch) or inflate
    counts (value-hash mismatch)."""
    from insight_spark.streaming.core import read_events_stream

    events = read_events_stream(
        spark, _chunk_dir_with_late(spark, sf_dir), max_files_per_trigger=2
    )
    agg = (
        events.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )
    name = "mem_late_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = _drain(spark, agg, name, output_mode="append")
    return out.filter(F.col("event_type") != "sentinel")


@query(
    "stream_watermark_audit",
    oracle="""
    WITH chunked AS (
        SELECT ts, event_type,
               ntile(4) OVER (ORDER BY ts, event_id) AS chunk
        FROM events
    ),
    delivered AS (
        SELECT ts, event_type FROM events
        UNION ALL
        SELECT ts, event_type FROM chunked WHERE chunk = 1
    ),
    d AS (
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n_delivered
        FROM delivered GROUP BY 1, 2
    ),
    a AS (
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n_accepted
        FROM events GROUP BY 1, 2
    )
    SELECT d.window_start, d.event_type, d.n_delivered,
           COALESCE(a.n_accepted, 0) AS n_accepted,
           d.n_delivered - COALESCE(a.n_accepted, 0) AS n_late
    FROM d LEFT JOIN a USING (window_start, event_type)
    """,
)
def stream_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data ACCOUNTING (M148) — the audit twin of
    ``stream_late_drop`` (K4): K4 proves late rows are dropped; this
    query measures HOW MANY, per window — the freshness/loss dashboard
    a streaming platform keeps next to every watermarked job (silent
    late-drop is the classic "counts drifted low and nobody knows
    why" incident).

    Same fixture as K4: ts-ordered chunks, a far-future sentinel that
    closes every real window, then a re-delivery of the FIRST chunk —
    entirely behind the watermark.  Two legs meet in a batch join:
    ``n_accepted`` comes from a REAL streaming execution (watermarked
    hourly counts, append mode — emitted once per closed window), and
    ``n_delivered`` from a batch scan of the exact files the stream
    source saw.  ``n_late = n_delivered − n_accepted`` is therefore
    nonzero exactly on the redelivered chunk's windows, and the oracle
    replays the chunk split (ntile(4) over ts, event_id — the
    ``prepare_stream_input`` definition) to predict it row-exactly.

    Scale: the streaming leg is the production watermarked agg
    (bounded state); the delivered leg is a metadata-cheap count over
    the same files (in production, the source's per-batch input-row
    metrics); the audit join is |windows|-sized.

    2 files per trigger (3 micro-batches), same slicing argument as
    K4 ``stream_late_drop``: the redelivery is days behind even the
    pre-sentinel watermark, so ``n_late`` is slicing-independent.
    """
    from insight_spark.streaming.core import read_events_stream

    in_dir = _chunk_dir_with_late(spark, sf_dir)
    events = read_events_stream(spark, in_dir, max_files_per_trigger=2)
    agg = (
        events.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_accepted"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_accepted"
        )
    )
    name = "mem_wma_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    accepted = _drain(spark, agg, name, output_mode="append").filter(
        F.col("event_type") != "sentinel"
    )
    delivered = (
        spark.read.parquet(os.path.join(in_dir, "*.parquet"))
        .filter(F.col("event_type") != "sentinel")
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count("*").alias("n_delivered"))
    )
    n_acc = F.coalesce(F.col("n_accepted"), F.lit(0))
    return delivered.join(
        accepted, ["window_start", "event_type"], "left"
    ).select(
        "window_start",
        "event_type",
        "n_delivered",
        n_acc.alias("n_accepted"),
        (F.col("n_delivered") - n_acc).alias("n_late"),
    )


@query(
    "stream_stream_join_pairs",
    oracle="""
    SELECT p.user_id AS p_user,
           p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.ts AS purchase_ts,
           c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    """,
)
def stream_stream_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13/K7+ through the streaming engine: watermarked stream-stream
    interval join (purchases x preceding clicks within 30 minutes),
    both sides buffered as keyed state with watermark-bounded
    eviction, drained append into a memory sink.  An inner
    stream-stream join emits each matched pair exactly once as both
    sides arrive, so the drained pair SET must equal the batch
    interval join — the oracle is that batch join.  A state-eviction
    bug (too eager) would drop pairs that span micro-batch
    boundaries; a join-dispatch bug would duplicate them.

    2 files per trigger (2 micro-batches over the 4 ts-ordered
    chunks): an inner stream-stream join is batch-slicing-invariant
    (a pair emits once whenever its later side arrives, whichever
    batch that is), and clicks preceding purchases across the
    remaining boundary still exercise the cross-batch buffered-state
    path; the coarser slicing only amortizes the fixed per-trigger
    cost of the two join-state commits per batch."""
    from insight_spark.streaming.core import (
        purchase_click_join_stream,
        read_events_stream,
    )

    events = read_events_stream(
        spark, _chunk_dir(spark, sf_dir), max_files_per_trigger=2
    )
    joined = purchase_click_join_stream(events)
    name = "mem_ssj_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return _drain(spark, joined, name, output_mode="append")


@query(
    "stream_stateful_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6)
               AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 through the streaming engine: arbitrary per-key state via
    ``applyInPandasWithState`` (running count+sum per user, one state
    row per key), update-mode drain — the memory sink then holds every
    per-batch emission, and the LAST emission per user (largest
    n_events; strictly monotone per key) must equal the batch
    aggregate.  This is the surface windowed aggs can't express
    (decaying counters, per-key model state); the driver row proves
    state round-trips across micro-batches, not just within one.

    Float note: the state accumulates value in chunk-arrival order
    (deterministic — the chunk cache fixes arrival order), and the
    oracle sums in DECIMAL then rounds; at fixture magnitudes the
    two agree at 6 decimals (float64 error ~1e-11 at the fixture's
    1e4-scale totals, far inside the 6-decimal round).

    2 files per trigger (2 micro-batches over the 4 ts-ordered
    chunks): running totals are a commutative monoid, so the final
    per-key state is slicing-invariant; cross-batch state round-trip
    is still exercised across the remaining boundary.
    """
    from insight_spark.streaming.core import (
        read_events_stream,
        user_totals_stateful,
    )

    events = read_events_stream(
        spark, _chunk_dir(spark, sf_dir), max_files_per_trigger=2
    )
    totals = user_totals_stateful(events)
    name = "mem_state_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = _drain(spark, totals, name, output_mode="update")
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("sum_value", "n_events").alias("_sv"),
        )
        .select(
            "user_id", "n_events", F.round(F.col("_sv"), 6).alias("sum_value")
        )
    )


@query(
    "stream_upsert_user_latest",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           MAX(ts) AS last_ts
    FROM events
    GROUP BY user_id
    """,
)
def stream_upsert_user_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8/A10 through the streaming engine: update-mode aggregation
    driven through a ``foreachBatch`` UPSERT into a parquet serving
    directory (the offline stand-in for an ES/PG serving store), then
    the serving copy is read back and returned.

    Each micro-batch re-emits the users it touched; the upsert
    overwrites exactly those keys (read-merge-write, idempotent per
    batch id), so after the drain the serving table holds every
    user's final totals — which must equal the batch aggregate.  This
    is the sink-side half of K8 the memory-sink queries don't cover:
    a partial upsert, a dropped key, or a non-idempotent merge breaks
    row count or hash.

    2 files per trigger (2 micro-batches over the 4 ts-ordered
    chunks): COUNT and MAX(ts) are batch-slicing-invariant, and the
    read-merge-write upsert path is still exercised across a batch
    boundary (batch 2 overwrites keys batch 1 served); the coarser
    slicing only amortizes the fixed per-trigger drain cost."""
    from insight_spark.sources.sinks import foreach_batch_upsert
    from insight_spark.streaming.core import read_events_stream

    events = read_events_stream(
        spark, _chunk_dir(spark, sf_dir), max_files_per_trigger=2
    )
    agg = (
        events.withWatermark("ts", "24 hours")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.max("ts").alias("last_ts"))
    )
    out_dir = tempfile.mkdtemp(prefix="upsert_", dir=_RT_BASE)
    with _checkpoint_dir() as ckpt:
        run_to_completion(
            agg.writeStream.foreachBatch(
                foreach_batch_upsert(out_dir, ["user_id"])
            ).outputMode("update"),
            ckpt,
        )
    return spark.read.parquet(os.path.join(out_dir, "serving"))


@query(
    "stream_stream_left_join",
    oracle="""
    SELECT p.user_id AS p_user,
           p.event_id AS purchase_id,
           COALESCE(c.event_id, -1) AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7/K8 outer form through the streaming engine: watermarked
    stream-stream LEFT OUTER interval join.  Matched pairs emit as
    both sides arrive (the inner path); a purchase with NO click in
    its 30-minute window emits with a null side only once the CLICK
    watermark passes its upper time bound — the state-eviction path an
    inner join never exercises.  The far-future sentinel (flowing
    through BOTH side filters so it advances BOTH watermarks) pushes
    eviction past every real purchase, so the drained set must equal
    the batch LEFT JOIN exactly: too-eager eviction drops matches,
    too-lazy eviction strands unmatched purchases, double emission
    duplicates them.

    Null-side click_id is coalesced to -1 IN-PLAN (a nullable int
    column would reach pandas as float64 and break the driver's value
    hash); the sentinel's own self-match is filtered from the result.

    2 files per trigger (3 micro-batches over 4 chunks + sentinel;
    the sentinel file's mtime is newest so it stays LAST): the inner
    path is slicing-invariant, and the eviction path still runs after
    the sentinel batch advances both watermarks (null emissions land
    in the trailing no-data micro-batch, which the drain runs to
    completion); the coarser slicing only
    amortizes the fixed per-trigger cost of the two join-state
    commits per batch.
    """
    from insight_spark.streaming.core import read_events_stream

    events = read_events_stream(
        spark, _chunk_dir_with_sentinel(spark, sf_dir), max_files_per_trigger=2
    )
    clicks = (
        events.filter(F.col("event_type").isin("click", "sentinel"))
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    purchases = (
        events.filter(F.col("event_type").isin("purchase", "sentinel"))
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "1 minute")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")
        ),
        "left_outer",
    ).select(
        "p_user",
        "purchase_id",
        F.coalesce(F.col("click_id"), F.lit(-1)).alias("click_id"),
    )
    name = "mem_sslj_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = _drain(spark, joined, name, output_mode="append")
    return out.filter(F.col("p_user") != _SENTINEL_USER)


@query(
    "stream_funnel_stages",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id
    )
    SELECT u.user_id,
           CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                     WHEN c.user_id IS NOT NULL THEN 2
                     WHEN v.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS funnel_stage
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN v ON u.user_id = v.user_id
    LEFT JOIN c ON u.user_id = c.user_id
    LEFT JOIN p ON u.user_id = p.user_id
    """,
)
def stream_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 sequential-pattern state machine through the streaming
    engine: the per-user ordered funnel advanced incrementally across
    micro-batches (streaming/core.funnel_stage_stateful), update-mode
    drain, last (= max, stage is monotone) emission per user.  The
    driver hash proves the cross-batch state machine lands on exactly
    the batch chained-MIN funnel for every user — ordering, strict
    after-ness, and state round-trips all checked, the
    MATCH_RECOGNIZE-class surface built-in windowed aggs can't
    express.
    """
    from insight_spark.streaming.core import (
        funnel_stage_stateful,
        read_events_stream,
    )

    # 2 files per trigger (2 micro-batches over the 4 ts-ordered
    # chunks): the state machine is batch-slicing-invariant (in-batch
    # sort + strict after-ness make any ts-ordered split replay
    # identically), so this only amortizes the fixed per-trigger drain
    # cost — cross-batch state advancement is still exercised.
    events = read_events_stream(
        spark, _chunk_dir(spark, sf_dir), max_files_per_trigger=2
    )
    stages = funnel_stage_stateful(events)
    name = "mem_funnel_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = _drain(spark, stages, name, output_mode="update")
    return out.groupBy("user_id").agg(
        F.max("funnel_stage").alias("funnel_stage")
    )


@query(
    "stream_mv_additive_merge",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
           event_type,
           CAST(SUM(1) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6)
               AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_mv_additive_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MV maintenance through the stream (M135): each
    micro-batch is aggregated to (hour, type) PARTIALS inside
    ``foreachBatch`` and merged ADDITIVELY into a parquet MV — the
    engine holds zero aggregation state (no watermark, no state
    store); the rollup lives entirely in the sink, fenced per batch
    id for exactly-once under redelivery.

    This is the streaming twin of `mv_rollup_rewrite`'s serving MV
    and the sink-side complement of `stream_upsert_user_latest`
    (which overwrites latest values; an additive merge is the
    NON-idempotent case that actually needs batch fencing).  After
    the drain, the MV must equal the batch aggregate over all events
    — DECIMAL partials make the equality exact regardless of how many
    batches the stream was sliced into.
    """
    from insight_spark.sources.sinks import foreach_batch_additive_merge
    from insight_spark.streaming.core import read_events_stream

    events = read_events_stream(spark, _chunk_dir(spark, sf_dir))
    out_dir = tempfile.mkdtemp(prefix="mvmerge_", dir=_RT_BASE)

    def partials_then_merge(batch_df, batch_id):
        p = batch_df.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias(
                "hour"
            ),
            "event_type",
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("_sv"),
        )
        foreach_batch_additive_merge(
            out_dir, ["hour", "event_type"], ["n_events", "_sv"]
        )(p, batch_id)

    with _checkpoint_dir() as ckpt:
        run_to_completion(events.writeStream.foreachBatch(partials_then_merge), ckpt)
    mv = spark.read.parquet(os.path.join(out_dir, "serving"))
    return mv.select(
        "hour",
        "event_type",
        "n_events",
        F.round(F.col("_sv").cast("double"), 6).alias("sum_value"),
    )


@query(
    "stream_exactly_once_audit",
    oracle="""
    SELECT event_type,
           2 * COUNT(*) AS n_delivered,
           COUNT(*) AS n_accepted,
           COUNT(*) AS n_duplicates_dropped
    FROM events
    GROUP BY event_type
    """,
)
def stream_exactly_once_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ACCOUNTING (M156) — the audit twin of
    ``stream_dedup_counts`` (K5), completing the pattern M148 set for
    K4: K5 proves replayed deliveries are deduplicated; this query
    measures HOW MANY, per event_type — the at-least-once-transport
    health metric (a dup rate that jumps from its baseline means the
    upstream producer is retrying, before anything downstream breaks).

    Same fixture as K5: every chunk file arrives TWICE.  ``n_accepted``
    comes from the REAL streaming execution (``dropDuplicates`` on
    event_id across batch boundaries); ``n_delivered`` from a batch
    scan of the exact files the stream source saw; the difference is
    the dropped-duplicate count — here exactly one per event, which
    the oracle states in closed form (delivered = 2× accepted).

    2 files per trigger (4 micro-batches over the 8 files), same
    argument as K5: dedup is slicing-invariant and the dup copies'
    fresh mtimes put every replay in a later batch than its original,
    so the hash still proves CROSS-BATCH replay dedup; the r11 sweep
    entry (12 s) was 8 triggers × fixed cost under end-of-round
    contention — see SCALE.md r12.

    Scale: the streaming leg is the production keyed dedup state
    (watermark-bounded); the delivered leg is a metadata-cheap count
    over the same files; the audit join is |event_type|-sized.
    """
    from insight_spark.streaming.core import read_events_stream

    in_dir = _chunk_dir(spark, sf_dir, dup=True)
    events = read_events_stream(spark, in_dir, max_files_per_trigger=2)
    deduped = (
        events.withWatermark("ts", "24 hours")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_accepted"))
    )
    name = "mem_eoa_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    accepted = _drain(spark, deduped, name)
    delivered = (
        spark.read.parquet(os.path.join(in_dir, "*.parquet"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_delivered"))
    )
    return delivered.join(accepted, "event_type").select(
        "event_type",
        "n_delivered",
        "n_accepted",
        (F.col("n_delivered") - F.col("n_accepted")).alias(
            "n_duplicates_dropped"
        ),
    )


@query(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 with BOUNDED dedup state (M215): the Spark-3.5+
    ``dropDuplicatesWithinWatermark`` operator — unlike plain
    ``dropDuplicates`` (whose key set grows forever on an unbounded
    stream), each key's state is EVICTED once the watermark passes its
    last-seen event time + delay, so a 100 TB/day stream holds only
    the delay window's keys, which is the only dedup shape that
    survives unbounded ingestion.

    Same duplicated-chunk input as ``stream_dedup_counts`` (every file
    arrives twice, replays in later batches than originals — fresh dup
    mtimes under the file source's mtime ordering); replays land well
    inside the 24 h delay, so the deduped counts must equal the batch
    counts over the original events — the value hash proves eviction
    never fired EARLY (a dropped key would let a replay through and
    inflate a count).

    2 files per trigger (4 micro-batches over the 8 files), same
    slicing-invariance argument as K5.  Benched since r12: the r10
    exclusion measured ~58 s/drain, which no longer reproduces
    (4.7 s/drain measured r12 at sf0.1 — see SCALE.md)."""
    from insight_spark.streaming.core import read_events_stream

    events = read_events_stream(
        spark, _chunk_dir(spark, sf_dir, dup=True), max_files_per_trigger=2
    )
    deduped = (
        events.withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )
    name = "mem_dedup_wm_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return _drain(spark, deduped, name)


@query(
    "stream_manifest_sink_versions",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(4 AS INTEGER) AS n_versions
    FROM events
    GROUP BY event_type
    """,
)
def stream_manifest_sink_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming into the TRANSACTIONAL manifest table (M221) — the
    integration of the K surface with the M208 commit log: a
    ``foreachBatch`` sink commits every micro-batch as one ACID
    manifest version (append is atomic put-if-absent, so a reader
    polling the table NEVER sees a half-written batch, and each batch
    id maps to one auditable version — replayable history for free).

    Four ts-ordered chunks → four micro-batches → exactly four
    committed versions; the final snapshot must hold every event
    exactly once (per-type counts equal batch truth) and the version
    count rides in the hash.  This is how a Delta streaming sink
    actually works: idempotent-by-construction commits per epoch.
    """
    from insight_spark.operators.manifest import (
        latest_version,
        log_append,
        read_snapshot,
    )
    from insight_spark.streaming.core import read_events_stream

    events = read_events_stream(spark, _chunk_dir(spark, sf_dir))
    tbl = tempfile.mkdtemp(prefix="mani_sink_", dir=_RT_BASE)
    shutil.rmtree(tbl, ignore_errors=True)

    def commit_batch(batch_df, batch_id: int) -> None:
        # one manifest version per micro-batch; expected_version derives
        # from the current log head so a restart replaying a committed
        # epoch conflicts instead of double-appending
        log_append(
            batch_df.select("event_id", "event_type"),
            tbl,
            op=f"stream-epoch-{batch_id}",
        )

    with _checkpoint_dir() as ckpt:
        run_to_completion(
            events.writeStream.foreachBatch(commit_batch).outputMode("append"),
            ckpt,
        )
    n_versions = latest_version(tbl)
    return (
        read_snapshot(spark, tbl)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            "event_type",
            "n_events",
            F.lit(n_versions).cast("int").alias("n_versions"),
        )
    )


@query(
    "stream_topk_hitters",
    oracle="""
    WITH counts AS (
        SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, user_id
    )
    SELECT event_type, user_id, n, rk FROM (
        SELECT event_type, user_id, n,
               CAST(row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY n DESC, user_id) AS INTEGER) AS rk
        FROM counts
    ) WHERE rk <= 5
    """,
)
def stream_topk_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters (M256): per-(event_type, user_id) counts
    accumulated as keyed streaming state across 4 micro-batches, then
    the drained complete-mode table is ranked to the top-5 hitters per
    type — the realtime abuse/hot-key dashboard (join_key_skew_profile
    M66's streaming twin: the same skewed keys surface WHILE the
    stream runs, not in the post-mortem).

    The oracle is the identical batch aggregation + rank: the value
    hash proves keyed state merged correctly across micro-batch
    boundaries (stream-batch unification, §5.3.4).  Exactness: counts
    are exact BIGINTs; ranks tie-break user_id.  Scale: streaming
    state is one counter per live (type, user) key — the production
    form bounds it with a space-saving sketch or TTL eviction; the
    post-drain rank runs on the aggregate, partitioned per type.
    """
    from pyspark.sql.window import Window

    from insight_spark.streaming.core import read_events_stream

    events = read_events_stream(spark, _chunk_dir(spark, sf_dir))
    agg = events.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("n")
    )
    name = "mem_topk_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = _drain(spark, agg, name)
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), "user_id")
    return out.select(
        "event_type",
        "user_id",
        "n",
        F.row_number().over(w).cast("int").alias("rk"),
    ).filter(F.col("rk") <= 5)


@query(
    "stream_ohlc_bars",
    oracle="""
    WITH x AS (
        SELECT date_trunc('hour', ts) AS bar_hour,
               struct_pack(
                   us := epoch_us(ts),
                   eid := event_id,
                   vu := CAST(CAST(value AS DECIMAL(38,6)) * 1000000
                              AS BIGINT)
               ) AS s
        FROM events WHERE event_type = 'purchase'
    )
    SELECT bar_hour,
           CAST(COUNT(*) AS BIGINT) AS n_trades,
           CAST(min(s)['vu'] AS BIGINT) AS open_micro,
           CAST(max(s)['vu'] AS BIGINT) AS close_micro,
           CAST(MAX(s.vu) AS BIGINT) AS high_micro,
           CAST(MIN(s.vu) AS BIGINT) AS low_micro
    FROM x GROUP BY bar_hour
    """,
)
def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ohlc_hourly_bars` (M277) through the STREAMING engine (M280):
    the stream-batch-unification contract made concrete on a
    non-trivial aggregate — open/close are min/max over a
    (epoch_µs, event_id, value) struct, so the streaming state per
    hour is two structs + three scalars, merged across 4 micro-batches
    (one per ts-ordered chunk) and drained complete into the memory
    sink.  A market-data pipeline runs exactly this shape live; the
    oracle row proves the micro-batch state merge reproduces the batch
    bars bit-for-bit (same struct-ordering argument as M277 — the
    unique (ts,id) prefix makes every merge order land on the same
    min/max).

    Scale: per-hour state is O(1) (two structs, three longs) — the
    partial-aggregation monoid property that makes the batch plan
    map-side combinable is the SAME property that bounds streaming
    state; |hours| keys total.
    """
    from insight_spark.streaming.core import read_events_stream

    events = read_events_stream(spark, _chunk_dir(spark, sf_dir))
    s = F.struct(
        F.unix_micros(F.col("ts")).alias("us"),
        F.col("event_id").alias("eid"),
        (F.col("value").cast("decimal(38,6)") * 1000000)
        .cast("long")
        .alias("vu"),
    )
    agg = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.date_trunc("hour", "ts").alias("bar_hour"), s.alias("s"))
        .groupBy("bar_hour")
        .agg(
            F.count("*").cast("long").alias("n_trades"),
            F.min("s").getField("vu").cast("long").alias("open_micro"),
            F.max("s").getField("vu").cast("long").alias("close_micro"),
            F.max(F.col("s.vu")).cast("long").alias("high_micro"),
            F.min(F.col("s.vu")).cast("long").alias("low_micro"),
        )
    )
    name = "mem_ohlc_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return _drain(spark, agg, name)


@query(
    "stream_state_rescale_audit",
    oracle="""
    WITH t AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    )
    SELECT CAST(8 AS INT) AS parts_run1,
           CAST(8 AS INT) AS parts_run2,
           CAST(32 AS INT) AS requested_run2,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_users,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_state_keys,
           (SELECT CAST(SUM(n) AS BIGINT) FROM t) AS n_events,
           (SELECT CAST(SUM(user_id * n) AS BIGINT) FROM t)
               AS totals_checksum
    """,
)
def stream_state_rescale_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store rescale/migration round-trip (VERDICT r10 task 9 —
    the streaming-ops primitive the r10 statestore-reader work stopped
    short of): a stateful aggregation drains half its input at
    ``spark.sql.shuffle.partitions = 8``, stops, and is RESTARTED from
    the same checkpoint with the session requesting 32 — the ops move
    that silently corrupts state in engines that re-hash keys on the
    new partition count.  Spark's contract is pin-don't-rescale: the
    checkpoint's offsets metadata carries the state partition count
    and every restart keeps using it regardless of session config.
    The audit proves all of it in one value-hashed row:

    - ``parts_run1`` / ``parts_run2``: the shuffle-partition count
      recorded in the LAST committed offsets metadata of each run —
      both must be 8 (a 32 anywhere means state re-hashed under a
      different layout: per-key totals would silently split).
    - ``requested_run2`` pins that the restart really asked for 32.
    - ``n_state_keys``: distinct keys the state-store READER
      (`spark.read.format("statestore")`) finds in the checkpoint
      after the restarted drain — must equal the batch-exact user
      count (state survived the restart complete, none orphaned on
      partitions the new run would not consult).
    - ``n_users`` / ``n_events`` / ``totals_checksum``: the serving
      table after both drains vs the batch aggregate over ALL events
      — convergence of the upserted totals across the restart.

    Scale: the real rescale procedure at 100 TB is the offline
    migration this audit's invariants license — read every (key,
    value) with the statestore reader, re-shuffle to the new
    partitioning, seed a fresh checkpoint — and its correctness
    criterion is exactly this query's: same key set, same totals,
    conservation under re-partitioning.
    """
    from insight_spark.sources.sinks import foreach_batch_upsert
    from insight_spark.streaming.core import read_events_stream

    chunks = sorted(
        glob.glob(os.path.join(_chunk_dir(spark, sf_dir), "*.parquet"))
    )
    base = tempfile.mkdtemp(prefix="rescale_", dir=_RT_BASE)
    staged = os.path.join(base, "in")
    serving = os.path.join(base, "serve")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(staged)

    def _run(n_parts: int) -> int:
        """Drain at ``n_parts`` requested; the count the checkpoint ran at."""
        with conf_override(spark, {_PARTS: str(n_parts)}):
            # 2 files per trigger: the count monoid is slicing-
            # invariant and the audit's invariants (committed conf,
            # state-key conservation across the restart) are
            # batch-count-independent.
            agg = (
                read_events_stream(spark, staged, max_files_per_trigger=2)
                .groupBy("user_id")
                .agg(F.count("*").cast("long").alias("n_events"))
            )
            run_to_completion(
                agg.writeStream.foreachBatch(
                    foreach_batch_upsert(serving, ["user_id"])
                ).outputMode("update"),
                ckpt,
            )
        return int(_committed_conf(ckpt)[_PARTS])

    for c in chunks[:2]:
        shutil.copy(c, staged)
    parts_run1 = _run(8)
    for c in chunks[2:]:
        shutil.copy(c, staged)
    parts_run2 = _run(32)  # the rescale request the engine must refuse silently

    n_state_keys = (
        spark.read.format("statestore")
        .load(ckpt)
        .select("key.user_id")
        .distinct()
        .count()
    )
    return (
        spark.read.parquet(os.path.join(serving, "serving"))
        .agg(
            F.lit(parts_run1).cast("int").alias("parts_run1"),
            F.lit(parts_run2).cast("int").alias("parts_run2"),
            F.lit(32).cast("int").alias("requested_run2"),
            F.count("*").cast("long").alias("n_users"),
            F.lit(n_state_keys).cast("long").alias("n_state_keys"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum(F.col("user_id") * F.col("n_events"))
            .cast("long")
            .alias("totals_checksum"),
        )
    )


@query(
    "stream_state_migration_roundtrip",
    oracle="""
    WITH t AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6)) * 1000000)
                    AS BIGINT) AS vu
        FROM events GROUP BY user_id
    )
    SELECT CAST(8 AS INT) AS parts_before,
           CAST(16 AS INT) AS parts_after,
           CAST(1 AS INT) AS beyond_old_layout,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_migrated,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_users,
           (SELECT CAST(SUM(n) AS BIGINT) FROM t) AS n_events,
           (SELECT CAST(SUM(user_id * n) AS BIGINT) FROM t)
               AS totals_checksum,
           (SELECT CAST(SUM(vu) AS BIGINT) FROM t) AS sum_micro
    """,
)
def stream_state_migration_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTUAL state-store rescale migration the rescale audit
    (M351) licenses — executed end to end (M352): drain half the input
    at ``shuffle.partitions = 8``, EXPORT the typed aggregation state
    with the statestore reader, re-encode it as WEIGHTED SEED RECORDS,
    and re-ingest seed + remaining input into a FRESH checkpoint at 16
    partitions.  The trick that makes this portable to any engine and
    any monoid-state operator: the running totals are kept as
    ``SUM(w)`` / ``SUM(vu)`` rather than ``COUNT(*)`` — a real event
    carries w=1, a migrated key's seed record carries w=n_migrated —
    so the new checkpoint's agg state absorbs an entire old key's
    history from one record, and the migration is exactly-once by
    construction (the seed parquet is staged before the new stream
    starts).  At 100 TB this is the offline reader → transform →
    re-shuffle-by-new-partitioning → re-ingest pipeline; state never
    transits the driver (the seed write is a distributed job).

    The value-hashed row proves every leg:
    - ``parts_before`` / ``parts_after``: committed offsets metadata
      of the two checkpoints — 8 then genuinely 16 (unlike M351's
      pin-don't-rescale refusal, the new checkpoint RUNS at the new
      count);
    - ``beyond_old_layout``: the new checkpoint's statestore reader
      finds state on partition ids >= 8 — physical proof the layout
      actually changed;
    - ``n_migrated``: state rows exported from the old checkpoint =
      exact user count (nothing orphaned);
    - totals (count / user-weighted checksum / exact micro sum) from
      the final serving view equal the batch aggregate over ALL
      events — no loss, no double count across the migration.
    """
    chunks = sorted(
        glob.glob(os.path.join(_chunk_dir(spark, sf_dir), "*.parquet"))
    )
    base = tempfile.mkdtemp(prefix="migrate_", dir=_RT_BASE)
    in1 = os.path.join(base, "in1")
    in2 = os.path.join(base, "in2")
    os.makedirs(in1)
    os.makedirs(in2)
    tag = hashlib.md5((sf_dir + base).encode()).hexdigest()[:8]

    def _weighted(src_df):
        return src_df.select(
            "user_id",
            F.lit(1).cast("long").alias("w"),
            (F.col("value").cast("decimal(38,6)") * 1000000)
            .cast("long")
            .alias("vu"),
        )

    def _stage(df, dest_dir, name):
        tmp = os.path.join(base, "stage_" + name)
        df.coalesce(1).write.parquet(tmp)
        for f in glob.glob(os.path.join(tmp, "*.parquet")):
            shutil.copy(f, os.path.join(dest_dir, name + ".parquet"))

    for i, c in enumerate(chunks[:2]):
        _stage(_weighted(spark.read.parquet(c)), in1, f"c{i}")

    def _run(src_dir: str, ckpt: str, n_parts: int, sink: str) -> int:
        """Drain at ``n_parts``; the count the checkpoint ran at."""
        with conf_override(spark, {_PARTS: str(n_parts)}):
            # 2 files per trigger: SUM(w)/SUM(vu) are commutative
            # monoids, so the migrated totals are slicing-invariant.
            agg = (
                spark.readStream.schema("user_id long, w long, vu long")
                .option("maxFilesPerTrigger", "2")
                .parquet(src_dir)
                .groupBy("user_id")
                .agg(
                    F.sum("w").cast("long").alias("n"),
                    F.sum("vu").cast("long").alias("vu"),
                )
            )
            run_stream_to_memory(spark, agg, sink, ckpt, output_mode="update")
        return int(_committed_conf(ckpt)[_PARTS])

    ck1 = os.path.join(base, "ck1")
    parts_before = _run(in1, ck1, 8, "mig1_" + tag)

    # EXPORT: typed agg state (key.user_id, buffer sums in declaration
    # order) re-encoded as weighted seed records.  BOTH buffer fields
    # are literally named "sum", so name-based access is ambiguous
    # (value.* + toDF silently resolves both to one field) — a struct
    # CAST renames POSITIONALLY, which is the only safe access path.
    seed = (
        spark.read.format("statestore")
        .load(ck1)
        .select(
            F.col("key.user_id").alias("user_id"),
            F.col("value").cast("struct<n:long,vu:long>").alias("v"),
        )
        .select(
            "user_id",
            F.col("v.n").alias("w"),
            F.col("v.vu").alias("vu"),
        )
    )
    n_migrated = seed.count()
    _stage(seed, in2, "seed")
    for i, c in enumerate(chunks[2:]):
        _stage(_weighted(spark.read.parquet(c)), in2, f"c{i + 2}")

    ck2 = os.path.join(base, "ck2")
    parts_after = _run(in2, ck2, 16, "mig2_" + tag)
    # beyond_old_layout assumes SOME user key hashes to a partition id
    # >= 8 of the 16 — certain for the fixture tiers (hundreds+ of
    # distinct user_ids; P(all on partitions 0-7) = 0.5^n_users), but a
    # toy fixture with only a handful of users could legitimately land
    # all keys low and flip this bit (ADVICE r11 — documented minimum:
    # ~20 distinct users makes a false 0 a <1e-6 event).
    beyond = (
        spark.read.format("statestore")
        .load(ck2)
        .agg(F.max("partition_id").alias("mx"))
        .collect()[0]["mx"]
    )

    final = (
        spark.table("mig2_" + tag)
        .groupBy("user_id")
        .agg(
            F.max("n").alias("n"),  # n = SUM(w) is strictly monotone
            F.max_by("vu", "n").alias("vu"),
        )
    )
    return final.agg(
        F.lit(parts_before).cast("int").alias("parts_before"),
        F.lit(parts_after).cast("int").alias("parts_after"),
        F.lit(int(beyond >= 8)).cast("int").alias("beyond_old_layout"),
        F.lit(n_migrated).cast("long").alias("n_migrated"),
        F.count("*").cast("long").alias("n_users"),
        F.sum("n").cast("long").alias("n_events"),
        F.sum(F.col("user_id") * F.col("n"))
        .cast("long")
        .alias("totals_checksum"),
        F.sum("vu").cast("long").alias("sum_micro"),
    )


@query(
    "stream_rocksdb_state_audit",
    oracle="""
    WITH t AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    )
    SELECT 'RocksDBStateStoreProvider' AS provider,
           CAST(8 AS INT) AS state_partitions,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_users,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_state_keys,
           (SELECT CAST(SUM(n) AS BIGINT) FROM t) AS n_events,
           (SELECT CAST(SUM(user_id * n) AS BIGINT) FROM t)
               AS totals_checksum
    """,
)
def stream_rocksdb_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB state backend, executed (M354): the same keyed
    aggregation the K-surface drains everywhere, run under
    ``RocksDBStateStoreProvider`` instead of the default HDFS-backed
    in-memory provider — the backend every stateful Spark job at real
    scale uses, because HDFSBackedStateStore keeps each partition's
    ENTIRE key map on-heap (state size is bounded by executor memory)
    while RocksDB spills to local SSD and holds only the working set.
    streaming/core.py has carried this as a posture note since K1
    ("at real scale the state store backend is RocksDB"); this query
    turns the posture into driver-checked evidence.

    The value-hashed row proves the full contract:
    - ``provider``: parsed from the checkpoint's committed OFFSETS
      METADATA (``conf["spark.sql.streaming.stateStore.providerClass"]``
      basename) — physical proof the drain really ran RocksDB, not a
      config echo (Spark pins the provider in the checkpoint exactly
      like the shuffle-partition count the rescale audit leans on);
    - ``state_partitions``: pinned to 8 inside the query so the row
      is session-independent (the driver's vanilla session runs 16);
    - ``n_state_keys``: distinct keys the statestore READER finds in
      the RocksDB checkpoint after the drain — the reader is
      provider-agnostic, so this also proves cross-provider read
      compatibility (export tooling written against the default
      provider keeps working on RocksDB checkpoints);
    - ``n_users`` / ``n_events`` / ``totals_checksum``: the drained
      totals equal the batch aggregate — backend swap changes no
      semantics.

    2 files per trigger (2 micro-batches over the 4 ts-ordered
    chunks): the count monoid is slicing-invariant; cross-batch
    RocksDB state round-trip (put → commit → get at the next batch)
    is exercised across the remaining boundary.
    """
    from insight_spark.streaming.core import read_events_stream

    in_dir = _chunk_dir(spark, sf_dir)
    # kept after the query: its on-disk RocksDB artifacts are evidence
    ckpt = tempfile.mkdtemp(prefix="ckpt_rocks_", dir=_RT_BASE)
    name = "mem_rocks_" + hashlib.md5((sf_dir + ckpt).encode()).hexdigest()[:8]
    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    with conf_override(spark, {_PARTS: "8", provider_conf: rocksdb}):
        agg = (
            read_events_stream(spark, in_dir, max_files_per_trigger=2)
            .groupBy("user_id")
            .agg(F.count("*").cast("long").alias("n"))
        )
        out = run_stream_to_memory(spark, agg, name, ckpt, output_mode="complete")

    # the engine's own record of the provider the state was written with
    committed = _committed_conf(ckpt)
    provider = committed[provider_conf].rsplit(".", 1)[-1]
    parts = int(committed[_PARTS])
    n_state_keys = (
        spark.read.format("statestore")
        .load(ckpt)
        .select("key.user_id")
        .distinct()
        .count()
    )
    return out.agg(
        F.lit(provider).alias("provider"),
        F.lit(parts).cast("int").alias("state_partitions"),
        F.count("*").cast("long").alias("n_users"),
        F.lit(n_state_keys).cast("long").alias("n_state_keys"),
        F.sum("n").cast("long").alias("n_events"),
        F.sum(F.col("user_id") * F.col("n"))
        .cast("long")
        .alias("totals_checksum"),
    )


@query(
    "stream_state_metadata_audit",
    oracle="""
    SELECT 'dedupe' AS operator_name,
           'default' AS state_store_name,
           CAST(8 AS INT) AS num_partitions,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_state_keys
    UNION ALL
    SELECT 'stateStoreSave', 'default', CAST(8 AS INT),
           (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM events)
    """,
)
def stream_state_metadata_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint OPERATOR-METADATA inventory (M355): Spark 4's
    ``state-metadata`` reader over a two-stateful-operator checkpoint
    (keyed dedup feeding a keyed aggregation) — the ops-facing
    catalog of WHAT state a checkpoint holds, which every state
    procedure in this engine (the rescale audit, the typed-export
    migration, any retention/debug tooling) needs before it can read
    a single row: operator ids to address the statestore reader,
    partition counts to size the work, store names for multi-store
    operators (stream-stream joins keep four).

    One row per stateful operator, joined to the per-operator key
    count the statestore reader finds at that ``operatorId`` — so the
    hash proves (a) the planner registered exactly the two operators
    the query declares, dedup ABOVE the agg (its state is the full
    event_id set; the agg's is the |event_type| grid), (b) both run
    at the pinned 8 partitions regardless of session config (the
    driver's vanilla session runs 16 — same session-independence trick
    as the rescale audit), and (c) metadata operator ids really
    address the matching stores (a swapped id would cross the key
    counts).

    Scale: the metadata read is one row per (operator, store) —
    catalog-sized; the per-operator counts are distributed reader
    scans keyed by the metadata's ids.  2 files per trigger, same
    slicing argument as K5.
    """
    from insight_spark.streaming.core import read_events_stream

    in_dir = _chunk_dir(spark, sf_dir)
    with _checkpoint_dir() as ckpt:
        name = "mem_md_" + hashlib.md5((sf_dir + ckpt).encode()).hexdigest()[:8]
        with conf_override(spark, {_PARTS: "8"}):
            deduped = (
                read_events_stream(spark, in_dir, max_files_per_trigger=2)
                .withWatermark("ts", "24 hours")
                .dropDuplicates(["event_id"])
                .groupBy("event_type")
                .agg(F.count("*").alias("n"))
            )
            run_stream_to_memory(spark, deduped, name, ckpt, output_mode="complete")

        ops = (
            spark.read.format("state-metadata")
            .load(ckpt)
            .select("operatorId", "operatorName", "stateStoreName", "numPartitions")
            .collect()
        )  # catalog-sized: one row per stateful operator
        rows = [
            (
                op["operatorName"],
                op["stateStoreName"],
                op["numPartitions"],
                spark.read.format("statestore")
                .option("operatorId", op["operatorId"])
                .load(ckpt)
                .count(),
            )
            for op in ops
        ]
    return spark.createDataFrame(
        rows,
        "operator_name string, state_store_name string, "
        "num_partitions int, n_state_keys long",
    )
