"""Window composites (SURVEY.md §2.E) — ranked groups and sessionization.

Scale notes: window functions shuffle once on ``partitionBy`` keys and
sort within partitions.  Skewed partition keys (one user with 10^9
events) are the main 100 TB risk — AQE cannot split a single window
partition, so session keys must be bounded-cardinality-per-key by
construction (user_id is; a global window with no partitionBy is not and
is avoided everywhere).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    partition: Sequence[str],
    order: Sequence[Column],
    k: int,
) -> DataFrame:
    """Top-k rows per group via row_number (E10), ranked in ``rn``.

    ``order`` must be a total order (unique tie-break) for determinism.
    Spark ≥3.5 rewrites the rank-filter into WindowGroupLimit: each
    group short-circuits after k rows instead of ranking everything.
    """
    w = Window.partitionBy(*partition).orderBy(*order)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    tie: str,
) -> DataFrame:
    """Gap-based sessionization (E5/E7; batch form of K3).

    A new session starts when the gap to the previous event (per key,
    ordered by ``ts, tie``) exceeds ``gap_seconds``; the session id is
    the running count of session starts.  Second-granularity gap uses
    epoch-second truncation, which matches DuckDB ``date_diff('second')``
    exactly (boundary-crossing count == floor-difference).

    One shuffle on ``key``; both window passes share the same
    partitioning and sort, so Spark plans a single exchange + sort.
    """
    w = Window.partitionBy(key).orderBy(ts, tie)
    prev_ts = F.lag(F.col(ts)).over(w)
    is_new = F.when(
        prev_ts.isNull()
        | ((F.col(ts).cast("long") - prev_ts.cast("long")) > gap_seconds),
        1,
    ).otherwise(0)
    running = Window.partitionBy(key).orderBy(ts, tie).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("_is_new", is_new).withColumn(
        "session_id", F.sum("_is_new").over(running)
    ).drop("_is_new")
