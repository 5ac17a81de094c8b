"""Physical-layout operators: bucketing and skew salting (SURVEY §4.3).

These are the knobs the 100 TB posture actually turns:

- **Bucketed tables** co-locate both sides of a recurring large-large
  join (fact ⋈ fact on the same key): each side is pre-hash-partitioned
  into the same bucket count at write time, so the join runs with ZERO
  runtime exchange — the dominant shuffle in a daily pipeline becomes a
  one-time write cost (written by ``sources.sinks.write_bucketed``;
  tests/test_partitioning.py asserts the exchange-free plan).
- **Salting** is the manual fallback for extreme key skew that AQE's
  skew-join splitting can't fix (e.g. one key = 30% of rows joined to a
  non-broadcastable side): the hot side spreads each key over
  ``n_salts`` sub-keys, the other side replicates each row n_salts
  times; result is identical, the hot partition is n_salts× smaller.
  Deterministic (hash-derived salt, no RNG): safe under task retries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_column(unique_col: str | Column, n_salts: int) -> Column:
    """Deterministic salt in [0, n_salts): hash of a unique column, so
    re-executed tasks produce identical salts (no F.rand — RNG breaks
    exactly-once under retry)."""
    c = F.col(unique_col) if isinstance(unique_col, str) else unique_col
    return F.pmod(F.xxhash64(c), F.lit(n_salts)).cast("int")


#: Join types for which replicating ``other`` per salt preserves exact
#: join semantics.  Outer forms (right/full) would emit every unmatched
#: right-side row once per salt replica — wrong by n_salts×.
_SALT_SAFE_HOW = {"inner", "left", "left_outer", "leftouter", "left_semi",
                  "leftsemi", "left_anti", "leftanti"}


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str,
    skewed_unique_col: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join, identical result to ``skewed.join(other,
    on, how)`` for left-preserving join types.

    The skewed side gets a per-row deterministic salt; ``other`` is
    replicated once per salt value (an ``explode`` of a literal range —
    n_salts× its size, so use for moderately sized right sides or
    per-key hot-spots).  The join key becomes (on, salt): the hot key's
    rows now hash to n_salts different partitions.

    Only inner/left/left_semi/left_anti are supported: for right/full
    outer joins each unmatched ``other`` row would surface once per salt
    replica (n_salts duplicates), so those forms raise — salt the other
    side or fall back to AQE skew-join handling instead.
    """
    if how.lower().replace("_", "") not in {
        h.replace("_", "") for h in _SALT_SAFE_HOW
    }:
        raise ValueError(
            f"salted_join supports {sorted(_SALT_SAFE_HOW)} join types; "
            f"got how={how!r} (outer forms would duplicate unmatched "
            f"right-side rows n_salts times)"
        )
    s = skewed.withColumn("_salt", salt_column(skewed_unique_col, n_salts))
    o = other.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return s.join(o, [on, "_salt"], how).drop("_salt")


def hot_key_salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str,
    skewed_unique_col: str,
    n_salts: int = 8,
    hot_threshold: int = 1_000_000,
    how: str = "inner",
) -> DataFrame:
    """Production form of :func:`salted_join`: salt ONLY the hot keys.

    Full-dim salting replicates the entire ``other`` side n_salts×,
    which is the dominant cost when skew is concentrated in a few keys
    (it always is — that's what skew means).  This variant detects keys
    whose fact-side row count reaches ``hot_threshold`` (one map-side-
    combined count on the join key — |keys| rows, broadcast back), then
    routes: hot fact rows take the salted join against the hot slice of
    ``other`` (replicated n_salts×, but the slice is tiny by
    construction), cold rows take the plain equi-join.  Result is the
    exact union of both routes for every left-preserving join type —
    routing never changes semantics, only physical distribution, so the
    hot-set could equally come from a sample or a stats store at 100 TB
    instead of the exact count used here.
    """
    if how.lower().replace("_", "") not in {
        h.replace("_", "") for h in _SALT_SAFE_HOW
    }:
        raise ValueError(
            f"hot_key_salted_join supports {sorted(_SALT_SAFE_HOW)} join "
            f"types; got how={how!r} (right/full outer would leave hot "
            f"dim rows unmatched on the cold route and duplicate cold "
            f"dim rows across routes)"
        )
    counts = skewed.groupBy(on).agg(F.count("*").alias("_kn"))
    hot = F.broadcast(
        counts.filter(F.col("_kn") >= hot_threshold).select(on)
    )
    s_hot = skewed.join(hot, on, "left_semi")
    s_cold = skewed.join(hot, on, "left_anti")
    o_hot = other.join(hot, on, "left_semi")
    j_hot = salted_join(s_hot, o_hot, on, skewed_unique_col, n_salts, how)
    j_cold = s_cold.join(other, on, how)
    return j_hot.unionByName(j_cold)


def bucketed_range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    lower_s: int,
    upper_s: int,
) -> DataFrame:
    """C8 scale path: time-interval join with NO equi key, without the
    BroadcastNestedLoop/cartesian plan a raw theta join produces.

    Matches pairs where ``right_ts ∈ [left_ts + lower_s, left_ts +
    upper_s]`` (seconds, inclusive).  Both sides are bucketed into
    interval-width epochs; the left side explodes to every bucket its
    window overlaps (≤ 2 for a window no wider than the bucket), the
    right side lands in exactly one, and the join becomes a shuffle
    hash/sort-merge join on the bucket key followed by the exact range
    filter.  Candidate pairs are bounded by per-bucket density instead
    of |L|·|R| — the standard interval-bucketing rewrite (same idea as
    Spark's stream-stream interval join state layout).

    Column names must already be disjoint between the two sides (alias
    before calling).  A right row joins each overlapping left bucket
    exactly once, so no dedup is needed.
    """
    span = max(upper_s - lower_s, 1)
    lsec = F.col(left_ts).cast("long")  # truncated: bucketing only
    rsec = F.col(right_ts).cast("long")
    l2 = left.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor((lsec + lower_s) / span),
                F.floor((lsec + upper_s) / span),
            )
        ),
    )
    r2 = right.withColumn("_bucket", F.floor(rsec / span))
    # exact filter on the full-precision timestamps (the second-
    # truncated buckets above are a superset prefilter: truncation
    # can only widen the candidate window, never narrow it)
    lo = F.timestamp_add("SECOND", F.lit(lower_s), F.col(left_ts))
    hi = F.timestamp_add("SECOND", F.lit(upper_s), F.col(left_ts))
    return (
        l2.join(r2, "_bucket")
        .filter((F.col(right_ts) >= lo) & (F.col(right_ts) <= hi))
        .drop("_bucket")
    )
