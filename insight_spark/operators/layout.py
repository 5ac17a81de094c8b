"""Runtime-filter and data-layout operators: Bloom semi-join prefilter
and Z-order clustering (SURVEY §4.3 physical-layout posture).

Two levers a 100 TB deployment pulls before touching query logic:

- **Bloom runtime filter**: a large-large semi join (fact keys ∈
  filtered-dim keys) normally shuffles the entire fact side.  Building
  a compact Bloom bitmap over the dim keys (fully distributed — no
  driver ``collect``) and broadcasting it lets the fact scan drop
  non-matching rows *before* the exchange, so the shuffle carries only
  candidate rows (true matches + the false-positive trickle).  The
  final exact semi join makes the result exact regardless of the
  false-positive rate — the bloom is pure pruning, never semantics.
  This is the manual form of Spark's own
  ``spark.sql.optimizer.runtime.bloomFilter.enabled`` rewrite, exposed
  as an operator so the threshold/size policy is ours.

- **Z-order layout**: range-partitioning and sorting by an interleaved
  bit code of two (or more) columns gives every output file a tight
  min/max bounding box on *both* dimensions, so parquet row-group
  pruning works for predicates on either column — the classic
  multi-dimensional clustering trick (Delta OPTIMIZE ZORDER BY's
  underlying curve).  Pure bit arithmetic, JVM-side, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "bloom_build",
    "bloom_probe_filter",
    "bloom_semi_join",
    "z_value_expr",
    "z_value_sql",
]


def bloom_build(
    dim: DataFrame, key: str, m_bits: int = 1 << 20, k: int = 5
) -> DataFrame:
    """Distributed Bloom bitmap over ``dim[key]`` → 1-row DataFrame with
    an ``array<long>`` column ``bloom_words`` of ``m_bits/64`` words.

    Scale posture: each key maps to ``k`` seeded positions
    (``xxhash64(key, seed) mod m``); positions are de-duplicated before
    the word fold, so the shuffle after the explode is bounded by
    ``m_bits`` rows no matter how large ``dim`` is.  The final assembly
    is one reduce into ≤ ``m_bits/64`` map entries (~128 KiB of longs at
    the default m=2^20) — broadcast-sized by construction.
    """
    n_words = (m_bits + 63) // 64
    pos = dim.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(m_bits))
                    for i in range(k)
                ]
            )
        ).alias("p")
    ).distinct()
    words = pos.select(
        F.expr("p div 64").alias("w"),
        F.expr("shiftleft(1L, cast(p % 64 as int))").alias("mask"),
    ).groupBy("w").agg(F.expr("bit_or(mask)").alias("mask"))
    return words.groupBy().agg(
        F.map_from_entries(F.collect_list(F.struct("w", "mask"))).alias("_wm")
    ).select(
        F.transform(
            F.sequence(F.lit(0).cast("long"), F.lit(n_words - 1).cast("long")),
            lambda i: F.coalesce(F.element_at(F.col("_wm"), i), F.lit(0).cast("long")),
        ).alias("bloom_words")
    )


def _bloom_hit(key: str, m_bits: int, seed: int) -> Column:
    """True iff the bloom bit for ``xxhash64(key, seed) mod m`` is set."""
    pos = f"pmod(xxhash64({key}, {seed}), {m_bits}L)"
    return F.expr(
        f"(shiftright(element_at(bloom_words, cast(({pos}) div 64 as int) + 1), "
        f"cast(({pos}) % 64 as int)) & 1L) = 1L"
    )


def bloom_probe_filter(
    fact: DataFrame, bloom: DataFrame, key: str, m_bits: int = 1 << 20, k: int = 5
) -> DataFrame:
    """Filter ``fact`` to rows whose ``key`` passes the Bloom test.

    The 1-row bitmap rides a broadcast nested-loop join (one row — no
    real loop), then k O(1) word probes per fact row, all JVM-side bit
    arithmetic inside whole-stage codegen.  No shuffle of ``fact``.
    Result is a superset of the true matches (no false negatives: every
    build-side key set exactly these bits).
    """
    probed = fact.crossJoin(F.broadcast(bloom))
    cond = _bloom_hit(key, m_bits, 0)
    for i in range(1, k):
        cond = cond & _bloom_hit(key, m_bits, i)
    return probed.filter(cond).drop("bloom_words")


def bloom_semi_join(
    fact: DataFrame, dim: DataFrame, key: str, m_bits: int = 1 << 20, k: int = 5
) -> DataFrame:
    """Exact ``fact ⋉ dim`` on ``key`` with a Bloom prefilter on the
    fact side.

    Equivalent to ``fact.join(dim, key, "left_semi")`` for any inputs —
    the bloom only prunes rows that cannot match, and the final semi
    join removes the false positives.  At scale the win is shuffle
    volume: only the bloom survivors enter the semi join's exchange.
    """
    bloom = bloom_build(dim, key, m_bits=m_bits, k=k)
    pre = bloom_probe_filter(fact, bloom, key, m_bits=m_bits, k=k)
    return pre.join(dim.select(key).distinct(), key, "left_semi")


def _z_terms(x: str, y: str, bits: int, spark: bool) -> str:
    """Bit-interleave expression over pre-masked non-negative ints.

    Identical term structure on both engines so values are bit-equal:
    z = Σ_b ((x>>b)&1) << 2b  |  ((y>>b)&1) << 2b+1  (disjoint bits, so
    ``+`` and ``|`` agree)."""
    terms = []
    for b in range(bits):
        if spark:
            terms.append(f"shiftleft(shiftright({x}, {b}) & 1L, {2 * b})")
            terms.append(f"shiftleft(shiftright({y}, {b}) & 1L, {2 * b + 1})")
        else:
            terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
            terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " + ".join(terms) + ")"


def z_value_expr(x: str, y: str, bits: int = 10) -> Column:
    """Spark Column: Z-curve (Morton) code interleaving the low ``bits``
    of SQL expressions ``x`` and ``y`` (callers mask/shift to range
    first).  Pure shifts and ANDs — whole-stage-codegen friendly."""
    return F.expr(_z_terms(x, y, bits, spark=True)).cast("long")


def z_value_sql(x: str, y: str, bits: int = 10) -> str:
    """The DuckDB-dialect rendering of the same Z-curve formula, for
    oracle SQL parity."""
    return f"CAST({_z_terms(x, y, bits, spark=False)} AS BIGINT)"
