"""Bloom runtime filter + Z-order code: semantics and scale posture."""

from __future__ import annotations

from pyspark.sql import functions as F

from insight_spark.operators.layout import (
    bloom_build,
    bloom_probe_filter,
    bloom_semi_join,
    z_value_expr,
)
from insight_spark.sources import load_table
from tests.conftest import SF_DIR


def test_bloom_prefilter_is_superset_and_prunes(spark):
    """No false negatives (prefilter ⊇ true matches) and real pruning
    (prefilter ⊂ full fact) on the fixture."""
    li = load_table(spark, SF_DIR, "lineitem")
    urgent = (
        load_table(spark, SF_DIR, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    m, k = 1 << 14, 5
    bloom = bloom_build(urgent, "l_orderkey", m_bits=m, k=k)
    pre = bloom_probe_filter(li, bloom, "l_orderkey", m_bits=m, k=k)
    exact = li.join(urgent.distinct(), "l_orderkey", "left_semi")

    n_total, n_pre, n_exact = li.count(), pre.count(), exact.count()
    assert n_exact <= n_pre, "bloom dropped a true match (false negative)"
    assert n_pre < n_total, "bloom pruned nothing"
    # keys the prefilter dropped must all be true non-matches
    missed = exact.join(pre.select("l_orderkey").distinct(),
                        "l_orderkey", "left_anti")
    assert missed.count() == 0


def test_bloom_semi_join_equals_plain_semi_join(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    dim = (
        load_table(spark, SF_DIR, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    got = bloom_semi_join(li, dim, "l_orderkey", m_bits=1 << 14, k=3)
    want = li.join(dim.distinct(), "l_orderkey", "left_semi")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_bloom_probe_no_fact_shuffle(spark):
    """The probe side must not exchange: bitmap rides a 1-row broadcast,
    probes are codegen'd bit math on the scan output."""
    li = load_table(spark, SF_DIR, "lineitem")
    dim = (
        load_table(spark, SF_DIR, "orders")
        .limit(100)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    bloom = bloom_build(dim, "l_orderkey", m_bits=1 << 14, k=3)
    pre = bloom_probe_filter(li, bloom, "l_orderkey", m_bits=1 << 14, k=3)

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pre.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" in plan, "bitmap should broadcast"
    probe_side = plan.split("BroadcastNestedLoopJoin")[0]
    assert "Exchange hashpartitioning" not in probe_side, (
        f"fact side shuffled before the probe:\n{plan}"
    )


def _interleave(x: int, y: int, bits: int) -> int:
    z = 0
    for b in range(bits):
        z |= ((x >> b) & 1) << (2 * b)
        z |= ((y >> b) & 1) << (2 * b + 1)
    return z


def test_z_value_matches_reference_interleave(spark):
    grid = [(x, y) for x in (0, 1, 5, 255, 1023) for y in (0, 2, 7, 512, 1023)]
    df = spark.createDataFrame(grid, "x long, y long").select(
        "x", "y", z_value_expr("x", "y", 10).alias("z")
    )
    for r in df.collect():
        assert r.z == _interleave(r.x, r.y, 10), (r.x, r.y, r.z)
