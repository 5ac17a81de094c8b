"""Bucketed co-located join + skew salting (SURVEY §4.3 scale patterns)."""

from __future__ import annotations

import io
import contextlib

import pytest

from pyspark.sql import functions as F

from insight_spark.operators.partitioning import salted_join
from insight_spark.sources import load_table
from insight_spark.sources.sinks import write_bucketed

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("bucketed"))
    li = load_table(spark, SF, "lineitem")
    orders = load_table(spark, SF, "orders")
    write_bucketed(li, "li_b", out_dir, ["l_orderkey"], 4)
    write_bucketed(orders, "ord_b", out_dir, ["o_orderkey"], 4)
    yield
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    li_b = spark.table("li_b")
    ord_b = spark.table("ord_b")
    # force the join strategy bucketing is designed for (large-large SMJ)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li_b.join(
            ord_b, li_b.l_orderkey == ord_b.o_orderkey
        ).select("l_orderkey", "o_orderpriority")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, (
            "bucketed join must not shuffle:\n" + plan
        )
        # result still correct
        plain = load_table(spark, SF, "lineitem").join(
            load_table(spark, SF, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert joined.count() == plain.count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024)
        )


def test_salted_join_matches_plain_join(spark):
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_orderpriority"
    ).withColumnRenamed("o_orderkey", "l_orderkey")

    salted = salted_join(
        li, orders, on="l_orderkey", skewed_unique_col="l_linenumber", n_salts=4
    )
    plain = li.join(orders, "l_orderkey")
    assert salted.count() == plain.count()
    a = {tuple(r) for r in salted.select("l_orderkey", "l_linenumber", "o_orderpriority").collect()}
    b = {tuple(r) for r in plain.select("l_orderkey", "l_linenumber", "o_orderpriority").collect()}
    assert a == b


def test_hot_key_salted_join_matches_plain_and_routes(spark):
    from insight_spark.operators.partitioning import hot_key_salted_join

    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    orders = load_table(spark, SF, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    # threshold 4: both routes carry real rows (lineitem has 1-7 lines
    # per order), so the union is exercised, not a degenerate branch
    hot_n = (
        li.groupBy("l_orderkey").count().filter(F.col("count") >= 4).count()
    )
    cold_n = (
        li.groupBy("l_orderkey").count().filter(F.col("count") < 4).count()
    )
    assert hot_n > 0 and cold_n > 0
    joined = hot_key_salted_join(
        li, orders, on="l_orderkey", skewed_unique_col="l_linenumber",
        n_salts=4, hot_threshold=4,
    )
    plain = li.join(orders, "l_orderkey")
    a = {tuple(r) for r in joined.collect()}
    b = {tuple(r) for r in plain.select(joined.columns).collect()}
    assert a == b
    # left-preserving outer form: unmatched hot AND cold rows survive once
    half = orders.filter(F.col("l_orderkey") % 2 == 0)
    left = hot_key_salted_join(
        li, half, on="l_orderkey", skewed_unique_col="l_linenumber",
        n_salts=4, hot_threshold=4, how="left",
    )
    assert left.count() == li.join(half, "l_orderkey", "left").count()


def test_salted_join_outer(spark):
    """Left join: unmatched skewed-side rows survive exactly once."""
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_linenumber")
    # restrict the right side so some lineitems have no match
    orders = (
        load_table(spark, SF, "orders")
        .filter(F.col("o_orderkey") % 2 == 0)
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    )
    salted = salted_join(
        li, orders, on="l_orderkey", skewed_unique_col="l_linenumber",
        n_salts=4, how="left",
    )
    plain = li.join(orders, "l_orderkey", "left")
    assert salted.count() == plain.count()


def test_bucketed_range_join_matches_theta_and_avoids_bnlj(spark):
    """The bucketed interval rewrite must (a) return exactly the naive
    theta join's pairs, (b) plan as a shuffle join on the bucket key —
    no BroadcastNestedLoop/cartesian."""
    from insight_spark.operators.partitioning import bucketed_range_join
    from insight_spark.sources import load_table

    ev = load_table(spark, SF, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    fast = bucketed_range_join(p, c, "p_ts", "c_ts", -60, 60).select(
        "purchase_id", "click_id"
    )
    lo = F.timestamp_add("SECOND", F.lit(-60), F.col("p_ts"))
    hi = F.timestamp_add("SECOND", F.lit(60), F.col("p_ts"))
    naive = p.join(
        c, (F.col("c_ts") >= lo) & (F.col("c_ts") <= hi)
    ).select("purchase_id", "click_id")
    assert fast.exceptAll(naive).count() == 0
    assert naive.exceptAll(fast).count() == 0

    plan = _plan(fast)
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


def test_salted_join_rejects_outer_forms(spark):
    """right/full outer would duplicate unmatched right rows n_salts
    times (each replica survives the join unmatched) — must raise."""
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_linenumber")
    orders = (
        load_table(spark, SF, "orders")
        .select("o_orderkey")
        .withColumnRenamed("o_orderkey", "l_orderkey")
    )
    for how in ("right", "full", "outer", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(
                li, orders, on="l_orderkey",
                skewed_unique_col="l_linenumber", how=how,
            )
