"""Runtime-reoptimization audit pins (M356-M358): the in-build plan
assertions must be NON-VACUOUS (the mechanism must be absent on the
same SHUFFLE join without the probe posture — not merely absent
because a broadcast join left nothing to optimize), and the probes
must not leak confs into the shared session."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from insight_spark.engine import LOCAL_PERF_CONF, conf_override
from insight_spark.queries import all_queries
from insight_spark.queries.optimizer_rt import (
    BHJ_PROBE_CONF,
    BLOOM_PROBE_CONF,
    SKEW_PROBE_CONF,
)
from insight_spark.sources import load_table
from tests.conftest import conf_snapshot

SF_DIR = "/root/testdata/sf0.001"

#: Exactly the keys the in-query probes touch — imported from the
#: query module so this list cannot drift from the probes (review
#: finding: a hand-copied list omitted skewJoin.enabled).
_PROBE_CONFS = tuple(
    sorted({*SKEW_PROBE_CONF, *BHJ_PROBE_CONF, *BLOOM_PROBE_CONF})
)

#: Shuffle-join posture for the non-vacuity controls: broadcast off,
#: every skew/bloom threshold left at its DEFAULT — so the mechanism
#: has a real sort-merge join to act on and its absence is due to the
#: thresholds, which is the thing the controls must prove.
_SHUFFLE_ONLY = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


#: Probe keys the engine session leaves unset (registered keys with a
#: default, e.g. skewJoin.skewedPartitionFactor): restoring them must
#: unset them again, not pin their defaults.
_UNSET_PROBE_KEYS = tuple(k for k in _PROBE_CONFS if k not in LOCAL_PERF_CONF)


def _q(name):
    return all_queries()[name]


@pytest.mark.parametrize(
    "name",
    ["aqe_skew_join_audit", "aqe_bhj_switch_audit",
     "runtime_bloom_join_audit"],
)
def test_probe_confs_restored(spark, name):
    """Queries share one session with the whole registry — a leaked
    256-byte advisory partition size or a disabled broadcast threshold
    would silently re-plan every later query."""
    for k in _UNSET_PROBE_KEYS:
        spark.conf.unset(k)
    before = conf_snapshot(spark, _PROBE_CONFS)
    _q(name)(spark, SF_DIR).collect()
    assert conf_snapshot(spark, _PROBE_CONFS) == before, (
        f"{name} leaked session confs"
    )
    left_set = [k for k in _UNSET_PROBE_KEYS if spark.conf.get(k, None) is not None]
    assert not left_set, f"{name} left unset confs set: {left_set}"


def test_skew_audit_values_and_whale_mass(spark):
    """The value leg, independent of the plan leg: every event lands in
    exactly one segment (the dim is keyed by every possible acct), and
    the whale's segment carries >= half of all events by fixture
    construction."""
    rows = _q("aqe_skew_join_audit")(spark, SF_DIR).collect()
    ev = load_table(spark, SF_DIR, "events")
    n = ev.count()
    assert sum(r["n_events"] for r in rows) == n
    whale_seg = (
        load_table(spark, SF_DIR, "customer")
        .filter(F.col("c_custkey") == 0)
        .collect()[0]["c_mktsegment"]
    )
    by_seg = {r["c_mktsegment"]: r["n_events"] for r in rows}
    assert by_seg[whale_seg] >= n // 2, "fixture lost its hot key"


def test_skew_split_absent_on_same_shuffle_join_at_default_thresholds(
    spark,
):
    """Non-vacuity control for M356: the SAME join forced onto the
    shuffle path (broadcast disabled) but with DEFAULT skew thresholds
    (256 MiB partition threshold, factor 5) must plan a plain
    SortMergeJoin with no skew=true — so the in-query assertion can
    only be satisfied by the probe thresholds actually engaging AQE's
    splitter on a sort-merge join, not by plan text that is always
    there."""
    with conf_override(spark, _SHUFFLE_ONLY):
        ev = load_table(spark, SF_DIR, "events").select(
            F.when(F.col("event_id") % 2 == 0, F.lit(0))
            .otherwise(F.col("user_id"))
            .cast("long")
            .alias("acct"),
        ).repartition(8)
        dim = load_table(spark, SF_DIR, "customer").select(
            F.col("c_custkey").alias("acct"), "c_mktsegment"
        )
        out = ev.join(dim, "acct").groupBy("c_mktsegment").count()
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, (
        "control invalid: the join did not take the shuffle path"
    )
    assert "skew=true" not in plan


def test_bloom_injection_absent_on_same_shuffle_join_at_default_thresholds(
    spark,
):
    """Non-vacuity control for M358: the SAME join forced onto the
    shuffle path but with the DEFAULT 10 GiB application-side scan
    threshold (far above any test-tier scan) must optimize WITHOUT a
    might_contain — proving the in-query assertion detects the
    injection, not some always-present plan text."""
    with conf_override(spark, _SHUFFLE_ONLY):
        li = load_table(spark, SF_DIR, "lineitem").select(
            "l_partkey", "l_quantity"
        )
        brand = (
            load_table(spark, SF_DIR, "part")
            .filter(F.col("p_brand") == "Brand#11")
            .select("p_partkey", "p_brand")
        )
        out = li.join(brand, li.l_partkey == brand.p_partkey).groupBy(
            "p_brand"
        ).count()
        oplan = out._jdf.queryExecution().optimizedPlan().toString()
        pplan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in pplan or "ShuffledHashJoin" in pplan, (
        "control invalid: the join did not take the shuffle path"
    )
    assert "might_contain" not in oplan


def test_bloom_audit_physical_plan_keeps_shuffle_join_and_filter(spark):
    """M358 pins the plan-freezing contract: the dataframe the audit
    returns must carry the injected filter in its PHYSICAL plan and
    must not have silently re-planned to a broadcast join after conf
    restore (physical planning is memoized inside the probe posture)."""
    df = _q("runtime_bloom_join_audit")(spark, SF_DIR)
    pplan = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in pplan
    assert "SortMergeJoin" in pplan or "ShuffledHashJoin" in pplan


def test_bhj_switch_rowcount_matches_plain_join(spark):
    """The strategy switch must be value-free: per-flag counts equal
    the same join computed without any probe posture."""
    audited = {
        r["l_returnflag"]: r["n_rows"]
        for r in _q("aqe_bhj_switch_audit")(spark, SF_DIR).collect()
    }
    li = load_table(spark, SF_DIR, "lineitem")
    urgent = (
        load_table(spark, SF_DIR, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    plain = {
        r["l_returnflag"]: r["count"]
        for r in li.join(urgent, "l_orderkey")
        .groupBy("l_returnflag")
        .count()
        .collect()
    }
    assert audited == plain
