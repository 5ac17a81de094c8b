"""The central gate: every oracled query hash-matches DuckDB (SURVEY §5.3.1).

Mirrors the driver's t2 check locally at sf0.001 (fast); set
SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 to run at driver scale.
Also runs the determinism gate (§5.3.6): each query twice, identical
canonical rows and no leaked session conf.

All three sweeps parametrize over the full registry, so 480/480 parity
is checked on every run rather than recorded once per change: a
renderer shared by many oracles (``text.tokens_sql``,
``dedup.md5_band_ctes``) re-checks every query that spells it.
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as contract
from insight_spark.engine import LOCAL_PERF_CONF, SEMANTIC_CONF
from insight_spark.queries.optimizer_rt import (
    BHJ_PROBE_CONF,
    BLOOM_PROBE_CONF,
    SKEW_PROBE_CONF,
)
from tests.conftest import conf_snapshot
from tests.oracle_harness import canonical_rows, compare_query

ALL = sorted(contract.queries().keys())
ORACLED = sorted(contract.oracle_sql().keys())

#: Planner-relevant session confs no query may leave modified — every
#: query shares ONE session, so a leaked threshold (a plan probe's
#: 256-byte advisory partition size, a streaming drain's partition
#: pin, a RocksDB provider switch) silently re-plans every query that
#: runs after it.  The engine's own contract confs, every knob the
#: optimizer_rt plan probes touch (imported, so the list cannot drift
#: from the probes), plus the streaming/scan knobs other queries pin
#: and restore inline.
_GUARDED_CONFS = sorted(
    set(SEMANTIC_CONF)
    | set(LOCAL_PERF_CONF)
    | set(SKEW_PROBE_CONF)
    | set(BHJ_PROBE_CONF)
    | set(BLOOM_PROBE_CONF)
    | {
        "spark.sql.streaming.stateStore.providerClass",
        "spark.sql.files.maxPartitionBytes",
    }
)


def _conf_snapshot(spark):
    return conf_snapshot(spark, _GUARDED_CONFS)


def test_every_oracle_has_query():
    assert set(ORACLED) <= set(ALL)


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_parity(spark, sf_dir, name):
    df = contract.queries()[name](spark, sf_dir)
    report = compare_query(df, contract.oracle_sql()[name], sf_dir)
    assert report["ok"], f"{name}: {report}"


@pytest.mark.parametrize("name", [n for n in ALL if n not in ORACLED])
def test_rows_only_queries_run(spark, sf_dir, name):
    df = contract.queries()[name](spark, sf_dir)
    assert df.count() >= 0


@pytest.mark.parametrize("name", ALL)
def test_determinism(spark, sf_dir, name):
    fn = contract.queries()[name]
    conf_before = _conf_snapshot(spark)
    a = fn(spark, sf_dir)
    rows_a = canonical_rows(a.columns, [tuple(r) for r in a.collect()])
    b = fn(spark, sf_dir)
    rows_b = canonical_rows(b.columns, [tuple(r) for r in b.collect()])
    assert rows_a == rows_b, f"{name} is nondeterministic across runs"
    conf_after = _conf_snapshot(spark)
    drift = {
        k: (conf_before[k], conf_after[k])
        for k in _GUARDED_CONFS
        if conf_before[k] != conf_after[k]
    }
    assert not drift, (
        f"{name} leaked session confs (every later query in the shared "
        f"session would re-plan under them): {drift}"
    )


def test_entry_smoke(spark):
    df = contract.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "revenue" in df.columns


def test_stress_cap_is_decided_per_call_from_the_input(spark):
    """The three O(n²)-by-design baselines take their md5-quarter
    subset from each call's own input size, so one process can move
    between tiers in any order: full form at sf0.01 before AND after
    an sf0.1 build, the quarter at sf0.1.  Plans only (nothing runs)
    except one sf0.1 oracle compare on the cheapest of the three."""
    from insight_spark.queries.corpus_extra import _JTJ_CAP
    from insight_spark.queries.pipeline_extra import _ENDUP_CAP
    from insight_spark.queries.text_extra import _BFM_CAP
    from tests.conftest import SF_DIR_T2

    sf_stress = os.path.join(os.path.dirname(SF_DIR_T2), "sf0.1")
    if not os.path.isdir(sf_stress):
        pytest.skip("no sf0.1 fixture")

    def has_quarter(df) -> bool:
        return "md5(" in df._jdf.queryExecution().optimizedPlan().toString()

    queries = contract.queries()
    for sf, quartered in ((SF_DIR_T2, False), (sf_stress, True),
                          (SF_DIR_T2, False)):
        # jaccard_threshold_join checkpoints its token table while it
        # builds, so its decision is read off the cap's own load
        for cap in (_JTJ_CAP, _ENDUP_CAP, _BFM_CAP):
            assert has_quarter(cap.load(spark, sf)) is quartered, (cap, sf)
        for name in ("embedding_near_dup", "blocked_fuzzy_match"):
            assert has_quarter(queries[name](spark, sf)) is quartered, (
                name, sf,
            )

    name = "blocked_fuzzy_match"
    report = compare_query(
        queries[name](spark, sf_stress), contract.oracle_sql()[name], sf_stress
    )
    assert report["ok"], report
