"""The fatal plan rules of plans/audit.lint_query_plan, one rule a test.

The round-5 (rowwise UDTF plan) and round-6 (constant-folded window
partition key) regressions both shipped guard-breaking queries.  These
tests pin each rule on a hand-built plan: a fatal scale-killer raises
PlanScaleError, and documented bounded-window exemptions still pass.
The same function gates every registered query, in
tests/test_plans.py::test_no_fatal_plan_anywhere_in_declared_surface
and in scripts/plan_shapes.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from insight_spark.plans.audit import (
    BOUNDED_GLOBAL_WINDOW_OK,
    PlanScaleError,
    lint_query_plan,
)


def _docs(spark):
    return spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("k")
    )


def test_unpartitioned_window_is_fatal(spark):
    df = _docs(spark).withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id"))
    )
    with pytest.raises(PlanScaleError, match="unpartitioned-window") as exc:
        lint_query_plan("bad_window_query", df)
    assert exc.value.rules == {"unpartitioned-window"}


def test_constant_folded_partition_key_is_fatal(spark):
    # The exact round-6 regression shape: partitionBy on a literal is
    # constant-folded away and the window goes global.
    df = _docs(spark).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy(F.lit(0)).orderBy("doc_id")
        ),
    )
    with pytest.raises(PlanScaleError, match="unpartitioned-window"):
        lint_query_plan("bad_const_key_query", df)


def test_cartesian_product_is_fatal(spark):
    a, b = _docs(spark), _docs(spark).select(F.col("doc_id").alias("b_id"))
    # hint forces CartesianProductExec (tiny sides otherwise broadcast)
    df = a.hint("shuffle_replicate_nl").crossJoin(b)
    with pytest.raises(PlanScaleError, match="cartesian-product") as exc:
        lint_query_plan("bad_cross_query", df)
    assert exc.value.rules == {"cartesian-product"}


def test_rowwise_python_is_fatal(spark):
    from pyspark.sql.types import LongType

    plain_udf = F.udf(lambda x: x + 1, LongType(), useArrow=False)
    df = _docs(spark).select(plain_udf("doc_id").alias("y"))
    with pytest.raises(PlanScaleError, match="rowwise-python") as exc:
        lint_query_plan("bad_udf_query", df)
    assert exc.value.rules == {"rowwise-python"}


def test_bounded_window_exemption_passes(spark):
    # An allowlisted name may plan a global window (bounded input by
    # construction); the same plan under any other name must fail.
    assert "hybrid_search_rrf" in BOUNDED_GLOBAL_WINDOW_OK
    df = (
        _docs(spark)
        .orderBy("doc_id")
        .limit(5)
        .withColumn("rn", F.row_number().over(Window.orderBy("doc_id")))
    )
    lint_query_plan("hybrid_search_rrf", df)  # no raise
    with pytest.raises(PlanScaleError):
        lint_query_plan("not_exempt", df)


def test_unproven_allowlisted_window_is_fatal(spark):
    # An allowlist entry is a claim the plan must prove: the same global
    # window straight over the data leaf fails under the exempt name.
    df = _docs(spark).withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id"))
    )
    with pytest.raises(PlanScaleError, match="does not PROVE") as exc:
        lint_query_plan("hybrid_search_rrf", df)
    assert exc.value.rules == {"unpartitioned-window"}


def test_clean_plan_passes(spark):
    df = _docs(spark).groupBy("k").agg(F.count("*").alias("n"))
    lint_query_plan("good_query", df)  # no raise
