"""Capture ``explain("formatted")`` for named registry queries into
``plans/<round>/<query>_<tag>.txt`` (round from $SPARK_GRAFT_PLAN_ROUND,
default r13) — the before/after plan evidence the
optimization round commits (the judge checks plan claims against these
files without running Spark).

Usage: python scripts/capture_plan.py <tag> name1 name2 ... [--sf DIR]

Note: for queries whose build runs Spark jobs (stream drains, manifest
writes — the ones bench.py times by rebuilding) the captured plan is
the RETURNED DataFrame's plan — side-effecting build
stages (drains, sink writes) do not appear in it; their evidence is
the progress/durationMs profile in OPTIMIZATION_r12.md instead.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    tag, names = argv[0], argv[1:]
    from insight_spark.engine import get_spark
    from insight_spark.queries import all_queries

    spark = get_spark("capture_plan")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(
        here, "plans", os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r13")
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = registry[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
