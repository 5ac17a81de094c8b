"""Registration-time plan lint over the whole declared surface.

Builds every registered query's DataFrame at sf0.001 with
``SPARK_GRAFT_LINT_PLANS=1`` (set here), so each plan is linted by
``plans/audit.lint_query_plan`` the moment it is built — the gate that
catches a rowwise-Python / unpartitioned-window / cartesian plan the
day the query is written (the round-5 UDTF and round-6 vector-probe
regressions both shipped because nothing ran the engine-wide guard at
build time).

Run before committing a new query::

    python scripts/lint_plans.py              # whole registry
    python scripts/lint_plans.py topk knn_cosine_topk   # just these

Side-effecting queries (stream drains, sink writes, iterative rounds)
execute their operation while being built, so a whole-registry lint
runs them too — the same builds the test suite's ``registry_builds``
fixture makes with the lint on.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ["SPARK_GRAFT_LINT_PLANS"] = "1"

SF = os.environ.get("SPARK_GRAFT_LINT_SF_DIR", "/root/testdata/sf0.001")


def main() -> int:
    from insight_spark.engine import get_spark
    from insight_spark.plans.audit import PlanScaleError
    from insight_spark.queries import all_queries

    spark = get_spark("lint_plans")
    only = set(sys.argv[1:])
    failures: list[str] = []
    for name, fn in all_queries().items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            fn(spark, SF)  # lint runs inside the decorator
            verdict = "OK"
        except PlanScaleError as exc:
            verdict = f"FATAL {exc}"
            failures.append(name)
        except Exception as exc:  # noqa: BLE001 — per-query isolation:
            # an environment error (e.g. the embedded Derby lock held
            # by a concurrent test run) must not kill the sweep
            verdict = f"ERROR {type(exc).__name__}"
            failures.append(name)
        print(f"{verdict:>5s} {name} {time.perf_counter() - t0:.1f}s"[:200])
        sys.stdout.flush()
    print(f"SUMMARY: {len(failures)} fatal; failures={failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
