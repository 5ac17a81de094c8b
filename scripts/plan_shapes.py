"""Plan-shape inventory — the committed, diffable record of every
declared query's physical-plan structure (PLAN_SHAPES.json).

Timings are noisy; plan SHAPE is not.  A lost broadcast, an extra
shuffle, or a Python eval sneaking into a hot path changes these
counts deterministically long before it shows up through sandbox
noise in BENCH.  Regenerate each round and diff:

    python scripts/plan_shapes.py            # writes PLAN_SHAPES.json
    git diff PLAN_SHAPES.json                # the round's plan drift
    python scripts/plan_shapes.py topk knn_cosine_topk   # check just these

Every built query also goes through ``plans/audit.lint_query_plan``
(fatal: cartesian product, rowwise Python, unpartitioned window off
the proven-bounded allowlist), so this is the check to run on a new
query before registering it.  A lint failure counts as a build error.
A full run rewrites PLAN_SHAPES.json only when every query built and
linted clean; otherwise it exits 1 and leaves the committed inventory
as it was.  A run over named queries never writes it.

Per query (built at sf0.001, pre-execution initial plan —
deterministic for a fixed Spark version + fixture):

- exchanges:   shuffle Exchange nodes (the unit of cluster cost)
- broadcasts:  BroadcastExchange nodes (small-side joins we rely on)
- reused:      ReusedExchange nodes (plan-level work sharing)
- arrow_python: Arrow-batched Python nodes (ArrowEvalPython /
               MapInPandas / FlatMapGroupsInPandas / MapInArrow — the
               sanctioned Python surface)
- bnlj:        BroadcastNestedLoopJoin (warn-tier: must be bounded by
               construction; enumerated so a NEW one stands out)
- global_sorts: global Sort nodes that are not TakeOrderedAndProject
- file_scans:  FileScan source nodes (a source re-scanned B times for
               one result shows up here — the r10 zorder loop shape)
- cartesian / batch_eval_python: CartesianProduct / BatchEvalPython
               nodes — zero in any written inventory, since the lint
               rejects both

Build-side-effect queries (stream drains, manifest writes) execute
during the build; the recorded shape is the RETURNED DataFrame's plan.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: The committed inventory that a clean full run rewrites.
OUT_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "PLAN_SHAPES.json",
)

#: Queries whose RETURNED DataFrame is deliberately a driver-local
#: result (collected inside the build for resource-lifetime reasons),
#: so the recorded shape is a trivial LocalTableScan and says nothing
#: about the query's real read path (ADVICE r11).  The shape
#: regression gate does not see these queries' plans; their read-path
#: coverage lives in their oracle + docstring.
SHAPE_OPAQUE = {
    "csv_corrupt_records_audit": (
        "collects eagerly at build time (cached corrupt-record CSV "
        "must be unpersisted in a finally) and returns a local 1-row "
        "frame — the real CSV-read plan never reaches this inventory"
    ),
}

_ARROW_NODES = (
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "MapInArrow",
    "TransformWithStateInPandas",
)


def shape(plan: str) -> dict:
    from insight_spark.plans.audit import _global_sort_lines

    return {
        "exchanges": len(
            re.findall(r"(?<!Reused)Exchange (?!SinglePartition)", plan)
        )
        + len(re.findall(r"(?<!Reused)Exchange SinglePartition", plan)),
        "broadcasts": plan.count("BroadcastExchange"),
        "reused": plan.count("ReusedExchange"),
        "arrow_python": sum(plan.count(n) for n in _ARROW_NODES),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "global_sorts": len(_global_sort_lines(plan)),
        "file_scans": plan.count("FileScan "),
        "cartesian": plan.count("CartesianProduct"),
        "batch_eval_python": plan.count("BatchEvalPython"),
    }


def main() -> int:
    from insight_spark.engine import get_spark
    from insight_spark.plans.audit import lint_query_plan, physical_plan
    from insight_spark.queries import all_queries

    spark = get_spark("plan_shapes")
    spark.sparkContext.setLogLevel("ERROR")
    names = sys.argv[1:] or list(all_queries())
    reg = all_queries()
    out: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in names:
        try:
            df = reg[name](spark, SF_DIR)
            lint_query_plan(name, df)
            out[name] = shape(physical_plan(df))
        except Exception as exc:  # noqa: BLE001 — inventory must complete
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
        print(f"{name}: {out.get(name, 'ERR')}", file=sys.stderr)
    if not sys.argv[1:] and not errors:
        # only a clean full run owns the committed artifact
        doc = {"sf_dir": SF_DIR, "shapes": out, "shape_opaque": SHAPE_OPAQUE}
        with open(OUT_PATH, "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
    totals = {k: sum(s[k] for s in out.values()) for k in shape("")}
    print(json.dumps({"n": len(out), "totals": totals, "n_errors": len(errors)}))
    if errors:
        print(f"build/lint errors: {errors}", file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
