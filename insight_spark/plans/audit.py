"""Plan-shape scale audit — the engine's 100 TB lint, as a library.

The plan guards that protect the declared surface
(``tests/test_plans.py``) exist because correctness tests cannot see a
lost broadcast, an unpartitioned window, or a row-at-a-time Python
eval: those run *fine* on 60k rows and melt on a 1000-executor
cluster.  ``scale_audit(df)`` makes that protection a user-facing
feature — point it at any DataFrame you are about to ship and it
returns the scale-killers its physical plan contains, before the
cluster finds them for you.

Rules (severity in parentheses):

- ``cartesian-product`` (fatal): an all-pairs ``CartesianProduct``
  node.  O(N·M) rows at scale; rewrite with an equi-key, a bucketed
  prefilter (LSH / PPJoin / cell blocking), or a bounded broadcast.
- ``unpartitioned-window`` (fatal): a window function whose partition
  spec is empty — Spark moves the ENTIRE input to one task (the
  ``WARN WindowExec: No Partition Defined`` shape).  Partition the
  window, or bound its input first (aggregate to a grid / TakeOrdered).
- ``rowwise-python`` (fatal): a ``BatchEvalPython`` node — a
  row-at-a-time Python UDF in the hot path, ~10-100x slower than the
  Arrow-batched forms (``pandas_udf`` / ``mapInPandas``) and the
  vectorized built-ins.
- ``nested-loop-join`` (warn): ``BroadcastNestedLoopJoin`` — sound
  when the broadcast side is bounded by construction (a 1-row
  aggregate, a k-row head), quadratic otherwise.  The audit cannot see
  row counts, so this is a warning to check the broadcast side.
- ``global-sort`` (warn): a global ``Sort`` that is not the
  ``TakeOrderedAndProject`` fusion.  Legitimate as a final
  presentation order (range-partitioned, parallel), wasteful as an
  intermediate step; top-k intents should reach TakeOrdered.
- ``shuffle-count`` (info): number of shuffle exchanges in the plan —
  the unit of cluster cost to minimize, reported for trend-watching.

The engine-wide test guard calls ``lint_query_plan`` from here on
every registered query, so the lint the tests enforce and the lint
users run are the same code.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

__all__ = [
    "BOUNDED_GLOBAL_WINDOW_OK",
    "BOUNDED_GLOBAL_WINDOW_OPAQUE",
    "Finding",
    "PlanScaleError",
    "is_unpartitioned",
    "lint_query_plan",
    "physical_plan",
    "scale_audit",
    "unproven_window_paths",
    "window_specs",
]

#: Declared queries allowed to plan an unpartitioned Window — each
#: input is bounded BY CONSTRUCTION before the window, so the single
#: task holds metadata-scale rows, not data.  ONE list, read only by
#: ``lint_query_plan`` below — which the engine-wide test guard
#: (tests/test_plans.py) and scripts/plan_shapes.py run over every
#: registered query; a new query earns an entry only with a documented
#: bound.  Since r12 an entry here is a CLAIM, not a
#: pass: ``unproven_window_paths`` machine-verifies from the physical
#: plan that every root-to-leaf path under the global window crosses a
#: bounding node (TakeOrdered / Limit / Aggregate); all 24 current
#: entries PROVE their bound, and a claim the plan cannot prove fails
#: the lint unless the query carries the separate documented
#: ``BOUNDED_GLOBAL_WINDOW_OPAQUE`` waiver (empty today):
#: - ks_distribution_shift: prefix-offset rollup over the 32 explicit
#:   range partitions (<= 32 rows; data-scale CDF windows are
#:   partitioned by pid).
#: - hybrid_search_rrf: rank windows run on the two TakeOrdered(k)
#:   legs (<= k rows each) before the k x k RRF fusion.
#: - histogram_quantile: cumulative counts over the fixed bucket grid
#:   (|buckets| rows post-aggregate).
#: - wow_revenue_delta: lag over week_start after a per-week aggregate
#:   (|weeks| rows).
#: - vector_index_probe: rank window runs on the TakeOrdered(5) head
#:   (<= 5 rows) — the corpus-scale candidate set is reduced by
#:   orderBy+limit BEFORE any window.
#: - acf_hourly_lags / cusum_changepoint: row_number / running-sum /
#:   running-min over the HOURLY series — windows run post-aggregate on
#:   |hours| rows (the wow_revenue_delta pattern).
#: - rank_biased_overlap: rank windows run on the two TakeOrdered(10)
#:   heads (≤10 rows each — the vector_index_probe pattern).
#: - roc_auc_binned: running negative-count over score-histogram
#:   buckets — bounded by the score range (~4 900), not data size.
#: - revenue_lorenz_curve: running sums over spend buckets — bounded
#:   by the spend range.
#: - trending_terms_rank_shift: rank windows on the two
#:   TakeOrdered(20) heads (the vector_index_probe pattern).
#: - zipf_coverage_curve: rank window on the TakeOrdered(1000) head.
#: - decision_stump_split: running counts over score-histogram
#:   buckets (the roc_auc_binned shape, bounded by the score range).
#: - theil_sen_trend: row_number/count windows over the hourly series
#:   and its |hours|² pair set — bounded by the time range.
#: - xcorr_hourly_lags: row_number index over the HOURLY two-signal
#:   series (the acf_hourly_lags pattern — |hours| rows post-aggregate).
#: - term_proximity_rank: rank window on the TakeOrdered(2) term head
#:   (the vector_index_probe pattern).
#: - mann_whitney_u: cumulative rank window over the DISTINCT-value
#:   histogram — bounded by the value domain (2-dp money → ≤5·10⁴
#:   keys), the roc_auc_binned shape, never over rows.
#: - spearman_nation_segment: rank windows on the (nation, segment)
#:   group table — ≤125 rows post-aggregate at any data size.
#: - largest_remainder_allocation: remainder ranking over the
#:   |sources|-row quota table — post-aggregate metadata scale.
#: - concurrency_curve: sweep-line running sum over the HOURLY grid
#:   (the acf_hourly_lags pattern — |hours| rows post-aggregate).
#: - bottomk_mergeable_sample: rank window on the TakeOrdered(32)
#:   head (the vector_index_probe pattern).
#: - max_drawdown_daily: running sum + running max over the DAILY
#:   series (the acf_hourly_lags pattern — |days| rows post-agg).
#: - hourly_peak_detection: lag/lead over the HOURLY series (the
#:   acf_hourly_lags pattern — |hours| rows post-aggregate).
#: - trailing_zscore_anomalies: 24-row trailing frame over the
#:   HOURLY series (the acf_hourly_lags pattern).
BOUNDED_GLOBAL_WINDOW_OK = frozenset(
    {
        "bottomk_mergeable_sample",
        "hourly_peak_detection",
        "trailing_zscore_anomalies",
        "max_drawdown_daily",
        "concurrency_curve",
        "largest_remainder_allocation",
        "mann_whitney_u",
        "spearman_nation_segment",
        "xcorr_hourly_lags",
        "term_proximity_rank",
        "ks_distribution_shift",
        "hybrid_search_rrf",
        "histogram_quantile",
        "wow_revenue_delta",
        "vector_index_probe",
        "acf_hourly_lags",
        "cusum_changepoint",
        "rank_biased_overlap",
        "roc_auc_binned",
        "theil_sen_trend",
        "revenue_lorenz_curve",
        "trending_terms_rank_shift",
        "zipf_coverage_curve",
        "decision_stump_split",
    }
)


#: Queries whose unpartitioned window reads a SHAPE-OPAQUE input — a
#: ``Scan ExistingRDD`` (localCheckpoint) whose row bound the plan
#: string cannot show.  The machine check below proves boundedness
#: from the plan for every BOUNDED_GLOBAL_WINDOW_OK entry; an entry
#: lands HERE only when the bound is real but materialized behind a
#: checkpoint, with the bound documented per name.  Kept separate so
#: "provable" never silently degrades to "waived".
BOUNDED_GLOBAL_WINDOW_OPAQUE: frozenset[str] = frozenset()

#: Plan nodes that BOUND the rows flowing up through them: anything
#: above one of these sees at most k / |group-domain| rows, not data.
_BOUNDING_NODES = (
    "TakeOrderedAndProject",
    "CollectLimit",
    "GlobalLimit",
    "LocalLimit",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
)

#: Leaf scans that are data-scale (unbounded unless a bounder sits
#: between them and the window).
_DATA_LEAVES = (
    "FileScan",
    "BatchScan",
    "Scan parquet",
    "Scan csv",
    "Scan json",
    "Scan orc",
    "Scan text",
    "Scan JDBCRelation",
    "Range (",
)

#: Leaf scans whose row count the plan cannot show (localCheckpoint /
#: cached RDD) — bounded only by out-of-band knowledge, so they need a
#: BOUNDED_GLOBAL_WINDOW_OPAQUE waiver.
_OPAQUE_LEAVES = ("Scan ExistingRDD",)


def _node_column(line: str) -> int:
    """Tree depth of a physical-plan line = the column where its node
    text starts (children print 3 columns deeper than their parent;
    the leading markers are drawn from ``' '``, ``':'``, ``'+'``,
    ``'-'``)."""
    return len(line) - len(line.lstrip(" :+-"))


def _node_text(line: str) -> str:
    """Node text with tree markers and the WholeStageCodegen ``*(n)``
    tag stripped."""
    s = line.lstrip(" :+-")
    if s.startswith("*("):
        s = s.split(") ", 1)[-1]
    return s


def unproven_window_paths(plan: str) -> list[str]:
    """Machine check for the bounded-window exemptions (VERDICT r11
    task 8): for every UNPARTITIONED Window node, walk its subtree and
    require that each root-to-leaf path passes a bounding node
    (TakeOrdered / Limit / Aggregate) before reaching a data-scale
    leaf scan.  Returns one detail string per window that fails the
    proof — empty means every global window in this plan is provably
    bounded from the plan alone.

    Pass-through nodes (Sort, Project, Filter, Exchange, joins,
    Generate) neither bound nor fail: a join/explode under an
    already-bounded leg stays bounded by the waiver's documented
    argument (calendar grids, k×k fusions), while an UNBOUNDED leg
    below them is still caught at its own leaf.  Opaque leaves
    (``Scan ExistingRDD`` — localCheckpoint) fail the proof; a query
    whose bound is real but checkpoint-hidden belongs in
    ``BOUNDED_GLOBAL_WINDOW_OPAQUE``."""
    lines = [ln for ln in plan.splitlines() if ln.strip()]
    failures: list[str] = []
    for i, ln in enumerate(lines):
        text = _node_text(ln)
        if not text.startswith("Window "):
            continue
        specs = window_specs(ln)
        if not specs or not any(is_unpartitioned(s) for s in specs):
            continue
        base = _node_column(ln)
        bounder_cols: list[int] = []
        verdict: str | None = None
        for sub in lines[i + 1 :]:
            col = _node_column(sub)
            if col <= base:
                break
            # a bounder covers exactly its own subtree (columns deeper
            # than its own); leaving that subtree pops it
            bounder_cols = [c for c in bounder_cols if col > c]
            name = _node_text(sub)
            if name.startswith(_BOUNDING_NODES):
                bounder_cols.append(col)
                continue
            if name.startswith(_OPAQUE_LEAVES) and not bounder_cols:
                verdict = f"opaque leaf under global window: {name[:80]}"
                break
            if name.startswith(_DATA_LEAVES) and not bounder_cols:
                verdict = (
                    f"data-scale leaf under global window with no "
                    f"bounding node on the path: {name[:80]}"
                )
                break
        if verdict:
            failures.append(verdict)
    return failures


class PlanScaleError(AssertionError):
    """A declared query planned a fatal scale-killer shape.

    Raised by ``lint_query_plan`` (the round-5/round-6 regressions both
    shipped a query whose plan broke the engine-wide guard).  ``rules``
    holds the ids of the broken rules; an allowlisted window whose bound
    the plan does not prove counts as ``unpartitioned-window``."""

    def __init__(self, message: str, rules) -> None:
        super().__init__(message)
        self.rules = frozenset(rules)


def lint_query_plan(name: str, df: DataFrame) -> None:
    """Raise ``PlanScaleError`` if ``df``'s physical plan contains a
    fatal finding not covered by the query's documented exemption.

    The one place the fatal rules are decided: the tier-1 registry
    guard (tests/test_plans.py) and ``scripts/plan_shapes.py`` both
    call it on every registered query, and the PLAN_SHAPES.json
    freshness test makes a new query go through plan_shapes.py the day
    it is written."""
    allow = (
        {"unpartitioned-window"} if name in BOUNDED_GLOBAL_WINDOW_OK else set()
    )
    fatal = [
        f
        for f in scale_audit(df)
        if f.severity == "fatal" and f.rule not in allow
    ]
    if fatal:
        detail = "; ".join(f"{f.rule}: {f.detail}" for f in fatal)
        raise PlanScaleError(
            f"query '{name}' plans a scale-killer — {detail}",
            {f.rule for f in fatal},
        )
    # An allowlist entry is a CLAIM of boundedness, not a blanket pass
    # (VERDICT r11 task 8): machine-verify the claim from the plan —
    # every root-to-leaf path under each global window must cross a
    # bounding node.  Shape-opaque inputs need the separate documented
    # waiver; nothing else gets through unproven.
    if name in BOUNDED_GLOBAL_WINDOW_OK and (
        name not in BOUNDED_GLOBAL_WINDOW_OPAQUE
    ):
        unproven = unproven_window_paths(physical_plan(df))
        if unproven:
            raise PlanScaleError(
                f"query '{name}' is on the bounded-window allowlist but "
                f"its plan does not PROVE the bound — {unproven[0]}",
                {"unpartitioned-window"},
            )


@dataclass(frozen=True)
class Finding:
    """One audit hit: a kebab-case rule id, a severity
    (``fatal`` / ``warn`` / ``info``), and a human-readable detail
    (plan excerpt or count)."""

    rule: str
    severity: str
    detail: str


def physical_plan(df: DataFrame) -> str:
    """The executed (physical) plan as its full tree string — the
    representation every rule below parses."""
    return df._jdf.queryExecution().executedPlan().toString()


def window_specs(plan: str) -> list[str]:
    """Extract every ``windowspecdefinition(...)`` argument string from
    a physical-plan dump, with balanced-paren parsing (args contain
    nested calls like ``specifiedwindowframe(...)``)."""
    specs = []
    marker = "windowspecdefinition("
    i = 0
    while True:
        j = plan.find(marker, i)
        if j < 0:
            break
        k = j + len(marker)
        depth = 1
        while k < len(plan) and depth:
            if plan[k] == "(":
                depth += 1
            elif plan[k] == ")":
                depth -= 1
            k += 1
        specs.append(plan[j + len(marker) : k - 1])
        i = k
    return specs


def is_unpartitioned(spec: str) -> bool:
    """A windowspecdefinition's args are partition cols, then order
    cols (tagged ``ASC``/``DESC``), then the frame.  No untagged arg
    before the frame => no partition spec => single-task window."""
    depth = 0
    args: list[str] = []
    cur: list[str] = []
    for ch in spec:
        if ch == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        cur.append(ch)
    if cur:
        args.append("".join(cur).strip())
    cols = [a for a in args if not a.startswith("specifiedwindowframe")]
    return all(" ASC " in c or " DESC " in c for c in cols) if cols else True


def _global_sort_lines(plan: str) -> list[str]:
    """``Sort [...], true, 0`` nodes (global flag set) that are NOT the
    TakeOrderedAndProject fusion — candidate wasted full-data sorts."""
    hits = []
    for line in plan.splitlines():
        s = line.strip().lstrip("*+-( )0123456789")
        if s.startswith("Sort [") and "], true," in s:
            hits.append(s[:160])
    return hits


def scale_audit(df: DataFrame) -> list[Finding]:
    """Lint ``df``'s physical plan for shapes that are invisible at
    test scale and fatal at 100 TB.  Returns findings sorted
    fatal-first; an empty list is a clean bill.

    >>> bad = [f for f in scale_audit(df) if f.severity == "fatal"]
    >>> assert not bad, bad
    """
    plan = physical_plan(df)
    findings: list[Finding] = []

    n_cart = plan.count("CartesianProduct")
    if n_cart:
        findings.append(
            Finding(
                "cartesian-product",
                "fatal",
                f"{n_cart} CartesianProduct node(s): O(N*M) pair "
                "explosion at scale; use an equi-key, bucketed "
                "prefilter, or bounded broadcast",
            )
        )

    bad_windows = [s for s in window_specs(plan) if is_unpartitioned(s)]
    if bad_windows:
        findings.append(
            Finding(
                "unpartitioned-window",
                "fatal",
                f"{len(bad_windows)} window(s) with empty partition "
                f"spec (whole input on ONE task): {bad_windows[0][:120]}",
            )
        )

    n_rowwise = plan.count("BatchEvalPython")
    if n_rowwise:
        findings.append(
            Finding(
                "rowwise-python",
                "fatal",
                f"{n_rowwise} BatchEvalPython node(s): row-at-a-time "
                "Python UDF; use pandas_udf / mapInPandas / built-ins",
            )
        )

    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    if n_bnlj:
        findings.append(
            Finding(
                "nested-loop-join",
                "warn",
                f"{n_bnlj} BroadcastNestedLoopJoin(s): sound only if "
                "the broadcast side is bounded by construction "
                "(1-row aggregate, k-row head)",
            )
        )

    for line in _global_sort_lines(plan):
        findings.append(
            Finding(
                "global-sort",
                "warn",
                "global Sort (fine as final presentation order, "
                f"wasteful as an intermediate): {line}",
            )
        )

    n_single = plan.count("Exchange SinglePartition")
    n_shuffle = (
        plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + n_single
    )
    findings.append(
        Finding(
            "shuffle-count",
            "info",
            f"{n_shuffle} shuffle exchange(s)"
            + (
                f" ({n_single} SinglePartition — everything onto one "
                "task; fine only after aggregation bounds the rows)"
                if n_single
                else ""
            ),
        )
    )

    rank = {"fatal": 0, "warn": 1, "info": 2}
    findings.sort(key=lambda f: rank[f.severity])
    return findings
