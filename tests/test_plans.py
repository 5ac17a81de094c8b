"""Physical-plan regression tests (SURVEY §4) — the 100 TB posture.

Correctness tests can't see a lost broadcast or an un-pushed filter;
these assert the plan *shape* so a regression that would only hurt at
scale fails at test time.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from insight_spark.queries import all_queries
from tests.conftest import file_scans

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        all_queries()[name](spark, SF).explain("formatted")
    return buf.getvalue()


def test_scan_filter_agg_pushdown_and_pruning(spark):
    plan = _plan(spark, "scan_filter_agg")
    assert "GreaterThanOrEqual(l_shipdate" in plan, "date filter not pushed"
    assert "LessThan(l_quantity" in plan, "quantity filter not pushed"
    # column pruning: the 16-column table reads only the 4 needed
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert read.count(":") <= 5, f"scan reads too many columns: {read}"
    assert "l_comment" not in read


def test_star_join_broadcasts_dims(spark):
    plan = _plan(spark, "join_star")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "dim join fell back to SMJ"


def test_flagship_broadcasts_dims(spark):
    plan = _plan(spark, "flagship_top_customers")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan, "top-k not a single physical op"


def test_topk_single_operator(spark):
    plan = _plan(spark, "topk")
    assert "TakeOrderedAndProject" in plan


def test_window_rank_group_limit(spark):
    plan = _plan(spark, "window_rank")
    assert "WindowGroupLimit" in plan, (
        "rank<=k filter should short-circuit per group (InferWindowGroupLimit)"
    )


def test_sessionize_single_shuffle(spark):
    plan = _plan(spark, "sessionize")
    # formatted output lists each node twice (tree + detail); count the
    # detail lines, one per physical exchange
    assert plan.count("Arguments: hashpartitioning") <= 1, (
        "sessionize must share ONE user_id exchange across both window "
        "passes and the final agg:\n" + plan
    )


def test_knn_broadcasts_queries_no_shuffle_of_corpus(spark):
    plan = _plan(spark, "knn_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan, "query side should broadcast"


def test_groupby_has_map_side_combine(spark):
    plan = _plan(spark, "groupby_agg")
    assert "partial_sum" in plan or "partial_count" in plan, (
        "hash agg must run partial (map-side) before the exchange"
    )


def test_no_query_collects_in_plan_building(registry_builds):
    """Operators must stay lazy: building every declared plan triggers
    no Spark job except explicitly documented driver-side lookups.
    (Build happens once per session in the registry_builds fixture —
    a failing build fails there, with the query name in the trace.)"""
    for name, df in registry_builds.items():
        assert df.columns, f"{name} returned no columns"


def test_ivf_assign_no_exchange_no_join(spark):
    """ivf_assign must be a pure per-row projection over the corpus:
    no Exchange, no join of any kind (the r1 crossJoin+window version
    shuffled |corpus|*K rows — VERDICT r1 perf item 1)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from insight_spark.operators.similarity import ivf_assign, seeded_centroids
    from insight_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("c_vec_id"), F.col("embedding").alias("c_embedding")
    )
    cents = seeded_centroids(corpus, n_cells=8)
    indexed = ivf_assign(corpus, cents)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        indexed.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan, f"corpus shuffled:\n{plan}"
    assert "Join" not in plan, f"join crept back in:\n{plan}"
    assert "Window" not in plan, f"window over exploded rows:\n{plan}"


def test_jaccard_threshold_join_no_cartesian(spark):
    """The prefix-filtered similarity join must never plan an all-pairs
    join — that is the whole point of the candidate filter."""
    plan = _plan(spark, "jaccard_threshold_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q21_decorrelation_no_expand_broadcast_dims(spark):
    """Q21's rewrite must stay two chained aggregates: no Expand (the
    multi-countDistinct trap), no lineitem self-join beyond the
    orderkey agg join, supplier×nation broadcast."""
    plan = _plan(spark, "tpch_q21_waiting_suppliers")
    assert "Expand" not in plan, "multi-countDistinct Expand crept in"
    assert "BroadcastHashJoin" in plan, "supplier/nation dim not broadcast"


def test_unigram_surprisal_vocab_broadcasts(spark):
    plan = _plan(spark, "unigram_surprisal_score")
    assert "BroadcastHashJoin" in plan, "vocab join must broadcast"
    assert "SortMergeJoin" not in plan


def test_bpe_pairs_take_ordered(spark):
    plan = _plan(spark, "bpe_merge_pairs")
    assert "TakeOrderedAndProject" in plan


def test_q1_map_side_combine(spark):
    plan = _plan(spark, "tpch_q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2, "no partial aggregation"
    assert "LessThanOrEqual(l_shipdate" in plan, "shipdate filter not pushed"


def test_q6_all_filters_pushed(spark):
    plan = _plan(spark, "tpch_q6_forecast_revenue")
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount",
        "LessThanOrEqual(l_discount",
        "LessThan(l_quantity",
    ):
        assert frag in plan, f"{frag} not pushed to the parquet scan"
    assert "Join" not in plan, "Q6 must be join-free"


def test_q2_window_decorrelation_no_self_join(spark):
    plan = _plan(spark, "tpch_q2_min_cost_supplier")
    # the correlated MIN is a window, not a second ps aggregate + join
    assert "Window" in plan
    # one Location line per physical scan: lineitem must appear once
    assert plan.count("lineitem.parquet") == 1, (
        "lineitem scanned more than once: correlated subquery not decorrelated"
    )


def test_q9_broadcasts_all_dims(spark):
    plan = _plan(spark, "tpch_q9_product_profit")
    assert plan.count("BroadcastHashJoin") >= 3, "part/supplier/nation must broadcast"


def test_q16_anti_join_broadcast(spark):
    plan = _plan(spark, "tpch_q16_supplier_relationship")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_q20_window_total_no_tot_self_join(spark):
    plan = _plan(spark, "tpch_q20_promotion_suppliers")
    assert "Window" in plan
    assert "LeftSemi" in plan


def test_minhash_lsh_no_cartesian(spark):
    plan = _plan(spark, "minhash_lsh_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_blocked_fuzzy_match_no_cartesian(spark):
    plan = _plan(spark, "blocked_fuzzy_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mad_outliers_broadcasts_group_stats(spark):
    plan = _plan(spark, "mad_outliers")
    assert "BroadcastHashJoin" in plan, "|types|-row stats must broadcast back"


def test_ewma_single_window_exchange(spark):
    plan = _plan(spark, "ewma_smooth")
    assert plan.count("Exchange") <= 2, "all 4 LAGs must share one window spec"


def test_triangle_count_joins_are_equi(spark):
    """Wedge + closing joins must be hash equi-joins; the only nested-
    loop join allowed is the final 1-row×1-row count attachment
    (formatted plans list each node twice: tree + detail)."""
    plan = _plan(spark, "triangle_count")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2, (
        "an edge-scale join planned as nested loop"
    )


def test_rollup_multires_single_raw_scan(spark):
    plan = _plan(spark, "rollup_multires")
    assert plan.count("events.parquet") == 0, (
        "coarse levels must re-aggregate the checkpointed hourly "
        "partials, not rescan the fact table per output branch"
    )


def test_histogram_quantile_mergeable_shape(spark):
    plan = _plan(spark, "histogram_quantile")
    assert plan.count("HashAggregate") >= 2, "bucket counts need map-side combine"


def test_winsorize_bounds_broadcast_no_second_shuffle(spark):
    plan = _plan(spark, "winsorize_values")
    assert "BroadcastHashJoin" in plan, "percentile bounds must broadcast back"


def test_oov_vocab_broadcasts(spark):
    plan = _plan(spark, "oov_rate_by_source")
    assert "BroadcastHashJoin" in plan, "top-k vocab must broadcast"


def test_dedup_keep_best_single_exchange(spark):
    """Both windows (rank + group count) and the head filter must share
    ONE digest exchange.  (WindowGroupLimit cannot apply here — n_dups
    needs the whole group — so the single shuffle is the guarantee.)"""
    plan = _plan(spark, "dedup_keep_best")
    assert plan.count("Arguments: hashpartitioning") <= 1


def test_ks_single_value_exchange(spark):
    """The KS rewrite must not reproduce the oracle's correlated
    per-point subqueries: no nested-loop join over the grid."""
    plan = _plan(spark, "ks_distribution_shift")
    assert "CartesianProduct" not in plan
    # 1-row totals attach + nothing else may nested-loop (tree+detail
    # lines count double)
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_scd2_single_window_pass(spark):
    plan = _plan(spark, "scd2_history")
    assert "Join" not in plan, "interval closing must be LEAD, not a self-join"


def test_binary_stats_prunes_content(spark):
    """The media-inventory scan must read only (path, length) from the
    file listing — payload bytes stay off the wire entirely."""
    plan = _plan(spark, "binary_stats")
    assert "binaryFile" in plan or "BINARYFILE" in plan
    assert "content" not in plan, "binaryFile scan read payload bytes"


def test_shard_export_reads_partitioned_tree(spark):
    """Shard read-back goes through partition discovery: shard is a
    directory column, so per-shard reads prune at listing time."""
    plan = _plan(spark, "shard_export_counts")
    assert "PartitionFilters" in plan or "partition" in plan.lower()


def test_line_dedup_filters_and_shuffles_bounded(spark):
    """Line dedup is two word-count shuffles (line key, doc key) plus
    the join-back; no UDFs, no nested loops."""
    plan = _plan(spark, "line_dedup_stats")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_dsir_vocab_broadcasts(spark):
    """Both unigram LMs are vocab-sized and must broadcast back onto
    the token stream — the token stream itself must never shuffle on
    content."""
    plan = _plan(spark, "dsir_importance")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_groups_per_cell(spark):
    """SemDeDup's within-cluster pairing runs as ONE Arrow-batched
    grouped-map per cell (the paper's numpy Gram kernel, distributed) —
    never a pair join that could cartesian or serialize under AQE
    coalescing (both prior kernels failed the 10x probe)."""
    plan = _plan(spark, "semantic_dedup")
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sparse_cosine_query_side_broadcasts(spark):
    """The sparse dot product joins postings on the shared token with
    the query-doc side broadcast; the corpus posting table must not be
    nested-loop joined."""
    plan = _plan(spark, "sparse_cosine_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_inverted_index_word_count_shape(spark):
    """Index build is (token, doc_id) then token hash aggregates —
    partial aggregation must be present, the posting head must prune
    via WindowGroupLimit (never collect a full posting list), and no
    Python in the path."""
    plan = _plan(spark, "inverted_index_build")
    assert "HashAggregate" in plan
    assert "WindowGroupLimit" in plan, "posting head collects unbounded lists"
    assert "BatchEvalPython" not in plan


def test_seasonal_naive_join_not_lag(spark):
    """The day-lag is an equi-join on (type, hour-24h); both sides come
    from the same hourly rollup, joined hash-wise."""
    plan = _plan(spark, "seasonal_naive_error")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_logreg_gradient_is_partial_aggregate(spark):
    """Each GD epoch's gradient is a map-side-combined d-row hash
    aggregate over the posexploded features; no Python in the plan
    (the sigmoid is a JVM expression) and no shuffle of the corpus."""
    import contextlib
    import io

    from insight_spark.queries import all_queries

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        all_queries()["logreg_gd_train"](spark, SF).explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_twap_single_window_exchange(spark):
    """TWAP is one LEAD window + one group agg on the same user key —
    at most the window exchange and the agg exchange."""
    plan = _plan(spark, "twap_user_value")
    assert plan.count("Exchange") <= 4, plan  # tree+detail list nodes twice


def test_salted_join_routes_without_cartesian(spark):
    """Hot-key salted join: both routes are hash joins (never a
    nested-loop/cartesian), the dim replication Generate exists only
    on the hot route, and the two routes union."""
    plan = _plan(spark, "salted_join_priority_revenue")
    assert "CartesianProduct" not in plan
    assert "Union" in plan
    assert plan.count("Generate") >= 1  # per-salt explode, hot slice only


def test_attribution_bounded_shuffles(spark):
    """Linear attribution: user-key hash join (range as join filter,
    not a nested loop), one window exchange on purchase id, one hour
    rollup — no Python, no cartesian."""
    plan = _plan(spark, "attribution_linear_touch")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_hybrid_search_legs_take_ordered(spark):
    """Each retrieval leg ends in TakeOrderedAndProject (per-partition
    heaps), never a global Sort of the corpus."""
    plan = _plan(spark, "hybrid_search_rrf")
    assert "TakeOrderedAndProject" in plan


def test_psi_metadata_sized_tail(spark):
    """PSI: the only nested-loop is the 1-row time-bounds broadcast;
    everything after the (type, bin) aggregate is metadata-sized."""
    plan = _plan(spark, "psi_drift")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_cdc_single_key_exchange(spark):
    """CDC compaction is the keyed-dedup shape: one window exchange on
    the key (plus detail-list duplication in formatted output)."""
    plan = _plan(spark, "cdc_apply_log")
    assert plan.count("Exchange") <= 2, plan
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """At-scale scan behavior: joining a partitioned fact against a
    filtered dim must inject a dynamic-pruning subquery into the fact
    scan's PartitionFilters, so only the dim-selected partitions are
    read — the mechanism that bounds a 100 TB scan by the dim filter
    instead of the whole table."""
    from pyspark.sql import functions as F

    from insight_spark.sources import load_table

    fact_path = str(tmp_path / "events_by_type")
    ev = load_table(spark, SF, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [("purchase", 1.0), ("click", 0.5)], "event_type string, w double"
    ).filter(F.col("w") > 0.8)
    joined = fact.join(dim, "event_type").groupBy("event_type").count()

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain(True)
    plan = buf.getvalue()
    assert "dynamicpruning" in plan.lower(), plan
    # and the result honors the pruning semantics
    rows = {r["event_type"]: r["count"] for r in joined.collect()}
    assert set(rows) == {"purchase"}


@pytest.fixture(scope="module")
def plan_lint_offenders(registry_builds):
    """``name -> PlanScaleError`` for every declared query the
    PRODUCT's plan lint (insight_spark/plans/audit.lint_query_plan)
    rejects — the same code scripts/plan_shapes.py runs over each query
    it builds and users run via scale_audit(df).  Linted once; the
    registry guards below read it."""
    from insight_spark.plans.audit import PlanScaleError, lint_query_plan

    offenders = {}
    for name, df in registry_builds.items():
        try:
            lint_query_plan(name, df)
        except PlanScaleError as exc:
            offenders[name] = exc
    return offenders


def _broke(offenders, rule=None) -> dict:
    return {
        name: str(exc)[:200]
        for name, exc in offenders.items()
        if rule is None or rule in exc.rules
    }


def test_no_fatal_plan_anywhere_in_declared_surface(plan_lint_offenders):
    """Engine-wide guard: no declared query may plan a fatal
    scale-killer — a cartesian product, a row-at-a-time Python eval
    (BatchEvalPython), or a Window whose partition spec is empty
    unless the query is on the bounded-window allowlist AND its plan
    proves the bound."""
    offenders = _broke(plan_lint_offenders)
    assert not offenders, f"fatal plan shapes: {offenders}"


def test_no_rowwise_python_anywhere_in_bench_surface(plan_lint_offenders):
    """Engine-wide guard: no benched query may plan a row-at-a-time
    Python eval (BatchEvalPython).  Arrow-batched forms
    (ArrowEvalPython, FlatMapGroupsInPandas, MapInPandas/Arrow) are the
    sanctioned Python surface."""
    offenders = _broke(plan_lint_offenders, "rowwise-python")
    assert not offenders, f"rowwise Python: {offenders}"


def test_no_unpartitioned_window_anywhere_in_declared_surface(
    plan_lint_offenders,
):
    """Engine-wide guard: no declared query may plan a Window whose
    partition spec is empty — the shape that serializes the whole input
    onto ONE task at scale — unless the query is on the documented
    bounded-input allowlist and its plan proves the bound (or it
    carries the documented shape-opaque waiver)."""
    offenders = _broke(plan_lint_offenders, "unpartitioned-window")
    assert not offenders, f"unpartitioned windows: {offenders}"


def test_unproven_window_checker_catches_unbounded_shape(spark):
    """Negative control for the bounded-window machine check: a global
    rank window directly over the full parquet scan must FAIL the
    proof, and the same window over a TakeOrdered head or a
    post-aggregate grid must PASS it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from insight_spark.plans.audit import unproven_window_paths
    from insight_spark.sources import load_table

    ev = load_table(spark, SF, "events")
    w = Window.orderBy("ts", "event_id")

    bad = ev.withColumn("rn", F.row_number().over(w))
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert unproven_window_paths(plan), "unbounded global window passed"

    good_limit = (
        ev.orderBy("ts", "event_id")
        .limit(5)
        .withColumn("rn", F.row_number().over(w))
    )
    plan = good_limit._jdf.queryExecution().executedPlan().toString()
    assert not unproven_window_paths(plan), "limit-bounded window failed"

    good_agg = (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "rn", F.row_number().over(Window.orderBy("event_type"))
        )
    )
    plan = good_agg._jdf.queryExecution().executedPlan().toString()
    assert not unproven_window_paths(plan), "agg-bounded window failed"


def test_winnowing_map_only(spark):
    """Winnowing fingerprints must be a pure projection: per-row
    higher-order functions over the scan, no shuffle, no join, no
    Python."""
    plan = _plan(spark, "winnowing_fingerprints")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_token_budget_sampler_single_source_window(spark):
    """One window exchange on the source key; the budget filter is
    map-side after it (no second shuffle)."""
    plan = _plan(spark, "token_budget_sampler")
    assert plan.count("Exchange") <= 2, plan  # tree+detail double-count
    assert "CartesianProduct" not in plan


def test_ccnet_buckets_vocab_broadcasts(spark):
    """The unigram vocab and corpus total must broadcast back onto the
    token stream (the unigram_surprisal shape), not shuffle-join it."""
    plan = _plan(spark, "ccnet_perplexity_buckets")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_mixture_temperature_no_global_window(spark):
    """Both scalars (corpus total, normalizer) attach as 1-row
    broadcasts — the no-global-window discipline."""
    plan = _plan(spark, "source_mixture_temperature")
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row attach


def test_langid_profile_broadcasts(spark):
    """The |langs|*T profile is model state: it must broadcast onto the
    doc-trigram stream, never shuffle-join it; the argmax window is
    partitioned on doc_id."""
    plan = _plan(spark, "langid_trigram_predict")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_bpe_trainer_counts_on_vocab(spark):
    """Every BPE round's pair count must aggregate the vocabulary
    (partial_sum present), and the plan stays Python-free."""
    plan = _plan(spark, "bpe_train_merges")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bucketed_join_no_shuffle(spark):
    """The bucketed fact-fact join must be co-located: the ONLY
    Exchange in the plan is the small post-join priority aggregate —
    the join itself reads pre-bucketed files on both sides."""
    from insight_spark.queries import all_queries

    df = all_queries()["bucketed_join_roundtrip"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(o_orderpriority" in plan, plan


def test_compaction_collapses_file_count(spark):
    """The compaction round-trip must actually compact: the fragmented
    tree has many parquet files, the rewritten tree has 1."""
    import glob
    import os

    from insight_spark.queries import all_queries
    from insight_spark.queries.sources_rt import _rt_path

    df = all_queries()["compaction_roundtrip"](spark, SF)
    assert df.count() > 0
    n_frag = len(glob.glob(os.path.join(_rt_path(SF, "compact_frag"), "*.parquet")))
    n_comp = len(glob.glob(os.path.join(_rt_path(SF, "compact_out"), "*.parquet")))
    assert n_frag > 5, n_frag
    assert n_comp == 1, n_comp


def test_cdc_chunking_digest_only_shuffle(spark):
    """CDC chunking must be Python-free with no cartesian anywhere;
    the only shuffled payload is the 16-byte chunk digest."""
    plan = _plan(spark, "cdc_chunk_dedup")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_semantic_decontaminate_zero_shuffle_map_only(spark):
    """The decontamination scan must stay map-only: the eval matrix is
    broadcast closure state, so the corpus is read once with NO
    exchange — the property that makes it linear at 100 TB."""
    plan = _plan(spark, "semantic_decontaminate")
    assert "Exchange" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ivm_join_delta_single_aggregate_exchange(spark):
    """The three delta-decomposition branches must union BELOW one
    hash aggregate (map-side partials merge in a single shuffle);
    a per-branch aggregate or a cartesian would break the algebra's
    plan form."""
    plan = _plan(spark, "ivm_join_delta")
    assert "Union" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "CartesianProduct" not in plan, plan


def _one_bucket_scan_plan(df) -> str:
    """Assert ``df``'s single file scan keeps exactly 1 of its table's
    8 buckets in its bucket set — Spark's file filter, which holds for
    bucketed and plain scans alike — and that the plan has no
    Exchange; return the executed-plan string."""
    scans = file_scans(df)
    text = df._jdf.queryExecution().executedPlan().toString()
    assert len(scans) == 1, text
    bucket_set = scans[0].optionalBucketSet()
    assert bucket_set.isDefined(), text
    assert bucket_set.get().cardinality() == 1, text
    assert scans[0].relation().bucketSpec().get().numBuckets() == 8, text
    assert "Exchange" not in text, text
    return text


def test_search_index_probe_bucket_pruned(spark):
    """The A7 serving probe must be a bucket-pruned point lookup: a
    term-equality filter on the bucketed posting table leaves exactly
    1 of the 8 bucket files in the scan's bucket set, with the term
    predicate pushed to the parquet scan — the O(index/n_buckets) IO
    property a real search store provides."""
    from insight_spark.queries import all_queries

    df = all_queries()["search_index_probe"](spark, SF)
    plan = _one_bucket_scan_plan(df)
    assert "EqualTo(term,the)" in plan, plan


def test_suggest_from_index_bucket_pruned(spark):
    """The A7 completion suggester must serve from the written suggest
    table with a bucket-pruned scan: the prefix2 equality leaves
    exactly 1 of the 8 bucket files in the scan's bucket set, so a
    suggest query is O(index/n_buckets) IO regardless of
    term-dictionary size."""
    from insight_spark.queries import all_queries

    df = all_queries()["suggest_from_index"](spark, SF)
    plan = _one_bucket_scan_plan(df)
    assert "EqualTo(prefix2,th)" in plan, plan
    # top-k must be TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in plan, plan


def test_pyds_topic_counts_partitioned_and_combined(spark):
    """The Python DataSource batch read must parallelize (8 planned
    input partitions) and the aggregate must map-side combine
    (partial before the exchange)."""
    from insight_spark.queries import all_queries

    df = all_queries()["pyds_topic_counts"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan, plan
    # The PRE-aggregation scan must honor the connector's partition
    # planning: the query reads with numPartitions=8, so the bare scan
    # RDD must have exactly 8 partitions (post-shuffle counts would
    # mask a connector regression to 1).
    import os

    scan = (
        spark.read.format("event_topic")
        .option("path", os.path.join(SF, "events.parquet"))
        .option("numPartitions", 8)
        .load()
    )
    assert scan.rdd.getNumPartitions() == 8
    rows = df.collect()
    assert len(rows) > 0


def test_vector_index_probe_partition_pruned(spark):
    """The vector-index serving probe must scan only its probe cells:
    the cell-partitioned index read shows a cell_id IN (...)
    PartitionFilter (2 of 8 inverted lists), never a full-index scan."""
    import re

    from insight_spark.queries import all_queries

    df = all_queries()["vector_index_probe"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[cell_id#\d+ IN \(\d+,\d+\)\]", plan)
    assert m, plan
    # The top-5 head must be a distributed TakeOrdered (per-partition
    # heaps), never a global row_number window over the probed cells.
    assert "TakeOrderedAndProject" in plan, plan


def test_udtf_filter_pushed_below_python_eval(spark):
    """Both UDTF queries must plan Arrow-batched Python with the
    doc_id predicate pushed into the SCAN below the UDTF — Catalyst
    does not move a post-lateral WHERE through an EvalPythonUDTF node,
    so the outer-filter form runs the Python table function over the
    WHOLE corpus and filters afterwards (the r6→r7 udtf bench
    regression)."""
    from insight_spark.queries import all_queries

    for name in ("udtf_polymorphic_ngrams", "udtf_tokens"):
        df = all_queries()[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPythonUDTF" not in plan, (name, plan)
        assert "EvalPythonUDTF" in plan, (name, plan)
        assert "LessThan(doc_id,50)" in plan, (name, plan)
        # the pushed scan filter must sit BELOW the UDTF node, and no
        # doc_id Filter may remain above it
        udtf_at = plan.index("EvalPythonUDTF")
        assert "LessThan(doc_id,50)" in plan[udtf_at:], (name, plan)
        above = plan[:udtf_at]
        assert "Filter" not in above or "doc_id" not in above, (name, plan)


def test_mv_rewrite_serves_from_mv_only(spark):
    """The monthly rollup must be answered FROM the daily MV parquet —
    the serving plan scans mv_daily_rev and never the base orders
    table (that IO asymmetry is the whole point of the MV)."""
    from insight_spark.queries import all_queries

    df = all_queries()["mv_rollup_rewrite"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "mv_daily_rev" in plan, plan
    assert "orders.parquet" not in plan, plan
    assert "partial_sum" in plan  # re-aggregation map-side combines


def test_bitext_ann_no_cartesian(spark):
    """M133b's scale claim: candidates come from a shuffle equi-join on
    cell_id — never a cartesian / broadcast nested loop (that is M133's
    fixture-scale-only shape this variant exists to replace)."""
    plan = _plan(spark, "bitext_margin_mining_ann")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_recall_eval_exact_side_is_the_only_nlj(spark):
    """M149: the IVF side under evaluation must stay a cell_id
    equi-join; the one nested loop allowed is the bounded-|eval|
    broadcast cross join computing exact ground truth."""
    plan = _plan(spark, "ann_recall_eval")
    assert "CartesianProduct" not in plan
    # one node = one "(N) <name>" detail header in the formatted plan
    # (the tree section prints the same node a second time)
    import re

    nlj_nodes = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    assert len(nlj_nodes) <= 1, plan


def test_minhash_band_cardinality_no_pair_explosion(spark):
    """M146: the band-load audit must cost two aggregates over the band
    table — no candidate-pair join anywhere in the plan."""
    plan = _plan(spark, "minhash_band_cardinality")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan, f"audit must not join:\n{plan}"


def test_quantile_bin_no_global_sort(spark):
    """M147: equal-width binning must not plan a total sort / global
    window (the ntile trap) — one scalar agg + map-side projection."""
    plan = _plan(spark, "quantile_bin_features")
    assert "Window" not in plan, f"global window crept in:\n{plan}"
    assert "CartesianProduct" not in plan
