"""Declared query registry — the surface behind ``__spark_entry__``.

Each query is a (name, spark_fn, oracle_sql) triple registered via the
``@query`` decorator.  ``spark_fn(spark, sf_dir) -> DataFrame`` builds
the PySpark plan; ``oracle`` is the DuckDB-dialect SQL the driver runs
side-by-side at sf0.01 (row-count + schema + order-insensitive
value-hash).  Queries with ``oracle=None`` get the weaker rows-only
check (approx sketches, engine-specific RNG — SURVEY.md §7.4.6).

Alignment discipline (SURVEY.md §7.4), applied inside every pair:
- every computed column aliased identically on both sides;
- money/measure sums: DECIMAL(38,6) cast *before* aggregation (exact,
  order-independent) on both sides;
- means: round(exact_sum::double / count, 6) — identical formula both
  sides → bit-equal doubles;
- every order feeding row_number/limit ends in a unique tie-break key;
- rank-on-rounded-score for float ordering parity.
"""

from __future__ import annotations

import importlib
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, SparkQuery] = {}
_ORACLE: dict[str, str] = {}

#: Submodules that populate the registry on import.
_MODULES = (
    "insight_spark.queries.relational",
    "insight_spark.queries.windows",
    "insight_spark.queries.events",
    "insight_spark.queries.text",
    "insight_spark.queries.vectors",
    "insight_spark.queries.llm",
    "insight_spark.queries.joins",
    "insight_spark.queries.aggregates",
    "insight_spark.queries.window_extra",
    "insight_spark.queries.setops",
    "insight_spark.queries.text_extra",
    "insight_spark.queries.vectors_extra",
    "insight_spark.queries.misc",
    "insight_spark.queries.pipeline_extra",
    "insight_spark.queries.functions_extra",
    "insight_spark.queries.subqueries",
    "insight_spark.queries.training",
    "insight_spark.queries.corpus_extra",
    "insight_spark.queries.analytics_extra",
    "insight_spark.queries.tpch",
    "insight_spark.queries.graph",
    "insight_spark.queries.layout",
    "insight_spark.queries.sources_rt",
    "insight_spark.queries.streaming_rt",
    "insight_spark.queries.corpus_clean",
    "insight_spark.queries.mixing",
    "insight_spark.queries.langtok",
    "insight_spark.queries.geo",
    "insight_spark.queries.optimizer_rt",
)

#: Driver-facing registration order.  The external correctness driver
#: records the FIRST 50 entries of ``queries()`` per round.  Rotation
#: history (r5-r10 rationales) lives in git; principle carried forward:
#: first-time driver evidence outranks refresh, refresh goes oldest-
#: signature-first, and a name is only listed here AFTER its
#: implementation is registered (tests/test_registry.py pins both
#: directions at build time -- the r8 lesson).
#: ROUND-12 rotation (VERDICT r11 task 1, executing the plan committed
#: in r11): this window is the STALE-SIGNATURE REFRESH — the 32 names
#: whose latest driver signature is round 2 plus the 18 oldest-signed
#: r3-era names (ordered by their position inside CORRECTNESS_r03).
#: Those signatures are 9-10 rounds old and the code has churned since;
#: all 50 were pre-verified green at sf0.01 on the r11 final tree, so a
#: failure in this window means NEW drift, not pre-existing breakage.
#: After r12: no driver signature older than round 3 remains.
#: COMMITTED ROTATION PLAN for the following rounds (unchanged from
#: r11 except shifted one round by execution):
#:   r13 = the remaining 21 r3-era signatures (jaccard_threshold_join,
#:         doc_chunk_windows, cms_heavy_hitters, unigram_surprisal_score,
#:         bpe_merge_pairs, ngram_decontaminate, dup_span_ratio,
#:         weighted_sample, funnel_steps, retention_cohorts,
#:         gap_fill_hourly, merge_upsert_orders, join_key_skew_profile,
#:         kmeans_lloyd, pagerank_tokens, bloom_semi_agg,
#:         z_order_code_top, group_sample_fixed_k, cooccurrence_top,
#:         array_ops, doc_fingerprint) + backlog names 51-79 in the
#:         oldest-added order recorded below;
#:   r14 = backlog names 80-129;  r15 = backlog names 130-142 + the
#:         two r11 additions (stream_state_rescale_audit,
#:         stream_state_migration_roundtrip) + the five r12 additions
#:         (stream_rocksdb_state_audit, stream_state_metadata_audit,
#:         aqe_skew_join_audit, aqe_bhj_switch_audit,
#:         runtime_bloom_join_audit)
#:         + the oldest r4-era refresh.  After r15: zero never-signed
#:         queries, no signature older than r5.
#: Backlog tail (names 51-142, oldest-added first, for r13-r15):
#:   lag_feature_matrix, stream_topk_hitters, cohort_ltv_curve,
#:   embedding_mean_shift_audit, l_diversity_audit, conformal_interval_coverage,
#:   experiment_cumulative_lift, quantile_treatment_effect, mann_whitney_u,
#:   spearman_nation_segment, t_closeness_audit, file_metadata_rowcount_audit,
#:   largest_remainder_allocation, mips_dot_topk, special_token_contamination,
#:   manifest_disjoint_writers, manifest_restore_roundtrip, chi2_independence_rc,
#:   degree_assortativity, ivm_delete_recompute, concurrency_curve,
#:   ohlc_hourly_bars, uplift_by_exposure_bucket, hidden_partition_pruning,
#:   stream_ohlc_bars, bottomk_mergeable_sample, video_keyframe_select,
#:   markup_strip_audit, url_canonicalize_dedup, impute_group_median,
#:   windowed_count_distinct, fd_discovery_audit, sargable_rewrite_probe,
#:   session_gap_sweep, hierarchy_subtree_rollup, json_key_coverage,
#:   flesch_reading_ease, frequency_cap_waste, capped_running_balance,
#:   kpi_delta_decomposition, burst_rate_audit, dispersion_index_check,
#:   ams_f2_sketch, triplet_margin_audit, event_type_affinity,
#:   rendezvous_hashing_audit, bandit_replay_eval, decayed_user_activity_rank,
#:   csv_corrupt_records_audit, max_drawdown_daily, fair_topk_interleave,
#:   ipf_raking_weights, digest_collision_risk, lateness_horizon_audit,
#:   conditional_quantile_profile, trend_fit_quality, leadtime_percentiles,
#:   vwap_monthly, p99_regression_probe, weekpart_seasonality,
#:   phrase_match_search, ab_sample_size_table, ratio_metric_delta_var,
#:   jains_fairness_index, simpson_diversity_index, hourly_peak_detection,
#:   topk_concentration_ratio, aa_test_null_check, midnight_boundary_artifact,
#:   doc_prefix_dup_groups, multi_table_publish, cluster_sample_two_stage,
#:   edge_support_truss, rate_limit_admission_audit, distinctive_terms_ratio,
#:   stratified_att_estimate, geo_convex_contains, median_ci_order_stats,
#:   active_learning_margin_pick, mv_staleness_probe, sorted_neighborhood_pairs,
#:   weighted_jaccard_pairs, bigram_next_token_accuracy, centroid_2fold_accuracy,
#:   lexical_richness_profile, telemetry_echo_audit, pareto_skyline_sources,
#:   iv_wald_estimator, trailing_zscore_anomalies, dow_matched_delta,
#:   candidate_key_audit, overlap_coefficient_pairs
#: Exactly 50 names.  Unlisted queries follow in registration order.
_DRIVER_PRIORITY: tuple[str, ...] = (
    # -- the 32 r2-era signatures (latest driver evidence: round 2),
    #    in their CORRECTNESS_r02 signing order --
    "value_histogram",
    "window_frames",
    "udf_quality_score",
    "grouped_agg_udf",
    "grouped_map_stats",
    "multimodal_decode",
    "udtf_tokens",
    "sql_registered_udf",
    "scalar_subquery_avg",
    "exists_subquery",
    "in_subquery",
    "train_test_split",
    "stratified_sample",
    "simhash_near_dup",
    "embedding_near_dup",
    "ngram_jaccard",
    "date_functions",
    "string_functions",
    "math_functions",
    "map_ops",
    "json_struct_extract",
    "levenshtein_names",
    "doc_quality_signals",
    "token_jaccard_pairs",
    "embed_label_profile",
    "label_centroids",
    "range_join_clicks",
    "offset_page",
    "sliding_window_counts",
    "session_window_agg",
    "nulls_ordering",
    "grouping_sets_agg",
    # -- the 18 oldest r3-era signatures (latest driver evidence:
    #    round 3), in their CORRECTNESS_r03 signing order --
    "range_frame_hour",
    "interval_join_global",
    "event_type_sequences",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q10_returned_items",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_large_volume",
    "tpch_q19_disjunctive_revenue",
    "tpch_q22_idle_customers",
    "gopher_quality_filter",
    "hll_merge_distinct",
    "top_ngram_repetition",
)

_loaded = False


@dataclass(frozen=True)
class StressCap:
    """Cost cap for an O(n²)-by-design exact baseline: when ``table``
    holds more than ``max_rows`` rows, BOTH sides keep only the
    deterministic md5-range quarter of it (hex digit 0-3 of
    md5(``key``)), so pair volume drops /16 while the baseline's
    property is still asserted on a content-blind sample.

    The choice is made per call from the input itself: the Spark side
    reads the row count from the parquet footer (no Spark job), the
    oracle from ``count(*)`` over the same table — so every tier, in
    any process order, runs the form its input size calls for.
    """

    table: str
    key: str
    max_rows: int

    @property
    def sql(self) -> str:
        """DuckDB predicate over ``table``'s rows (true for all of them
        at or under the cap)."""
        return (
            f"((SELECT count(*) FROM {self.table}) <= {self.max_rows}"
            f" OR substr(md5(CAST({self.key} AS VARCHAR)), 1, 1) <= '3')"
        )

    def load(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """``table`` from ``sf_dir``, restricted to the quarter above
        the cap."""
        from pyspark.sql import functions as F

        from insight_spark.sources.parquet import load_table, parquet_rows

        df = load_table(spark, sf_dir, self.table)
        path = os.path.join(sf_dir, f"{self.table}.parquet")
        if parquet_rows(path) <= self.max_rows:
            return df
        return df.filter(
            F.substring(F.md5(F.col(self.key).cast("string")), 1, 1) <= "3"
        )


def _load() -> None:
    global _loaded
    if not _loaded:
        for mod in _MODULES:
            importlib.import_module(mod)
        _loaded = True


def query(name: str, oracle: str | None = None):
    """Register a declared query (and its DuckDB oracle, if hashable).

    Registration only records the builder: the fatal plan rules
    (plans/audit.lint_query_plan) run over every registered query in
    tests/test_plans.py and in scripts/plan_shapes.py, never inside
    the builder itself."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLE[name] = oracle
        return fn

    return deco


def _priority_order(names) -> list[str]:
    ranked = [n for n in _DRIVER_PRIORITY if n in names]
    rest = [n for n in names if n not in set(_DRIVER_PRIORITY)]
    return ranked + rest


#: Oracles that are only valid under the default environment: when the
#: named env var is SET, the query's output intentionally diverges from
#: the registered SQL (e.g. a keyed-PRF secret changes the DP noise),
#: so ``all_oracle_sql`` drops the entry — the driver then records the
#: weaker rows-only check instead of a guaranteed hash mismatch.
_ORACLE_SKIP_ENV: dict[str, str] = {
    "dp_noisy_release": "SPARK_GRAFT_DP_SECRET",
}


def all_queries() -> dict[str, SparkQuery]:
    """Registry in driver order.  FAIL-SOFT on priority-list drift
    (VERDICT r8 "what's wrong" #1): an unregistered ``_DRIVER_PRIORITY``
    name is stripped with a warning instead of killing every registry
    consumer — the r8 hard assert here converted five missing names
    into a zeroed round (empty CORRECTNESS, crashed bench, dead smoke
    check, failed test collection).  The strictness now lives in
    ``tests/test_registry.py``, where a mismatch fails the BUILD, not
    the driver."""
    _load()
    missing = [n for n in _DRIVER_PRIORITY if n not in _QUERIES]
    if missing:
        import logging
        import warnings

        msg = f"_DRIVER_PRIORITY names not registered (stripped): {missing}"
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
        # Python warnings are often filtered out of driver logs; a
        # WARNING-level log line survives there (ADVICE r9 #4).
        logging.getLogger(__name__).warning(msg)
    return {n: _QUERIES[n] for n in _priority_order(_QUERIES)}


def all_oracle_sql() -> dict[str, str]:
    _load()
    skip = {
        name
        for name, env in _ORACLE_SKIP_ENV.items()
        if os.environ.get(env)
    }
    return {
        n: _ORACLE[n] for n in _priority_order(_ORACLE) if n not in skip
    }
