"""Advanced aggregation queries (SURVEY.md §2.D6-D17 — P1/P2 tiers).

Moment statistics (stddev/var/corr) are computed from decimal-exact
power sums with the identical closed-form formula on both sides, so the
resulting doubles are bit-equal — the built-in one-pass estimators would
be order-nondeterministic (SURVEY.md §7.4.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from insight_spark.operators.relational import MONEY, money_out
from insight_spark.operators.text import tokens_sql
from insight_spark.queries import query
from insight_spark.sources import load_table


@query(
    "stats_moments",
    oracle="""
    WITH k_ev AS (
        SELECT event_type, value,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
    ),
    sums AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(SUM(k) AS DOUBLE) AS sy,
               CAST(SUM(k * k) AS DOUBLE) AS syy,
               CAST(SUM(CAST(value * k AS DECIMAL(38,6))) AS DOUBLE) AS sxy
        FROM k_ev
        GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND((sxx - sx * sx / n) / (n - 1), 6) AS var_value,
           ROUND(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS stddev_value,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
               AS corr_value_k
    FROM sums
    """,
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance / stddev / correlation per event type (D7/D8)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    base = ev.select("event_type", "value", k.alias("k")).filter(
        F.col("k").isNotNull()
    )
    sums = base.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(MONEY)).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast(MONEY))
        .cast("double")
        .alias("sxx"),
        F.sum("k").cast("double").alias("sy"),
        F.sum(F.col("k") * F.col("k")).cast("double").alias("syy"),
        F.sum((F.col("value") * F.col("k")).cast(MONEY))
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n")
    sx, sxx = F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    var = (sxx - sx * sx / n) / (n - 1)
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return sums.select(
        "event_type",
        "n",
        F.round(var, 6).alias("var_value"),
        F.round(F.sqrt(var), 6).alias("stddev_value"),
        F.round(corr, 6).alias("corr_value_k"),
    )


@query(
    "first_event_per_user",
    oracle="""
    SELECT user_id,
           (min({'ts': ts, 'id': event_id, 'et': event_type})).ts AS first_ts,
           (min({'ts': ts, 'id': event_id, 'et': event_type})).et AS first_type
    FROM events
    GROUP BY user_id
    """,
)
def first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive first-in-group (D9), deterministic via struct-min:
    lexicographic (ts, event_id) ordering needs no window/sort — a single
    hash aggregate with map-side partials."""
    ev = load_table(spark, sf_dir, "events")
    m = F.min(F.struct("ts", "event_id", "event_type")).alias("m")
    return (
        ev.groupBy("user_id")
        .agg(m)
        .select(
            "user_id",
            F.col("m.ts").alias("first_ts"),
            F.col("m.event_type").alias("first_type"),
        )
    )


@query(
    "user_event_types",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY user_id
    """,
)
def user_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set + deterministic ordering (D10): Spark's collect order
    is physical-plan-dependent, so both sides sort before rendering."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias(
            "types_csv"
        ),
        F.countDistinct("event_type").alias("n_types"),
    )


@query(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS median_value,
           ROUND(quantile_cont(value, 0.9), 6) AS p90_value
    FROM events
    GROUP BY event_type
    """,
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (D11) — Spark ``percentile`` and
    DuckDB ``quantile_cont`` share the linear-interpolation definition."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("median_value"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90_value"),
    )


@query(
    "approx_value_percentiles",
    oracle="""
    SELECT event_type,
           TRUE AS median_in_bracket,
           TRUE AS p90_in_bracket
    FROM events
    GROUP BY event_type
    """,
)
def approx_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (D12, GK sketch) with an oracle-checkable
    error contract.

    A rank-based sketch with accuracy=1000 guarantees rank error
    ≤ 0.001·N, so the approx q-quantile must lie inside the exact
    [q−0.005, q+0.005] quantile bracket.  The raw sketch values are
    engine-specific; the bracket booleans are deterministic, and the
    oracle asserts them as constants per group — a sketch regression
    (or a broken accuracy knob) flips a boolean and fails the hash.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_percentile("value", F.lit(0.5), F.lit(1000)).alias("_m"),
        F.approx_percentile("value", F.lit(0.9), F.lit(1000)).alias("_p"),
        F.percentile("value", F.lit(0.495)).alias("_m_lo"),
        F.percentile("value", F.lit(0.505)).alias("_m_hi"),
        F.percentile("value", F.lit(0.895)).alias("_p_lo"),
        F.percentile("value", F.lit(0.905)).alias("_p_hi"),
    )
    return agg.select(
        "event_type",
        ((F.col("_m") >= F.col("_m_lo")) & (F.col("_m") <= F.col("_m_hi"))).alias(
            "median_in_bracket"
        ),
        ((F.col("_p") >= F.col("_p_lo")) & (F.col("_p") <= F.col("_p_hi"))).alias(
            "p90_in_bracket"
        ),
    )


@query(
    "rollup_region_nation",
    oracle="""
    SELECT COALESCE(r_name, 'ALL') AS region_g,
           COALESCE(n_name, 'ALL') AS nation_g,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_revenue,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals (D14 rollup): region → nation → grand total.
    NULL group keys relabeled 'ALL' (no NULL dims in data, so the
    relabeling is unambiguous)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast(MONEY)).alias("_total_revenue"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region_g"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation_g"),
            money_out("_total_revenue").alias("total_revenue"),
            "n_orders",
        )
    )


@query(
    "cube_status_priority",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status_g,
           COALESCE(o_orderpriority, 'ALL') AS priority_g,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_revenue
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations (D15 cube) over two order dims."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(MONEY)).alias("_total_revenue"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status_g"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias(
                "priority_g"
            ),
            "n_orders",
            money_out("_total_revenue").alias("total_revenue"),
        )
    )


@query(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot (D16) with pinned value list (required at scale:
    an unpinned pivot runs an extra distinct job over the fact table)."""
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).alias("n_finished"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_pending"),
    )


@query(
    "sample_events",
    oracle="""
    SELECT event_id, user_id
    FROM events
    WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 2) < '1a'
    """,
)
def sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli-style sample (B10).

    Content-keyed md5-threshold instead of engine RNG ('1a' = 26/256 ≈
    0.102 of the hash space) — identical row set in any engine, under
    any partitioning, across re-runs and appends; exactly
    oracle-expressible (same trick as train_test_split).  For sampling
    where cross-engine stability is NOT needed, plain
    ``df.sample(fraction, seed)`` remains the cheaper scan-local path.
    """
    ev = load_table(spark, sf_dir, "events")
    h2 = F.substring(F.md5(F.col("event_id").cast("string")), 1, 2)
    return ev.filter(h2 < "1a").select("event_id", "user_id")


@query(
    "unpivot_status_counts",
    oracle="""
    WITH wide AS (
        SELECT o_orderpriority,
               CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
               CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
        FROM orders
        GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, status_col, n
    FROM wide
    UNPIVOT (n FOR status_col IN (n_open, n_finished, n_pending))
    """,
)
def unpivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot/melt (D16 inverse, Spark ≥3.4 ``unpivot``).

    Round-trips the D16 pivot back to long form — unpivot is a
    zero-shuffle projection (each row expands to k rows in place).
    """
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
            F.coalesce(F.col("F"), F.lit(0)).alias("n_finished"),
            F.coalesce(F.col("P"), F.lit(0)).alias("n_pending"),
        )
    )
    return wide.unpivot(
        ["o_orderpriority"],
        ["n_open", "n_finished", "n_pending"],
        "status_col",
        "n",
    )


@query(
    "explode_variants",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               list_filter({tokens_sql('text')},
                           t -> length(t) > 7) AS l
        FROM documents
    ),
    padded AS (
        SELECT doc_id,
               CASE WHEN len(l) = 0 THEN [NULL] ELSE l END AS l2,
               len(l) AS n
        FROM toks
    )
    SELECT doc_id,
           CAST(unnest(CASE WHEN n = 0 THEN [NULL] ELSE range(0, n) END)
                AS INTEGER) AS pos,
           unnest(l2) AS tok
    FROM padded
    """,
)
def explode_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode_outer (H11 full family): lateral expansion that KEEPS
    rows whose array is empty (null pos/tok) — the outer semantics a
    plain explode/unnest drops.  The oracle reproduces outer zip via
    [NULL]-padding + parallel unnest."""
    from insight_spark.operators.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(
            tokenize(F.col("text")), lambda t: F.length(t) > 7
        ).alias("l"),
    )
    return toks.select(
        "doc_id", F.posexplode_outer("l").alias("pos", "tok")
    )


@query(
    "table_profile",
    oracle="""
    SELECT 'o_orderkey' AS col, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_orderkey) AS n_nulls,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_v,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
           CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
    FROM orders
    """,
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling operator: per-column row/null/distinct counts and
    min/max (the SUMMARIZE surface a pipeline runs before ingesting a
    new source).  One pass over the table — all per-column aggregates
    fuse into a single hash-aggregate stage; doubles go through
    DECIMAL(18,2) before stringifying (engine-independent rendering,
    SURVEY §7.4)."""
    orders = load_table(spark, sf_dir, "orders")

    def profile_struct(col: str, minmax) -> F.Column:
        return F.struct(
            F.lit(col).alias("col"),
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count(col)).alias("n_nulls"),
            F.countDistinct(col).alias("n_distinct"),
            minmax(F.min(col)).alias("min_v"),
            minmax(F.max(col)).alias("max_v"),
        )

    as_str = lambda c: c.cast("string")  # noqa: E731
    as_dec = lambda c: c.cast("decimal(18,2)").cast("string")  # noqa: E731
    profiled = orders.agg(
        F.array(
            profile_struct("o_orderkey", as_str),
            profile_struct("o_custkey", as_str),
            profile_struct("o_orderstatus", as_str),
            profile_struct("o_totalprice", as_dec),
        ).alias("p")
    )
    return profiled.select(F.explode("p").alias("r")).select("r.*")


@query(
    "value_histogram",
    oracle="""
    SELECT CAST(floor(value / 50) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_value
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of events.value (profiling companion to
    table_profile): floor-division bucketing keeps the bucket function
    identical across engines — one hash aggregate, bucket count bounded
    by the value range, never by row count."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("value").isNotNull())
        .groupBy(
            F.floor(F.col("value") / 50).cast("long").alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(MONEY)).alias("_sum_value"),
        )
        .select("bucket", "n", money_out("_sum_value").alias("sum_value"))
    )


@query(
    "grouping_id_flags",
    oracle="""
    SELECT COALESCE(r_name, '<all>') AS r_name,
           COALESCE(n_name, '<all>') AS n_name,
           CAST(GROUPING(r_name) AS INTEGER) AS g_region,
           CAST(GROUPING(n_name) AS INTEGER) AS g_nation,
           COUNT(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY g_region, g_nation, r_name, n_name
    """,
)
def grouping_id_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() flags (D13-15 precision): the flag
    columns distinguish subtotal rows from genuine NULL group values —
    the disambiguation every BI layer needs before rendering a rollup
    (COALESCE alone can't tell '<all>' from a real null key).

    Same Expand + single aggregate plan as the plain rollup; the
    flags are free metadata bits of the grouping set id.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.grouping("r_name").cast("int").alias("g_region"),
            F.grouping("n_name").cast("int").alias("g_nation"),
            F.count("*").alias("n_customers"),
        )
        .select(
            F.coalesce("r_name", F.lit("<all>")).alias("r_name"),
            F.coalesce("n_name", F.lit("<all>")).alias("n_name"),
            "g_region",
            "g_nation",
            "n_customers",
        )
        .orderBy("g_region", "g_nation", "r_name", "n_name")
    )


#: Equal-width bins for the feature-binning audit (M147).
_N_BINS = 10


@query(
    "quantile_bin_features",
    oracle=f"""
    WITH stats AS (
        SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders
    ),
    binned AS (
        SELECT CAST(CASE WHEN mx = mn THEN 0
                         ELSE least(floor((o_totalprice - mn) * {_N_BINS}
                                          / (mx - mn)), {_N_BINS - 1})
                    END AS INTEGER) AS bin_id,
               o_totalprice
        FROM orders, stats
    )
    SELECT bin_id,
           COUNT(*) AS n_rows,
           MIN(o_totalprice) AS bin_lo,
           MAX(o_totalprice) AS bin_hi,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_price
    FROM binned
    GROUP BY bin_id
    """,
)
def quantile_bin_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram binning for feature prep (M147): bin
    ``o_totalprice`` into 10 equal-width bins over the observed
    [min, max] range and profile each bin (count, bounds, exact-sum
    mean) — the discretization step a feature pipeline runs before
    bucketized embeddings / monotonic-binning models, and the
    histogram a cost optimizer keeps per column.

    Deliberately equal-WIDTH, not ntile: a global ntile needs a total
    sort through ONE task (an unpartitioned window), dead at 100 TB.
    Equal-width needs only (a) one scalar min/max aggregate
    (map-side-combined, broadcast back as a 1-row cross join) and
    (b) a map-only bin projection + a 10-key aggregate —
    every stage distributes.  Equi-DEPTH bins at scale are derived
    from this same shape by iterating on approx-percentile boundaries
    (see ``approx_value_percentiles``), not by sorting.

    Bin arithmetic is the identical IEEE-double expression on both
    sides (floor((x - mn) * B / (mx - mn)), clamped to B-1 so x = mx
    lands in the last bin) — bit-equal per SURVEY §7.4 discipline; the
    mean follows the exact-decimal-sum rule.
    """
    orders = load_table(spark, sf_dir, "orders")
    stats = orders.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    bin_id = (
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("o_totalprice") - F.col("mn"))
                    * _N_BINS
                    / (F.col("mx") - F.col("mn"))
                ),
                F.lit(_N_BINS - 1),
            )
        )
        .cast("int")
    )
    binned = orders.crossJoin(F.broadcast(stats)).select(
        bin_id.alias("bin_id"), "o_totalprice"
    )
    return binned.groupBy("bin_id").agg(
        F.count("*").alias("n_rows"),
        F.min("o_totalprice").alias("bin_lo"),
        F.max("o_totalprice").alias("bin_hi"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_price"),
    )
