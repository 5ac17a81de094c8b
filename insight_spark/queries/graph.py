"""Graph analytics queries (SURVEY.md §2.M28) — PageRank over the
token-adjacency graph of the corpus.

The graph: one node per distinct token, one weighted edge per adjacent
token pair (bigram), weight = corpus occurrence count.  PageRank then
scores tokens by linkage centrality — the graph-shaped cousin of tf-idf
that exercises iterative join+agg rounds (vs the label-propagation
rounds of ``near_dup_clusters``).

The oracle unrolls three power-iteration rounds as CTEs; because all
rank arithmetic is fixed-point BIGINT (``operators/pagerank.py``), the
Spark loop and the unrolled SQL agree bit-for-bit — an exact value
check on an iterative graph algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from insight_spark.operators.pagerank import DAMP_DEN, DAMP_NUM, SCALE, pagerank
from insight_spark.operators.text import token_set_sql, tokenize, tokens_sql
from insight_spark.queries import query
from insight_spark.sources import load_table

_N_ITER = 3


def _pr_iter_sql(i: int) -> str:
    """One unrolled power-iteration round over the ew edge list."""
    return f"""
    r{i} AS (
        SELECT nodes.node,
               CAST(({DAMP_DEN - DAMP_NUM} * CAST({SCALE} AS BIGINT))
                        // ({DAMP_DEN} * nn.n)
                    + COALESCE(m.in_mass, 0) AS BIGINT) AS p
        FROM nodes CROSS JOIN nn
        LEFT JOIN (
            SELECT ew.dst AS node,
                   SUM(({DAMP_NUM} * r.p * ew.w)
                       // ({DAMP_DEN} * ew.wout)) AS in_mass
            FROM ew JOIN r{i - 1} AS r ON r.node = ew.src
            GROUP BY ew.dst
        ) AS m USING (node)
    )"""


_PAGERANK_SQL = (
    rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    pairs AS (
        SELECT l[p.i] AS src, l[p.i + 1] AS dst
        FROM toks, unnest(range(1, len(l))) AS p(i)
    ),
    edges AS (SELECT src, dst, COUNT(*) AS w FROM pairs GROUP BY 1, 2),
    outw AS (SELECT src, SUM(w) AS wout FROM edges GROUP BY 1),
    ew AS (SELECT e.src, e.dst, e.w, o.wout
           FROM edges AS e JOIN outw AS o USING (src)),
    nodes AS (SELECT DISTINCT unnest(l) AS node FROM toks),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, CAST("""
    + str(SCALE)
    + """ // nn.n AS BIGINT) AS p
           FROM nodes CROSS JOIN nn),"""
    + ",".join(_pr_iter_sql(i) for i in range(1, _N_ITER + 1))
    + f"""
    SELECT node AS token, p AS rank_scaled FROM r{_N_ITER}
    """
)


@query("pagerank_tokens", oracle=_PAGERANK_SQL)
def pagerank_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d=0.85, 3 rounds) on the bigram graph.

    Build: adjacent-pair explode via ``zip_with`` of two shifted slices
    (projection, no join), then a (src, dst) count — word-count shape.
    The iteration is join + map-side-combined agg per round over the
    |V|-row rank state; see ``operators/pagerank.py`` for the 100 TB
    posture and the fixed-point exactness contract.
    """
    docs = load_table(spark, sf_dir, "documents")
    l = tokenize(F.col("text"))
    n_pairs = F.greatest(F.size(l) - 1, F.lit(0))
    pairs = docs.select(
        F.explode(
            F.zip_with(
                F.slice(l, 1, n_pairs),
                F.slice(l, 2, n_pairs),
                lambda a, b: F.struct(a.alias("src"), b.alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    edges = pairs.groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("w")
    )
    nodes = docs.select(F.explode(l).alias("node")).distinct()
    ranks = pagerank(nodes, edges, n_iter=_N_ITER)
    return ranks.select(
        F.col("node").alias("token"), F.col("p").alias("rank_scaled")
    )


@query(
    "triangle_count",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id,
               unnest({token_set_sql('text')}) AS token
        FROM documents
    ),
    edges AS (
        SELECT a.token AS a, b.token AS b
        FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.token < b.token
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
    )
    SELECT (SELECT COUNT(*) FROM edges) AS n_edges,
           (SELECT COUNT(*)
            FROM edges e1
            JOIN edges e2 ON e2.a = e1.b
            JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
    """,
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the token co-occurrence graph (graph
    analytics): tokens are nodes, an edge joins tokens co-occurring in
    ≥3 documents, and the count of closed triples measures clustering.

    Spark-first with the degree-ordered orientation: each undirected
    edge points from its lower-(degree, id) endpoint to the higher, so
    every triangle is enumerated exactly once from its lowest-degree
    corner and the wedge join fans out by ORIENTED degree — bounded by
    sqrt(|E|) per node — instead of the raw degree of hub tokens.
    That asymmetry is what keeps the join volume survivable at 100 TB
    (the standard MapReduce triangle-counting trick); the oracle
    counts the same triangles by id-order enumeration, so the totals
    must agree while the plans differ.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokenize(F.col("text")))).alias("token"),
    )
    a = t.select(F.col("doc_id"), F.col("token").alias("a"))
    b = t.select(F.col("doc_id"), F.col("token").alias("b"))
    edges = (
        a.join(b, "doc_id")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= 3)
        .select("a", "b")
    )
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    ranked = (
        edges.join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
    )
    fwd = F.struct("da", "a") < F.struct("db", "b")
    directed = ranked.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("w"),
    )
    d1 = directed.select(F.col("u").alias("x"), F.col("w").alias("y"))
    d2 = directed.select(F.col("u").alias("y"), F.col("w").alias("z"))
    wedges = d1.join(d2, "y")
    d3 = directed.select(F.col("u").alias("x"), F.col("w").alias("z"))
    tri = wedges.join(d3, ["x", "z"], "left_semi")
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    n_tri = tri.agg(F.count("*").alias("n_triangles"))
    return n_edges.crossJoin(n_tri)


_BFS_ROUNDS = 3


def _bfs_round_sql(i: int) -> str:
    """One unrolled BFS relaxation round over the undirected edge set."""
    return f"""
    d{i} AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM d{i - 1}
            UNION ALL
            SELECT e.dst AS node, d.dist + 1 AS dist
            FROM ud e JOIN d{i - 1} d ON e.src = d.node
        ) GROUP BY node
    )"""


_BFS_SQL = (
    rf"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
    ),
    pairs AS (
        SELECT l[p.i] AS src, l[p.i + 1] AS dst
        FROM toks, unnest(range(1, len(l))) AS p(i)
        WHERE l[p.i] <> l[p.i + 1]
    ),
    edges AS (SELECT DISTINCT src, dst FROM pairs),
    ud AS (
        SELECT src, dst FROM edges
        UNION
        SELECT dst AS src, src AS dst FROM edges
    ),
    freq AS (
        SELECT unnest(l) AS token FROM toks
    ),
    seed AS (
        SELECT token FROM freq GROUP BY token
        ORDER BY COUNT(*) DESC, token LIMIT 1
    ),
    d0 AS (SELECT token AS node, 0 AS dist FROM seed),"""
    + ",".join(_bfs_round_sql(i) for i in range(1, _BFS_ROUNDS + 1))
    + f"""
    SELECT node AS token, CAST(dist AS INTEGER) AS dist
    FROM d{_BFS_ROUNDS}
    """
)


@query("bfs_distances", oracle=_BFS_SQL)
def bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first shortest-path distances (≤3 hops) from the most
    frequent token over the undirected bigram-adjacency graph — the
    third iterative graph shape next to PageRank (fixed-point mass)
    and connected components (label propagation): frontier relaxation
    with per-round min-distance aggregation.

    Each round is one edge join + min-groupBy on node id — the
    Pregel-style relaxation step.  The seed is selected IN-PLAN (1-row
    aggregate joined in), not collected driver-side.  The oracle
    unrolls the same three rounds as CTEs; distances are exact
    integers so parity is bit-level.  At 100 TB rounds shuffle on node
    id with frontier-sized (not graph-sized) join inputs.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokenize(F.col("text")).alias("l"))
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice("l", 1, F.greatest(F.size("l") - 1, F.lit(0))),
                F.slice("l", 2, F.greatest(F.size("l") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("src"), b.alias("dst")),
            )
        ).alias("p")
    ).select("p.src", "p.dst").filter(F.col("src") != F.col("dst"))
    edges = pairs.distinct()
    ud = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    freq = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    seed = freq.orderBy(F.desc("n"), "token").limit(1).select("token")
    d = seed.select(F.col("token").alias("node"), F.lit(0).alias("dist"))
    for _ in range(_BFS_ROUNDS):
        relaxed = ud.join(d, ud.src == d.node).select(
            F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        d = (
            d.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return d.select(F.col("node").alias("token"), F.col("dist").cast("int").alias("dist"))


_KCORE_K = 10
#: Edge threshold as a fraction of |docs| — scale-invariant, so the
#: graph keeps the same shape at every fixture SF.
_KCORE_FRAC = 0.64


@query(
    "k_core_peel",
    oracle=rf"""
    WITH n AS (SELECT COUNT(*) AS c FROM documents),
    t AS (
        SELECT doc_id,
               unnest({token_set_sql('text')}) AS tok
        FROM documents
    ),
    e0 AS (
        SELECT a.tok AS ta, b.tok AS tb
        FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
        CROSS JOIN n
        GROUP BY 1, 2, n.c
        HAVING COUNT(*) >= {_KCORE_FRAC} * n.c
    ),
    e AS (
        SELECT ta AS u, tb AS v FROM e0
        UNION ALL SELECT tb AS u, ta AS v FROM e0
    ),
    d0 AS (SELECT u, COUNT(*) AS deg0 FROM e GROUP BY u),
    r1 AS (SELECT u, deg0, deg0 < {_KCORE_K} AS gone1 FROM d0),
    d1 AS (
        SELECT e.u, COUNT(*) AS deg1
        FROM e
        JOIN r1 su ON su.u = e.u AND NOT su.gone1
        JOIN r1 sv ON sv.u = e.v AND NOT sv.gone1
        GROUP BY e.u
    )
    SELECT r1.u AS token,
           CAST(r1.deg0 AS BIGINT) AS deg0,
           CAST(COALESCE(d1.deg1, CASE WHEN r1.gone1 THEN -1 ELSE 0 END)
                AS BIGINT) AS deg1,
           CAST(CASE WHEN r1.gone1 THEN 1
                     WHEN COALESCE(d1.deg1, 0) < {_KCORE_K} THEN 2
                     ELSE 0 END AS INTEGER) AS peel_status
    FROM r1 LEFT JOIN d1 ON d1.u = r1.u
    """,
)
def k_core_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition, two synchronized peel rounds over the
    token co-occurrence graph — the degree-pruning primitive behind
    spam-cluster filtering and dense-community mining, and a different
    iteration shape from PageRank (value propagation) or CC (label
    propagation): each round REMOVES vertices and recomputes degrees
    among survivors.

    peel_status: 1 = degree < k in the full graph, 2 = degree dropped
    below k after round-1 removals cascaded, 0 = still in the
    (2-round) k-core.  Each round is one degree aggregate plus
    semi-join filters on the removed set — at 100 TB the removed set
    is the only state carried between rounds (the standard distributed
    k-core loop; here 2 rounds are unrolled so the DuckDB oracle
    replays the cascade exactly).  The edge threshold scales with
    |docs| so graph density is fixture-SF-invariant.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tbl = docs.agg(F.count("*").alias("c"))
    t = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokenize(F.col("text")))).alias("tok"),
    )
    a = t.select("doc_id", F.col("tok").alias("ta"))
    b = t.select(F.col("doc_id").alias("d2"), F.col("tok").alias("tb"))
    e0 = (
        a.join(b, (F.col("doc_id") == F.col("d2")) & (F.col("ta") < F.col("tb")))
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("w"))
        .crossJoin(F.broadcast(n_tbl))
        .filter(F.col("w") >= _KCORE_FRAC * F.col("c"))
        .select("ta", "tb")
    )
    e = e0.select(F.col("ta").alias("u"), F.col("tb").alias("v")).unionAll(
        e0.select(F.col("tb").alias("u"), F.col("ta").alias("v"))
    )
    d0 = e.groupBy("u").agg(F.count("*").alias("deg0"))
    r1 = d0.select("u", "deg0", (F.col("deg0") < _KCORE_K).alias("gone1"))
    keep = r1.filter(~F.col("gone1")).select("u")
    d1 = (
        e.join(keep, "u")
        .join(keep.select(F.col("u").alias("v")), "v")
        .groupBy("u")
        .agg(F.count("*").alias("deg1"))
    )
    deg1 = F.coalesce(
        F.col("deg1"),
        F.when(F.col("gone1"), F.lit(-1)).otherwise(F.lit(0)),
    ).cast("long")
    status = (
        F.when(F.col("gone1"), 1)
        .when(F.coalesce(F.col("deg1"), F.lit(0)) < _KCORE_K, 2)
        .otherwise(0)
        .cast("int")
    )
    return (
        r1.join(d1, "u", "left")
        .select(
            F.col("u").alias("token"),
            F.col("deg0").cast("long").alias("deg0"),
            deg1.alias("deg1"),
            status.alias("peel_status"),
        )
    )


@query(
    "label_propagation",
    oracle=rf"""
    WITH n AS (SELECT COUNT(*) AS c FROM documents),
    t AS (
        SELECT doc_id,
               unnest({token_set_sql('text')}) AS tok
        FROM documents
    ),
    e0 AS (
        SELECT a.tok AS ta, b.tok AS tb
        FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
        CROSS JOIN n
        GROUP BY 1, 2, n.c
        HAVING COUNT(*) >= {_KCORE_FRAC} * n.c
    ),
    e AS (
        SELECT ta AS u, tb AS v FROM e0
        UNION ALL SELECT tb AS u, ta AS v FROM e0
    ),
    l0 AS (SELECT DISTINCT u, u AS lbl FROM e),
    n1 AS (
        SELECT e.u, l.lbl, COUNT(*) AS cnt
        FROM e JOIN l0 l ON l.u = e.v
        GROUP BY e.u, l.lbl
    ),
    l1 AS (
        SELECT u, lbl FROM (
            SELECT u, lbl, ROW_NUMBER() OVER (
                PARTITION BY u ORDER BY cnt DESC, lbl) AS rn
            FROM n1) WHERE rn = 1
    ),
    n2 AS (
        SELECT e.u, l.lbl, COUNT(*) AS cnt
        FROM e JOIN l1 l ON l.u = e.v
        GROUP BY e.u, l.lbl
    ),
    l2 AS (
        SELECT u, lbl FROM (
            SELECT u, lbl, ROW_NUMBER() OVER (
                PARTITION BY u ORDER BY cnt DESC, lbl) AS rn
            FROM n2) WHERE rn = 1
    )
    SELECT u AS token, lbl AS community FROM l2
    """,
)
def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation community detection (M94), two synchronous
    rounds over the token co-occurrence graph — the fourth distinct
    iteration shape in the graph family: MODE propagation (each vertex
    adopts its neighbors' most frequent label, ties to the
    lexicographic minimum), vs CC's min propagation, PageRank's value
    propagation, and k-core's vertex removal.  Communities of
    co-occurring vocabulary are the spam-template / boilerplate-cluster
    signal corpus curation uses one level above near-dup clusters.

    Each round is one (edges ⋈ labels) join + a (vertex, label) count
    + one per-vertex arg-max window — all shuffles on the vertex id the
    previous round already used.  Synchronous rounds (not Spark-GraphX
    async) keep the result deterministic and let the DuckDB oracle
    replay both rounds exactly; the deterministic tie-break makes the
    label table value-checkable, which async LPA fundamentally isn't.
    At 100 TB: label state is |V| rows, the join volume is |E| per
    round, and round count is the usual LPA handful.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tbl = docs.agg(F.count("*").alias("c"))
    t = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokenize(F.col("text")))).alias("tok"),
    )
    a = t.select("doc_id", F.col("tok").alias("ta"))
    b = t.select(F.col("doc_id").alias("d2"), F.col("tok").alias("tb"))
    e0 = (
        a.join(b, (F.col("doc_id") == F.col("d2")) & (F.col("ta") < F.col("tb")))
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("w"))
        .crossJoin(F.broadcast(n_tbl))
        .filter(F.col("w") >= _KCORE_FRAC * F.col("c"))
        .select("ta", "tb")
    )
    e = e0.select(F.col("ta").alias("u"), F.col("tb").alias("v")).unionAll(
        e0.select(F.col("tb").alias("u"), F.col("ta").alias("v"))
    )
    labels = e.select("u").distinct().withColumn("lbl", F.col("u"))
    w = Window.partitionBy("u").orderBy(F.desc("cnt"), F.asc("lbl"))
    for _ in range(2):
        votes = (
            e.join(
                labels.select(F.col("u").alias("v"), "lbl"), "v"
            )
            .groupBy("u", "lbl")
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("u", "lbl")
        )
    return labels.select(
        F.col("u").alias("token"), F.col("lbl").alias("community")
    )


@query(
    "degree_assortativity",
    oracle=rf"""
    WITH toks AS (
        SELECT {tokens_sql('text')} AS l
        FROM documents
    ),
    bi AS (
        SELECT least(l[i], l[i + 1]) AS a, greatest(l[i], l[i + 1]) AS b
        FROM toks, unnest(range(1, len(l))) u(i)
        WHERE l[i] <> l[i + 1]
    ),
    edges AS (SELECT a, b FROM bi GROUP BY a, b),
    deg AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT a AS token FROM edges
              UNION ALL SELECT b AS token FROM edges)
        GROUP BY token
    ),
    de AS (
        SELECT da.d AS dx, db.d AS dy
        FROM edges e
        JOIN deg da ON da.token = e.a
        JOIN deg db ON db.token = e.b
    ),
    m AS (
        SELECT CAST(2 * COUNT(*) AS HUGEINT) AS mm,
               CAST(SUM(dx + dy) AS HUGEINT) AS sx,
               CAST(2 * SUM(dx * dy) AS HUGEINT) AS sxy,
               CAST(SUM(dx * dx + dy * dy) AS HUGEINT) AS sxx,
               CAST(COUNT(*) AS BIGINT) AS n_edges
        FROM de
    )
    SELECT n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           CASE WHEN mm * sxx - sx * sx = 0 THEN 0.0
                ELSE CAST(mm * sxy - sx * sx AS DOUBLE)
                     / CAST(mm * sxx - sx * sx AS DOUBLE)
           END AS assortativity
    FROM m
    """,
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the token ADJACENCY (bigram) graph
    (M275): the Pearson correlation of endpoint degrees over all
    directed edge pairs (Newman 2002, public) — do hubs link to hubs
    (r>0, social-network shape) or to leaves (r<0, hub-and-spoke
    shape)?  Read alongside `triangle_count`/`k_core_peel` when
    deciding graph partitioning: disassortative hub-spoke graphs are
    the ones whose hubs need degree-based salting.  Same bigram edge
    rule as `pagerank_tokens`, so the two audit the same graph (the
    fixture's ≥3-co-occurrence graph is COMPLETE — every degree
    equal, assortativity undefined — which is itself why the audit
    belongs on the adjacency graph).

    Exactness: degrees are exact integer counts; both edge
    orientations folded in CLOSED FORM from one pass (M=2E,
    Σ(dx+dy), 2Σdx·dy, Σ(dx²+dy²) — no union, no double counting
    drift); all moments HUGEINT/DECIMAL (Σd² terms pass int64 only
    until vocab-scale hubs); r is ONE division of exact integers —
    bit-identical doubles.

    Scale: bigram pairs are a map-side array zip (no positional
    self-join); the edge distinct is the word-count shuffle on
    vocabulary-bounded keys; the degree table is vocabulary-bounded →
    broadcast to both endpoint joins, so the edge list never
    shuffles; one 1-row reduce.
    """
    docs = load_table(spark, sf_dir, "documents")
    l = tokenize(F.col("text"))
    n1 = F.greatest(F.size(l) - 1, F.lit(0))
    pair = F.zip_with(
        F.slice(l, 1, n1),
        F.slice(l, 2, n1),
        lambda x, y: F.struct(
            F.least(x, y).alias("a"), F.greatest(x, y).alias("b")
        ),
    )
    edges = (
        docs.select(F.explode(pair).alias("p"))
        .filter(F.col("p.a") != F.col("p.b"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )
    deg = (
        edges.select(F.col("a").alias("token"))
        .unionAll(edges.select(F.col("b").alias("token")))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("d"))
    )
    de = (
        edges.join(
            F.broadcast(deg.select(F.col("token").alias("a"),
                                   F.col("d").alias("dx"))),
            "a",
        )
        .join(
            F.broadcast(deg.select(F.col("token").alias("b"),
                                   F.col("d").alias("dy"))),
            "b",
        )
        .select("dx", "dy")
    )
    dec = "decimal(38,0)"
    m = de.agg(
        (F.count("*") * 2).cast(dec).alias("mm"),
        F.sum(F.col("dx") + F.col("dy")).cast(dec).alias("sx"),
        (F.sum(F.col("dx").cast(dec) * F.col("dy")) * 2).alias("sxy"),
        F.sum(
            F.col("dx").cast(dec) * F.col("dx")
            + F.col("dy").cast(dec) * F.col("dy")
        ).alias("sxx"),
        F.count("*").cast("long").alias("n_edges"),
    )
    n_nodes = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    num = F.col("mm") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("mm") * F.col("sxx") - F.col("sx") * F.col("sx")
    # REGULAR graph (every degree equal — the sf0.1 fixture saturates
    # the 31-token bigram graph to complete): degree variance is 0 and
    # r is undefined; the documented convention is r = 0 (no degree
    # preference is expressible when there is no degree variation).
    assort = F.when(den == 0, F.lit(0.0)).otherwise(
        num.cast("double") / den.cast("double")
    )
    return m.crossJoin(F.broadcast(n_nodes)).select(
        "n_edges",
        "n_nodes",
        assort.alias("assortativity"),
    )


@query(
    "edge_support_truss",
    oracle=rf"""
    WITH toks AS (
        SELECT {tokens_sql('text')} AS l
        FROM documents
    ),
    bi AS (
        SELECT least(l[i], l[i+1]) AS a, greatest(l[i], l[i+1]) AS b
        FROM toks, unnest(range(1, len(l))) u(i)
        WHERE l[i] <> l[i+1]
    ),
    edges AS (SELECT a, b FROM bi GROUP BY a, b),
    wedges AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM edges e1 JOIN edges e2 ON e2.a = e1.b
    ),
    tri AS (
        SELECT w.x, w.y, w.z
        FROM wedges w JOIN edges e ON e.a = w.x AND e.b = w.z
    ),
    support AS (
        SELECT a, b, CAST(SUM(c) AS BIGINT) AS sup
        FROM (
            SELECT x AS a, y AS b, 1 AS c FROM tri
            UNION ALL SELECT y, z, 1 FROM tri
            UNION ALL SELECT x, z, 1 FROM tri
        ) GROUP BY a, b
    ),
    full_sup AS (
        SELECT e.a, e.b, CAST(COALESCE(s.sup, 0) AS BIGINT) AS sup
        FROM edges e LEFT JOIN support s ON s.a = e.a AND s.b = e.b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(count_if(sup = 0) AS BIGINT) AS support_0,
           CAST(count_if(sup = 1) AS BIGINT) AS support_1,
           CAST(count_if(sup >= 2) AS BIGINT) AS support_2plus,
           CAST(MAX(sup) AS BIGINT) AS max_support
    FROM full_sup
    """,
)
def edge_support_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge triangle-support census (M330): for every edge of the
    bigram adjacency graph, how many triangles contain it — the
    k-truss preprocessing number (Cohen 2008, public): edges with
    support 0 are locally tree-like connectors the truss filter
    strips before community detection, while `triangle_count` (same
    graph) reports only the global total.  Support is also the
    edge-level signal `near_dup_clusters`-style community cleanups
    threshold on.

    Exactness: triangles enumerated once from the ordered edge list
    (a<b, the `triangle_count` orientation), each crediting its
    three edges exactly once; all counts exact integers.

    Scale: the wedge join fans out by oriented degree (bounded by
    the same argument as M28's triangle count); the per-edge credit
    union is map-side; support keys are vocabulary-bounded edges.
    """
    docs = load_table(spark, sf_dir, "documents")
    l = tokenize(F.col("text"))
    n1 = F.greatest(F.size(l) - 1, F.lit(0))
    pair = F.zip_with(
        F.slice(l, 1, n1),
        F.slice(l, 2, n1),
        lambda x, y: F.struct(
            F.least(x, y).alias("a"), F.greatest(x, y).alias("b")
        ),
    )
    edges = (
        docs.select(F.explode(pair).alias("p"))
        .filter(F.col("p.a") != F.col("p.b"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y")
    closing = edges.select(
        F.col("a").alias("x"), F.col("b").alias("z")
    )
    tri = wedges.join(closing, ["x", "z"])
    credit = (
        tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
        .unionAll(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
        .unionAll(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("sup"))
    )
    full = edges.join(credit, ["a", "b"], "left").select(
        F.coalesce(F.col("sup"), F.lit(0)).cast("long").alias("sup")
    )
    return full.agg(
        F.count("*").cast("long").alias("n_edges"),
        F.count_if(F.col("sup") == 0).cast("long").alias("support_0"),
        F.count_if(F.col("sup") == 1).cast("long").alias("support_1"),
        F.count_if(F.col("sup") >= 2).cast("long").alias("support_2plus"),
        F.max("sup").cast("long").alias("max_support"),
    )
