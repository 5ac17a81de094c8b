"""Property-based tests (SURVEY.md §5.3.3) — algebraic invariants that
need no oracle.

Hypothesis generates small in-memory tables; each property is checked
over ~10 examples (Spark round-trips dominate, so examples are few but
adversarial: nulls, empties, duplicates, extreme values come from
hypothesis shrinking).
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from insight_spark.operators.dedup import exact_dedup, jaccard
from insight_spark.operators.similarity import cosine, l2_norm
from insight_spark.sources import load_table

SF = "/root/testdata/sf0.001"

PROP = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

ints = st.lists(st.integers(-1000, 1000), min_size=0, max_size=30)
vecs = st.lists(
    st.floats(-10, 10, allow_nan=False, width=32), min_size=2, max_size=8
)


@PROP
@given(xs=ints, threshold=st.integers(-1000, 1000))
def test_filter_subset_of_scan(spark, xs, threshold):
    df = spark.createDataFrame([(x,) for x in xs], "x int")
    filtered = df.filter(F.col("x") > threshold)
    assert filtered.count() <= df.count()
    vals = {r["x"] for r in filtered.collect()}
    assert vals <= set(xs)
    assert all(v > threshold for v in vals)


@PROP
@given(a=ints, b=ints)
def test_union_counts_add(spark, a, b):
    da = spark.createDataFrame([(x,) for x in a], "x int")
    db = spark.createDataFrame([(x,) for x in b], "x int")
    assert da.unionAll(db).count() == len(a) + len(b)


@PROP
@given(xs=ints, k=st.integers(1, 10))
def test_topk_nested(spark, xs, k):
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x int")
    ordered = df.orderBy(F.desc("x"), F.asc("i"))
    small = [(r["i"], r["x"]) for r in ordered.limit(k).collect()]
    big = [(r["i"], r["x"]) for r in ordered.limit(k + 1).collect()]
    assert set(small) <= set(big)


@PROP
@given(xs=st.lists(st.text(st.characters(categories=("Ll",)), max_size=5), max_size=20))
def test_dedup_idempotent(spark, xs):
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "doc_id int, text string"
    )
    once = exact_dedup(df, "text", "doc_id")
    # dedup of the survivors changes nothing
    survivors = df.join(
        once.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    )
    twice = exact_dedup(survivors, "text", "doc_id")
    assert once.count() == twice.count()
    assert {r["content_sha256"] for r in once.collect()} == {
        r["content_sha256"] for r in twice.collect()
    }


@PROP
@given(v=vecs)
def test_cosine_self_is_one(spark, v):
    df = spark.createDataFrame([(v,)], "v array<float>")
    row = df.select(
        cosine(F.col("v"), F.col("v")).alias("c"), l2_norm(F.col("v")).alias("n")
    ).first()
    if row["n"] == 0.0:
        assert row["c"] == 0.0  # zero-vector guard
    else:
        assert math.isclose(row["c"], 1.0, abs_tol=1e-6)


@PROP
@given(a=st.lists(st.text(st.characters(categories=("Ll",)), min_size=1, max_size=4), max_size=10),
       b=st.lists(st.text(st.characters(categories=("Ll",)), min_size=1, max_size=4), max_size=10))
def test_jaccard_symmetric_bounded(spark, a, b):
    df = spark.createDataFrame([(a, b)], "a array<string>, b array<string>")
    row = df.select(
        jaccard(F.col("a"), F.col("b")).alias("ab"),
        jaccard(F.col("b"), F.col("a")).alias("ba"),
    ).first()
    assert math.isclose(row["ab"], row["ba"], abs_tol=1e-12)
    assert 0.0 <= row["ab"] <= 1.0


def test_hll_within_error_bound(spark):
    """D6 sketch property (SURVEY §7.4.6): HLL within 5% of exact."""
    ev = load_table(spark, SF, "events")
    row = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", 0.02).alias("approx"),
    ).first()
    assert abs(row["approx"] - row["exact"]) <= max(1, 0.05 * row["exact"])


@pytest.mark.parametrize("frac", [0.0, 0.3, 1.0])
def test_sample_bounds_and_determinism(spark, frac):
    """B10: seeded sampling is deterministic and a subset of the input.

    NB: fraction must be passed by keyword — ``df.sample(0.3, seed=7)``
    hits the (withReplacement, fraction) overload and silently drops the
    seed (nondeterministic!).
    """
    ev = load_table(spark, SF, "events").select("event_id")
    s1 = {r["event_id"] for r in ev.sample(fraction=frac, seed=7).collect()}
    s2 = {r["event_id"] for r in ev.sample(fraction=frac, seed=7).collect()}
    assert s1 == s2
    all_ids = {r["event_id"] for r in ev.collect()}
    assert s1 <= all_ids
    if frac == 0.0:
        assert not s1
    if frac == 1.0:
        assert s1 == all_ids


def test_sessionize_invariant_under_intra_session_shuffle(spark):
    """SURVEY §5.3.3: permuting event arrival order (the window sorts by
    ts anyway) must not change session boundaries."""
    from insight_spark.operators.windows import sessionize

    rows = [
        (1, 100, "2024-01-01 10:00:00"),
        (2, 100, "2024-01-01 10:10:00"),
        (3, 100, "2024-01-01 10:20:00"),
        (4, 100, "2024-01-01 12:00:00"),
        (5, 200, "2024-01-01 10:05:00"),
        (6, 200, "2024-01-01 11:30:00"),
    ]
    import random

    shuffled = rows[:]
    random.Random(3).shuffle(shuffled)

    def sessions(data):
        df = spark.createDataFrame(
            [(e, u, t) for e, u, t in data], "event_id long, user_id long, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = sessionize(df, key="user_id", ts="ts", gap_seconds=1800, tie="event_id")
        return sorted(
            (r["user_id"], r["event_id"], r["session_id"]) for r in out.collect()
        )

    assert sessions(rows) == sessions(shuffled)


def test_lsh_recall_monotone_in_tables(spark):
    """Multi-table LSH: adding tables can only ADD candidates, so
    top-5 recall vs exact must be non-decreasing in n_tables."""
    from pyspark.sql import functions as F

    from insight_spark.operators.similarity import (
        knn_topk,
        lsh_bucket_join,
        lsh_plane_signs,
    )
    from insight_spark.sources import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_vec_id"), F.col("embedding").alias("c_embedding")
    )
    exact = {
        (r["q_vec_id"], r["c_vec_id"])
        for r in knn_topk(queries, corpus, k=5).collect()
    }
    # table t's planes do not depend on the table count, so the L-table
    # sign tensors are nested: lsh_plane_signs(L, ...) == signs[:L]
    signs = lsh_plane_signs(8, 4, 64)
    recalls = []
    for L in (1, 4, 8):
        approx = {
            (r["q_vec_id"], r["c_vec_id"])
            for r in lsh_bucket_join(
                queries, corpus, k=5, plane_signs=signs[:L]
            ).collect()
        }
        recalls.append(len(exact & approx) / len(exact))
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"


def test_ks_statistic_bounds(spark):
    """KS statistic is a sup of |CDF difference|: always in [0, 1],
    and identical samples give exactly 0."""
    from insight_spark.queries import all_queries
    from tests.conftest import SF_DIR

    [row] = all_queries()["ks_distribution_shift"](spark, SF_DIR).collect()
    assert 0.0 <= row["ks_stat"] <= 1.0


def test_sequential_packing_invariants(spark):
    """Offset packing: bins are contiguous per source starting at 0,
    and every bin's token load stays under budget + max_doc (a doc
    straddling the boundary is the only overflow source)."""
    from pyspark.sql import functions as F

    from insight_spark.queries import all_queries
    from tests.conftest import SF_DIR

    df = all_queries()["pack_sequential_bins"](spark, SF_DIR)
    per_bin = (
        df.groupBy("source", "bin_id")
        .agg(F.sum("n_tokens").alias("load"), F.max("n_tokens").alias("mx"))
        .collect()
    )
    assert per_bin, "no bins produced"
    for r in per_bin:
        assert r["load"] <= 2048 + r["mx"], f"bin overflow: {r}"
    bins_by_source = {}
    for r in per_bin:
        bins_by_source.setdefault(r["source"], set()).add(r["bin_id"])
    for src, bins in bins_by_source.items():
        assert bins == set(range(len(bins))), f"{src}: non-contiguous {sorted(bins)}"


def test_weighted_percentile_within_group_range(spark):
    """The weighted percentile is an order statistic: it must be an
    actual value between the group min and max, and wp50 <= wp90."""
    from pyspark.sql import functions as F

    from insight_spark.queries import all_queries
    from insight_spark.sources import load_table
    from tests.conftest import SF_DIR

    wp = {
        r["l_returnflag"]: r
        for r in all_queries()["weighted_percentile"](spark, SF_DIR).collect()
    }
    rng = {
        r["l_returnflag"]: r
        for r in load_table(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi"))
        .collect()
    }
    for flag, r in wp.items():
        assert rng[flag]["lo"] <= r["wp50"] <= r["wp90"] <= rng[flag]["hi"]


def test_histogram_quantile_brackets_exact(spark):
    """The histogram estimate must sit within one bucket width of the
    exact quantile (the sketch's error bound)."""
    from pyspark.sql import functions as F

    from insight_spark.queries import all_queries
    from insight_spark.sources import load_table
    from tests.conftest import SF_DIR

    est = {
        float(r["q"]): r["est"]
        for r in all_queries()["histogram_quantile"](spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    [stats] = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    ).collect()
    width = (stats["hi"] - stats["lo"]) / 256.0
    for qv in (0.25, 0.5, 0.9, 0.99):
        [row] = ev.agg(F.percentile("value", F.lit(qv)).alias("x")).collect()
        assert abs(est[qv] - row["x"]) <= width + 1e-9, (
            f"q={qv}: est {est[qv]} vs exact {row['x']} (width {width})"
        )


def test_near_dedup_keep_all_verdicts(spark, sf_dir):
    """keep_all returns every LSH candidate with an is_dup verdict; the
    filtered default is exactly the is_dup=true slice."""
    from insight_spark.operators.dedup import near_dedup_minhash
    from insight_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    kept = near_dedup_minhash(docs, threshold=0.5)
    audited = near_dedup_minhash(docs, threshold=0.5, keep_all=True)
    assert set(audited.columns) == {"a_id", "b_id", "jaccard_sim", "is_dup"}
    a = {(r.a_id, r.b_id, r.jaccard_sim) for r in kept.collect()}
    b = {
        (r.a_id, r.b_id, r.jaccard_sim)
        for r in audited.filter("is_dup").collect()
    }
    assert a == b
    # verdict consistency: is_dup == (jaccard_sim >= threshold) on all rows
    bad = audited.filter(
        (F.col("jaccard_sim") >= 0.5) != F.col("is_dup")
    ).count()
    assert bad == 0


def test_md5_family_signature_matches_hashlib(spark):
    """Each of the 8 chunked-md5-family signature elements must equal
    the true minimum min_g(chunk_i(md5(g) || md5('#' + g))) — computed
    independently with hashlib (chunk_i = 8 hex chars at offset 8*i).
    Regression pin for the F.transform arity trap: a two-parameter
    lambda (``lambda g, i=i``) is silently called as the
    (element, index) form, replacing the closure arg with the array
    index and collapsing the hash family (lineage-dependent
    signatures, broken LSH recall)."""
    import hashlib

    from insight_spark.operators.dedup import _md5_shingle_bands

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 20)
    sh, bands = _md5_shingle_bands(docs)
    shingles = {r["_id"]: list(r["_sh"]) for r in sh.collect()}
    got_bands = {}
    for r in bands.collect():
        got_bands.setdefault(r["_id"], {})[r["_band"]] = r["_bkey"]
    assert shingles, "fixture slice must be non-empty"

    def digest(g: str) -> str:
        return (
            hashlib.md5(g.encode()).hexdigest()
            + hashlib.md5(f"#{g}".encode()).hexdigest()
        )

    for _id, grams in shingles.items():
        h = [
            min(digest(g)[8 * i : 8 * i + 8] for g in grams)
            for i in range(8)
        ]
        want = {b: f"{h[2 * b]}|{h[2 * b + 1]}" for b in range(4)}
        assert got_bands[_id] == want, f"doc {_id} signature drifted"


def test_md5_band_keys_match_duckdb_ctes(spark):
    """Every ``(_id, _band, _bkey)`` bucket of ``_md5_shingle_bands``
    equals its ``md5_band_ctes`` DuckDB replay row for row — the bucket
    keys themselves, which the band-cardinality oracle only sees as
    per-band totals."""
    from insight_spark.operators.dedup import _md5_shingle_bands, md5_band_ctes
    from tests.oracle_harness import duckdb_connection

    _sh, bands = _md5_shingle_bands(load_table(spark, SF, "documents"))
    got = sorted(tuple(r) for r in bands.select("_id", "_band", "_bkey").collect())
    con = duckdb_connection(SF)
    try:
        want = sorted(
            con.execute(
                f"WITH {md5_band_ctes('documents')} "
                "SELECT doc_id, band, bkey FROM bands"
            ).fetchall()
        )
    finally:
        con.close()
    assert got, "fixture must band at least one document"
    assert got == want


def test_tokenizer_matches_its_duckdb_spelling(spark):
    """``tokenize``, the oracles' ``tokens_sql`` and the Python UDTF
    tokenizer split whitespace edge cases alike.  Java's ``\\s`` holds
    the vertical tab and RE2's does not, so a bare ``\\s+`` split
    ``'a\\x0bb'`` in two on Spark only; Python's ``str.split()`` also
    splits on NBSP."""
    import duckdb

    from insight_spark.operators.text import tokenize, tokens_sql
    from insight_spark.queries.misc import _tokenize_udtf

    texts = [
        "a\x0bb", "a\tb", " a  b ", "a\r\nb", "a\fb", "a\xa0b", "a b", "", None,
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    got = [
        r["t"]
        for r in df.orderBy("i").select(tokenize(F.col("text")).alias("t")).collect()
    ]
    con = duckdb.connect()
    try:
        sql = f"SELECT {tokens_sql('text')} FROM (SELECT CAST(? AS VARCHAR) AS text)"
        want = [con.execute(sql, [t]).fetchone()[0] for t in texts]
    finally:
        con.close()
    assert got == want
    spark.udtf.register("tokenize_udtf", _tokenize_udtf())
    df.createOrReplaceTempView("ws_texts")
    by_text: dict[int, list[str]] = {}
    for r in spark.sql(
        "SELECT i, t.idx, t.token FROM"
        " (SELECT i, text FROM ws_texts WHERE text IS NOT NULL) d,"
        " LATERAL tokenize_udtf(text) t"
    ).collect():
        by_text.setdefault(r["i"], []).append((r["idx"], r["token"]))
    udtf = [[tok for _, tok in sorted(by_text.get(i, []))] for i in range(len(texts))]
    assert udtf[:-1] == want[:-1]  # the NULL text is last and emits no rows


def test_line_dedup_ratio_bounds(spark, sf_dir):
    from insight_spark.queries import all_queries

    df = all_queries()["line_dedup_stats"](spark, sf_dir)
    bad = df.filter(
        (F.col("n_boiler") > F.col("n_lines"))
        | (F.col("boiler_ratio") < 0)
        | (F.col("boiler_ratio") > 1)
        | (F.col("n_lines") <= 0)
    ).count()
    assert bad == 0


@pytest.mark.parametrize(
    "name", ["line_dedup_stats", "retriever_agreement_audit"]
)
def test_line_dedup_skips_empty_docs(spark, tmp_path, name):
    """A whitespace-only document tokenizes to an empty array; the
    descending F.sequence(1, 0) would emit two spurious empty 'lines'
    (ADVICE r4).  The empty-doc filter must drop it on BOTH engines —
    oracle parity on a fixture that actually contains one.

    The same 3-doc fixture holds neither of ``retriever_agreement_audit``'s
    query terms, so both rankers return no doc and its agreement ratio
    divides 0 by 0: NULL on both engines, not an ANSI error."""
    import os

    import pandas as pd

    from insight_spark.queries import all_queries, all_oracle_sql
    from tests.oracle_harness import compare_query

    tmp = str(tmp_path / "sf_empty")
    os.makedirs(tmp)
    for t in os.listdir("/root/testdata/sf0.001"):
        if t != "documents.parquet":
            os.symlink(f"/root/testdata/sf0.001/{t}", os.path.join(tmp, t))
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["a b c d e f", "   ", "x y z"],
            "source": ["s", "s", "s"],
            "lang": ["en", "en", "en"],
        }
    ).to_parquet(os.path.join(tmp, "documents.parquet"))
    df = all_queries()[name](spark, tmp)
    rep = compare_query(df, all_oracle_sql()[name], tmp)
    assert rep["ok"], rep
    if name == "line_dedup_stats":
        assert {r["doc_id"] for r in df.collect()} == {1, 3}


def test_delta_index_merge_read_absent_term(spark, tmp_path):
    """A lookup of a term no document holds is the oracle's one global
    row (df = 0, NULL id range) on both engines, not zero groups.  The
    fixture is the sf0.01 tables with every ``join`` in the corpus
    respelled."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from insight_spark.queries import all_oracle_sql, all_queries
    from tests.conftest import SF_DIR_T2
    from tests.oracle_harness import compare_query

    tmp = str(tmp_path / "sf_nojoin")
    os.makedirs(tmp)
    for t in os.listdir(SF_DIR_T2):
        if t != "documents.parquet":
            os.symlink(os.path.join(SF_DIR_T2, t), os.path.join(tmp, t))
    docs = pq.read_table(os.path.join(SF_DIR_T2, "documents.parquet"))
    text = pc.replace_substring(docs["text"], "join", "jion")
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", text)
    pq.write_table(docs, os.path.join(tmp, "documents.parquet"))
    name = "delta_index_merge_read"
    df = all_queries()[name](spark, tmp)
    rep = compare_query(df, all_oracle_sql()[name], tmp)
    assert rep["ok"], rep
    assert [tuple(r) for r in df.collect()] == [("join", 0, None, None, None)]


def test_jl_norm_ratio_concentrates(spark, sf_dir):
    """JL lemma in action: the norm ratio must concentrate near 1 —
    mean within [0.7, 1.3] and every value positive."""
    from insight_spark.queries import all_queries

    df = all_queries()["random_projection_jl"](spark, sf_dir)
    row = df.agg(
        F.avg("norm_ratio").alias("m"), F.min("norm_ratio").alias("lo")
    ).collect()[0]
    assert row["lo"] > 0
    assert 0.7 < row["m"] < 1.3, row["m"]


def test_twap_within_value_range(spark, sf_dir):
    """A time-weighted average cannot leave the per-user value hull."""
    from insight_spark.queries import all_queries
    from insight_spark.sources import load_table

    twap = all_queries()["twap_user_value"](spark, sf_dir)
    hull = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    )
    bad = (
        twap.join(hull, "user_id")
        .filter(
            (F.col("twap") < F.col("lo") - 1e-6)
            | (F.col("twap") > F.col("hi") + 1e-6)
        )
        .count()
    )
    assert bad == 0


def test_semantic_dedup_verdict_consistency(spark, sf_dir):
    """is_dup must equal (max_sim_lower >= tau); n_lower counts the
    lower-id clustermates, so per cell they must be 0..n-1 exactly."""
    from insight_spark.queries import all_queries
    from insight_spark.queries.corpus_clean import _SEMDEDUP_TAU

    df = all_queries()["semantic_dedup"](spark, sf_dir).cache()
    bad = df.filter(
        ((F.col("max_sim_lower") >= _SEMDEDUP_TAU) != (F.col("is_dup") == 1))
    ).count()
    assert bad == 0
    per_cell = (
        df.groupBy("cell_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_lower").alias("s"),
        )
        .filter(F.col("s") != F.col("n") * (F.col("n") - 1) / 2)
        .count()
    )
    assert per_cell == 0
    df.unpersist()


def test_logreg_accuracy_and_dims(spark, sf_dir):
    from insight_spark.queries import all_queries

    rows = all_queries()["logreg_gd_train"](spark, sf_dir).collect()
    assert len(rows) == 8
    assert {r["dim"] for r in rows} == set(range(8))
    r0 = rows[0]
    assert 0 <= r0["n_correct"] <= r0["n_total"]


def test_kcore_peel_monotone(spark, sf_dir):
    """Survivor degrees can only shrink (deg1 <= deg0), peeled-in-round-1
    nodes carry deg1 = -1, and status 0 nodes must still clear k."""
    from insight_spark.queries import all_queries
    from insight_spark.queries.graph import _KCORE_K

    df = all_queries()["k_core_peel"](spark, sf_dir).cache()
    assert df.filter(F.col("deg1") > F.col("deg0")).count() == 0
    assert df.filter(
        (F.col("peel_status") == 1) & (F.col("deg1") != -1)
    ).count() == 0
    assert df.filter(
        (F.col("peel_status") == 0) & (F.col("deg1") < _KCORE_K)
    ).count() == 0
    df.unpersist()


def test_point_in_time_never_leaks_future(spark, sf_dir):
    """No click may be matched to a purchase version that starts after
    the click — the exact leakage this operator exists to prevent."""
    from insight_spark.queries import all_queries
    from insight_spark.sources import load_table

    pit = all_queries()["point_in_time_join"](spark, sf_dir)
    clicks = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("event_id", F.col("ts").alias("click_ts"))
    )
    bad = (
        pit.filter(F.col("feat_version").isNotNull())
        .join(clicks, "event_id")
        .filter(F.col("feat_version") > F.col("click_ts"))
        .count()
    )
    assert bad == 0


def test_sparse_cosine_rank_contract(spark, sf_dir):
    """Exactly <=5 neighbors per query doc, ranks 1..k dense, cosine
    within [-1, 1] and non-increasing along ranks."""
    from insight_spark.queries import all_queries

    rows = all_queries()["sparse_cosine_topk"](spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_doc"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert all(-1.000001 <= r["cos_sim"] <= 1.000001 for r in rs)
        sims = [r["cos_sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_attribution_conserves_purchase_totals(spark, sf_dir):
    """Linear attribution must conserve value exactly: summed attributed
    revenue equals the summed value of every purchase that has >=1
    click touch in its 72 h window (the largest-remainder split's whole
    point)."""
    from insight_spark.queries import all_queries

    out = all_queries()["attribution_linear_touch"](spark, sf_dir)
    got = out.agg(F.sum("attributed_revenue")).first()[0]

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        F.floor(F.col("value") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("v_micro"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    touched = p.join(
        c,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") > F.col("pts") - F.expr("INTERVAL 72 HOURS")),
        "left_semi",
    )
    want = touched.agg(F.sum("v_micro")).first()[0] / 1e6
    # per-hour outputs are rounded to 6dp, so the sum drifts < 1e-5
    assert got is not None and abs(got - want) < 1e-4


def test_hybrid_rrf_rank_contract(spark, sf_dir):
    """Fused top-10: ranks within [0, 20], at least one leg present per
    row, scores consistent with the reported ranks and non-increasing."""
    from insight_spark.queries import all_queries

    rows = all_queries()["hybrid_search_rrf"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert 0 <= r["text_rank"] <= 20 and 0 <= r["vec_rank"] <= 20
        assert r["text_rank"] > 0 or r["vec_rank"] > 0
        want = (1.0 / (60 + r["text_rank"]) if r["text_rank"] else 0.0) + (
            1.0 / (60 + r["vec_rank"]) if r["vec_rank"] else 0.0
        )
        assert abs(r["rrf_score"] - want) < 1e-9


def _greedy_merge_reference(symbols, left, right):
    """Textbook single greedy left-to-right BPE merge pass."""
    out, i = [], 0
    while i < len(symbols):
        if (
            i + 1 < len(symbols)
            and symbols[i] == left
            and symbols[i + 1] == right
        ):
            out.append(left + right)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


@PROP
@given(
    st.lists(st.sampled_from(["a", "b", "c", "ab", "bc"]), min_size=0, max_size=12),
    st.sampled_from([("a", "a"), ("a", "b"), ("b", "c"), ("ab", "c"), ("c", "ab")]),
)
def test_bpe_double_separator_replace_equals_greedy(symbols, pair):
    """The langtok BPE trick — double-separated symbol strings where one
    plain str.replace of '|l||r|' -> '|lr|' IS the greedy left-to-right
    merge pass — must agree with the textbook loop on adversarial
    sequences (overlaps like a,a,a; symbols that are concatenations of
    others like 'ab' next to 'c')."""
    left, right = pair
    s = "||" + "||".join(symbols) + "||" if symbols else "||"
    merged = s.replace(
        "|" + left + "||" + right + "|", "|" + left + right + "|"
    )
    got = [x for x in merged.split("||") if x]
    want = _greedy_merge_reference(symbols, left, right)
    assert got == want, (symbols, pair, got, want)
