"""Property pins for the round-7 operators.

These cover the invariants the driver hash can't see: the generalized
md5 digest family staying in sync at NON-default n_hashes (the r6
advice finding that motivated _md5_digest_concat_sql), quantization
error bounds, MMR selection laws, DP noise bounds, and
exact-substring removal accounting.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tests.oracle_harness import canonical_rows, duckdb_connection


def test_md5_digest_family_n16_oracle_parity(spark):
    """The r6 advice defect class: with n_hashes=16 the Spark side
    computes 4 digests per gram while a hardcoded 2-digest oracle
    would read empty substr chunks past char 64 and silently desync.
    _md5_digest_concat_sql generates the oracle from the same
    n_digests formula — prove the pair agrees end-to-end at n=16."""
    from insight_spark.operators.dedup import (
        minhash_lsh_pairs_md5,
        minhash_lsh_pairs_md5_oracle_sql,
    )
    from insight_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    got = minhash_lsh_pairs_md5(docs, n_hashes=16, n_bands=4)
    s_rows = [tuple(r) for r in got.collect()]
    con = duckdb_connection(SF_DIR)
    try:
        res = con.execute(
            minhash_lsh_pairs_md5_oracle_sql(n_hashes=16, n_bands=4)
        )
        d_rows = res.fetchall()
        d_cols = [d[0] for d in res.description]
    finally:
        con.close()
    assert canonical_rows(got.columns, s_rows) == canonical_rows(
        d_cols, d_rows
    )


def test_int8_quantize_bounds(spark):
    """Codes stay in [-127, 127] and per-vector reconstruction error
    respects the scalar-quantization bound: each residual <= scale/2,
    so sq_err_micro <= d * (scale/2 * 1e6 + 1)^2 (+1 for the
    micro-unit half-up rounding)."""
    from insight_spark.queries import all_queries

    rows = (
        all_queries()["int8_quantize_embeddings"](spark, SF_DIR)
        .join(
            all_queries()["int8_quantize_embeddings"](spark, SF_DIR)
            .groupBy()
            .agg(F.max("max_abs_code").alias("m")),
        )
        .collect()
    )
    d = 64
    for r in rows:
        assert 0 <= r["max_abs_code"] <= 127
        bound = d * (r["scale"] / 2 * 1e6 + 1) ** 2
        assert r["sq_err_micro"] <= bound, (r["vec_id"], r["sq_err_micro"], bound)


def test_mmr_selection_laws(spark):
    """MMR invariants: k distinct selections, ranks 1..k, the first
    pick is the relevance argmax, and mmr_score never exceeds
    lambda * rel (the diversity penalty is non-negative)."""
    from insight_spark.queries import all_queries
    from insight_spark.queries.vectors_extra import _MMR_K, _MMR_LAMBDA

    rows = sorted(
        all_queries()["mmr_diverse_rerank"](spark, SF_DIR).collect(),
        key=lambda r: r["rank"],
    )
    assert [r["rank"] for r in rows] == list(range(1, _MMR_K + 1))
    assert len({r["vec_id"] for r in rows}) == _MMR_K
    assert rows[0]["rel"] == max(r["rel"] for r in rows)
    mu = 1 - _MMR_LAMBDA
    for r in rows:
        assert abs(r["mmr_score"] - _MMR_LAMBDA * r["rel"]) <= mu + 1e-9


def test_dp_noise_bounded_and_keyed(spark):
    """Released counts differ from true counts by at most the noise
    table's extremes (|Laplace^-1| at the 1/512 tail: 11 for b=2),
    and re-running releases the identical values (cell-keyed noise)."""
    from insight_spark.queries import all_queries
    from insight_spark.queries.mixing import _DP_NOISE
    from insight_spark.sources import load_table

    lo, hi = min(_DP_NOISE), max(_DP_NOISE)
    rel = {
        (r["event_type"], r["day"]): r["noisy_n"]
        for r in all_queries()["dp_noisy_release"](spark, SF_DIR).collect()
    }
    true = {
        (r["event_type"], r["day"]): r["n"]
        for r in load_table(spark, SF_DIR, "events")
        .groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert rel, "release is empty"
    for k, v in rel.items():
        assert true[k] + lo <= v <= true[k] + hi, (k, v, true[k])
    rerun = {
        (r["event_type"], r["day"]): r["noisy_n"]
        for r in all_queries()["dp_noisy_release"](spark, SF_DIR).collect()
    }
    assert rerun == rel


def test_exact_substring_removal_accounting(spark):
    """Removed spans are coalesced >= 8-token islands, so
    removed_tokens is 0 or >= 8, never exceeds n_tokens, and the
    cleaned text has exactly n_tokens - removed_tokens tokens."""
    from insight_spark.queries import all_queries

    rows = all_queries()["exact_substring_dedup"](spark, SF_DIR).collect()
    assert any(r["removed_tokens"] > 0 for r in rows), "fixture has dups"
    for r in rows:
        assert 0 <= r["removed_tokens"] <= r["n_tokens"]
        assert r["removed_tokens"] == 0 or r["removed_tokens"] >= 8
        kept = len([t for t in r["cleaned_text"].split(" ") if t])
        assert kept == r["n_tokens"] - r["removed_tokens"]
