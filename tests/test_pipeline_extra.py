"""Tests for the LLM-pipeline extras: SimHash, ANN recall, scans (A3/A4).

Oracle parity for the new declared queries is covered by
test_oracle_parity.py; here we check the properties the oracle can't:
sketch behavior and approximate-path recall.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from insight_spark.operators.dedup import simhash_fingerprints
from insight_spark.operators.similarity import (
    _lsh_buckets,
    knn_topk,
    lsh_bucket_join,
    lsh_plane_signs,
)
from insight_spark.sources import load_table, read_csv, read_json
from tests.conftest import SF_DIR_T2

SF = "/root/testdata/sf0.001"


def test_simhash_identical_docs_collide(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "a completely different document about spark engines"),
        ],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]
    assert 0 <= fps[1] < 2**16


def test_simhash_near_docs_close(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " lambda")],  # one token added
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    assert bin(fps[1] ^ fps[2]).count("1") <= 4


def test_ann_lsh_recall_vs_exact(spark):
    emb = load_table(spark, SF, "embeddings")
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
    approx = {
        (r["q_vec_id"], r["c_vec_id"])
        for r in lsh_bucket_join(
            queries, corpus, k=5, plane_signs=lsh_plane_signs(8, 4, 64)
        ).collect()
    }
    # every query returns k rows; recall is approximate but must be real
    assert len(approx) == 50
    # multi-table LSH (8 tables): measured 0.78 on fixture embeddings
    assert len(exact & approx) / len(exact) >= 0.6


def test_lsh_buckets_bit_parity(spark):
    """The int64 matmul projection reproduces the exact integer fold
    Σ floor(x·1e6)·s bit-for-bit: same (id, table, bucket) triples as
    a plain-Python replay (the DuckDB oracle's BIGINT arithmetic)."""
    import math

    corpus = load_table(spark, SF_DIR_T2, "embeddings").select(
        F.col("vec_id").alias("c_vec_id"),
        F.col("embedding").alias("c_embedding"),
    )
    signs = lsh_plane_signs(4, 6, 64)
    got = {
        (r["c_vec_id"], r["_table"], r["_bucket"])
        for r in _lsh_buckets(
            corpus, signs, "c_embedding", "c_vec_id"
        ).collect()
    }
    expect = set()
    for r in corpus.collect():
        xi = [math.floor(float(x) * 1_000_000.0) for x in r["c_embedding"]]
        for t, tbl in enumerate(signs):
            b = 0
            for p, plane in enumerate(tbl):
                if sum(v * s for v, s in zip(xi, plane)) >= 0:
                    b += 1 << p
            expect.add((r["c_vec_id"], t, b))
    assert got == expect


def test_csv_scan_roundtrip(spark, tmp_path):
    nation = load_table(spark, SF, "nation")
    out = os.path.join(str(tmp_path), "nation_csv")
    nation.write.option("header", True).csv(out)
    back = read_csv(
        spark,
        out,
        schema="n_nationkey int, n_name string, n_regionkey int, n_comment string",
    )
    assert back.count() == nation.count()
    assert {r["n_name"] for r in back.collect()} == {
        r["n_name"] for r in nation.collect()
    }


def test_json_scan_roundtrip(spark, tmp_path):
    region = load_table(spark, SF, "region")
    out = os.path.join(str(tmp_path), "region_json")
    region.write.json(out)
    back = read_json(spark, out, schema=region.schema)
    assert sorted(r["r_name"] for r in back.collect()) == sorted(
        r["r_name"] for r in region.collect()
    )


def test_ann_ivf_recall_vs_exact(spark):
    from insight_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        seeded_centroids,
    )

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_vec_id"), F.col("embedding").alias("c_embedding")
    )
    cents = seeded_centroids(corpus, 8)
    indexed = ivf_assign(corpus, cents)
    # partition property: every corpus vector lands in exactly one cell
    assert indexed.count() == corpus.count()
    assert indexed.select("c_vec_id").distinct().count() == corpus.count()

    approx = {
        (r["q_vec_id"], r["c_vec_id"])
        for r in ivf_topk(queries, indexed, cents, k=5, n_probe=3).collect()
    }
    exact = {
        (r["q_vec_id"], r["c_vec_id"])
        for r in knn_topk(queries, corpus, k=5).collect()
    }
    assert len(approx) == 50  # k results per query
    # multi-table LSH (8 tables): measured ~0.74 on fixture embeddings
    assert len(exact & approx) / len(exact) >= 0.6
    # probing ALL cells must reproduce the exact result
    full = {
        (r["q_vec_id"], r["c_vec_id"])
        for r in ivf_topk(queries, indexed, cents, k=5, n_probe=8).collect()
    }
    assert full == exact


def test_approx_percentile_error_bound(spark):
    """D12 sketch property: approx within the declared rank tolerance."""
    ev = load_table(spark, SF, "events")
    row = ev.agg(
        F.percentile("value", F.lit(0.5)).alias("exact_med"),
        F.approx_percentile("value", F.lit(0.5), F.lit(1000)).alias("appr_med"),
        F.percentile("value", F.lit(0.9)).alias("exact_p90"),
        F.approx_percentile("value", F.lit(0.9), F.lit(1000)).alias("appr_p90"),
    ).first()
    spread = (
        ev.agg(F.max("value") - F.min("value")).first()[0] or 1.0
    )
    assert abs(row["appr_med"] - row["exact_med"]) <= 0.05 * spread
    assert abs(row["appr_p90"] - row["exact_p90"]) <= 0.05 * spread


def test_scrub_pii_redacts_and_counts(spark):
    """PII scrub: emails/phones/SSNs replaced by typed placeholders,
    clean text untouched, counts audit the redactions."""
    from insight_spark.operators.text import pii_counts, scrub_pii

    rows = [
        (1, "contact me at jane.doe+x@example.org for details"),
        (2, "call +1 (555) 123-4567 tomorrow"),
        (3, "ssn 123-45-6789 on file"),
        (4, "perfectly clean text with no identifiers"),
    ]
    df = spark.createDataFrame(rows, "id long, text string").select(
        "id",
        scrub_pii(F.col("text")).alias("clean"),
        pii_counts(F.col("text")).alias("counts"),
    )
    got = {r["id"]: (r["clean"], r["counts"].asDict()) for r in df.collect()}
    assert got[1][0] == "contact me at <EMAIL> for details"
    assert got[1][1] == {"email": 1, "phone": 0, "ssn": 0}
    assert got[2][0] == "call <PHONE> tomorrow"
    assert got[2][1]["phone"] == 1
    assert got[3][0] == "ssn <SSN> on file"
    assert got[3][1] == {"email": 0, "phone": 0, "ssn": 1}
    assert got[4][0] == rows[3][1]
    assert got[4][1] == {"email": 0, "phone": 0, "ssn": 0}


def test_pq_encode_and_adc_recall(spark):
    from insight_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_vec_id"), F.col("embedding").alias("c_embedding")
    )
    cb = pq_codebooks(corpus, n_subspaces=8, n_codes=16)
    assert len(cb) == 8 and len(cb[0]) == 16 and len(cb[0][0]) == 8
    enc = pq_encode(corpus, cb)
    # encode is a pure projection: same row count, vector column dropped,
    # one code per subspace, every code a valid codebook index
    assert enc.count() == corpus.count()
    assert "c_embedding" not in enc.columns
    bad = enc.filter(
        (F.size("pq_codes") != 8)
        | (F.array_min("pq_codes") < 0)
        | (F.array_max("pq_codes") > 15)
    )
    assert bad.count() == 0
    # a codebook seed vector encodes (in its own subspaces) to itself:
    # vector 0 is code 0 of every subspace, so its ADC distance to its
    # own reconstruction is 0 -> it must be its own nearest neighbor
    approx = pq_adc_topk(queries, enc, cb, corpus, k=5, shortlist=50)
    rows = approx.collect()
    assert len(rows) == 50  # k per query
    top1 = {
        r["q_vec_id"]: r["c_vec_id"] for r in rows if r["rank"] == 1
    }
    assert top1[0] == 0  # self is always the top cosine hit
    exact = {
        (r["q_vec_id"], r["c_vec_id"])
        for r in knn_topk(queries, corpus, k=5).collect()
    }
    got = {(r["q_vec_id"], r["c_vec_id"]) for r in rows}
    # measured 0.90 at sf0.001 / 0.76 at sf0.01 with shortlist 50
    assert len(exact & got) / len(exact) >= 0.6


def test_hashing_trick_reaches_all_16_buckets(spark):
    """Regression (r5 review): the original bucket formula
    ascii(hex_char) % 16 could only ever land in {0..9} (with skew),
    and its +128 high-bit branch was a no-op since 128 % 16 == 0.
    The md5-nibble decode must make every bucket 0..15 reachable."""
    from insight_spark.queries.pipeline_extra import hashing_trick_features

    out = hashing_trick_features(spark, SF)
    buckets = {r["bucket"] for r in out.select("bucket").distinct().collect()}
    assert buckets == set(range(16)), f"unreachable buckets: {set(range(16)) - buckets}"
