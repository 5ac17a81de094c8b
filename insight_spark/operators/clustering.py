"""Distributed k-means (Lloyd iterations) over embedding columns
(SURVEY.md §2.M27 — iterative ML on DataFrames, the trainer that feeds
``seeded_centroids``/``ivf_assign`` a real quantizer).

Design for 100 TB, mirroring how Spark MLlib trains KMeans:

- **Centroids live on the driver** (K·d values — KB-scale even at
  K=32k, d=1k) and are closed over by the assignment's
  ``mapInPandas``: each Arrow batch scores all K cells with one GEMM —
  zero joins, zero shuffles, zero extra rows, and no per-row
  expression tree that grows with K·d.
- **The update step is a map-side-combined aggregate**: posexplode to
  (cell, dim, value) is a projection, and the groupBy(cell, dim) sum
  partially aggregates to K·d rows per task before the (tiny) shuffle.
  Per iteration the cluster moves K·d numbers, not data.
- **All arithmetic is exact integer math.** Coordinates are quantized
  to 1e-6 units (micro-ints) once at load: distances are exact integer
  sums (computed in float64 below 2^53, see ``assign_cells``), centroid
  updates are floor(sum/n + 0.5) — no inexact float accumulation
  anywhere, so results are bit-identical regardless of partitioning,
  engine, or summation order (the property that makes the DuckDB
  value-oracle exact; float sums are order-nondeterministic under
  Spark's partial aggregation).  Micro-unit quantization costs ~1e-6
  relative precision — noise next to k-means' own local-optimum
  variance.  Headroom: per-point distances stay exact in float64 up to
  2^53 (~9e15; ~1e15 at d=64); inertia sums beyond ~1e9
  points/cluster should widen to DECIMAL(38,0).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Quantization scale: 1e-6 coordinate units.
MICRO = 1_000_000


def quantize_micro(vec: Column) -> Column:
    """float array → BIGINT micro-units: floor(x·1e6 + 0.5).

    floor of a double is exact, so both Spark and any oracle engine
    produce identical integers from identical floats (float→double
    widening is value-preserving).
    """
    return F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * MICRO + F.lit(0.5)).cast("long"),
    )


def sq_dist_micro(a: Column, b: Column) -> Column:
    """Exact squared L2 distance between micro-int vectors (BIGINT)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def assign_cells(
    df: DataFrame, cents: list[tuple[int, list[int]]], vec_col: str = "e"
) -> DataFrame:
    """Tag each row with (cell, dist): the nearest driver-resident
    centroid by exact squared L2 distance, computed as one GEMM per
    Arrow batch — a single ``mapInPandas``, no shuffle.

    Exact at any K: coordinates are micro-ints, so every product
    ``|x_i·c_i| <= (2e6)^2 = 4e12``, every 64-term dot ``<= 2.6e14``,
    and the full squared distance ``|x|^2 - 2x·c + |c|^2 <= ~1e15`` —
    all far below 2^53, where float64 arithmetic IS integer arithmetic
    (the semantic_dedup BLAS-exactness argument), so the DuckDB
    oracle's BIGINT folds reproduce every distance bit-for-bit.  Ties
    resolve to the lowest cid because the centroid matrix is
    cid-ordered and ``np.argmin`` takes the first minimum — the
    oracle's ``ORDER BY dist, cid``.

    Cost does not grow with an expression tree: a K·d centroid literal
    per row would leave codegen at the production K ~ sqrt(N) rule
    (measured N^1.5 wall clock, SCALE.md r12c).  Headroom note:
    per-batch score blocks are B×K float64 (~100 MB at B=10k,
    K=1250), so lower ``spark.sql.execution.arrow.maxRecordsPerBatch``
    if K grows past ~10k.
    """
    import numpy as np
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    cents = sorted(cents)
    cmat = np.asarray([c for _, c in cents], dtype=np.float64)  # (K, d)
    cids = np.asarray([cid for cid, _ in cents], dtype=np.int64)
    c_norm2 = (cmat * cmat).sum(axis=1)  # exact: <= 64·4e12

    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("cell", IntegerType()), StructField("dist", LongType())]
    )

    def assign(batches):
        for pdf in batches:
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            x_norm2 = (x * x).sum(axis=1)
            d2 = x_norm2[:, None] - 2.0 * (x @ cmat.T) + c_norm2[None, :]
            best = np.argmin(d2, axis=1)
            pdf = pdf.copy()
            pdf["cell"] = cids[best].astype("int32")
            pdf["dist"] = d2[np.arange(len(best)), best].astype("int64")
            yield pdf

    return df.mapInPandas(assign, schema=out_schema)


def update_centroids(assigned: DataFrame, vec_col: str = "e") -> list:
    """Per-cell coordinate means, re-quantized to micro-ints.

    posexplode → groupBy(cell, dim) is the K·d-row partial aggregate;
    the collect ships K·d integers to the driver (the quantizer is
    driver-resident by design, exactly like a fitted MLlib model).
    """
    per_dim = (
        assigned.select("cell", F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("cell", "pos")
        .agg(
            F.floor(
                F.sum("v").cast("double") / F.count("*") + F.lit(0.5)
            )
            .cast("long")
            .alias("cv")
        )
    )
    rows = (
        per_dim.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("s"))
        .select("cell", F.transform("s", lambda x: x["cv"]).alias("c"))
        .collect()
    )
    return sorted((int(r["cell"]), list(r["c"])) for r in rows)


def lloyd(
    corpus: DataFrame,
    k: int,
    n_iter: int,
    vec_col: str = "e",
    id_col: str = "vec_id",
) -> DataFrame:
    """Run ``n_iter`` Lloyd rounds from the deterministic seed (the k
    smallest-id vectors) and return the final assignment with dists.

    Each round = one assignment projection + one K·d-row aggregate;
    total driver traffic is n_iter·K·d integers.  Empty cells keep
    their previous centroid (cells absent from ``update_centroids`` are
    carried forward).
    """
    seed_rows = (
        corpus.orderBy(id_col)
        .limit(k)
        .select(id_col, vec_col)
        .collect()
    )
    cents = [(int(r[id_col]), list(r[vec_col])) for r in seed_rows]
    # reindex seed cells 0..k-1 by id order for stable cell ids
    cents = [(i, c) for i, (_, c) in enumerate(sorted(cents))]
    for _ in range(n_iter):
        assigned = assign_cells(corpus, cents, vec_col)
        new = dict(update_centroids(assigned, vec_col))
        cents = [(cid, new.get(cid, c)) for cid, c in cents]
    return assign_cells(corpus, cents, vec_col)
