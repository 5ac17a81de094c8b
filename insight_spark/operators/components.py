"""Connected components over an edge DataFrame (dedup-cluster closure).

The missing piece between near-duplicate *pairs* (operators/dedup.py)
and a deduplicated *corpus*: pairs form a graph whose connected
components are the duplicate clusters; the canonical document per
cluster is the minimum id.  This is the standard final stage of a
MinHash dedup pipeline at LLM-corpus scale.

Algorithm: iterative min-label propagation with pointer jumping.
Each round does (1) one hop of neighbor-min propagation (join edges to
labels, groupBy min) and (2) one pointer-jumping step
(``label := label(label)``), so label information doubles its reach per
round — convergence in O(log(diameter)) rounds instead of
O(diameter).  Every step is a join/groupBy on the vertex-id key: fully
distributed, no driver state beyond the loop counter and a convergence
count.

Scale posture (100 TB corpus → billions of vertices):
- lineage is truncated every round with ``localCheckpoint`` (eager) —
  without it the plan doubles per iteration and the job dies on plan
  compilation long before data volume matters; on a cluster use
  ``checkpoint`` with a reliable checkpoint dir instead.
- the label table is 2 longs per vertex; the edge table is bounded by
  the candidate-pair stage (same-bucket pairs only, never all-pairs).
- skew: a giant component's label key can hot-spot the groupBy; AQE
  skew handling applies, and pointer jumping keeps round counts low
  even for chain-shaped components (the worst case for plain
  propagation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _jump(hop: DataFrame) -> DataFrame:
    """Pointer jump: label := label(label).  Labels are vertex ids, so
    the lookup table is ``hop`` itself; left join because a component
    minimum's own label row always exists but joins to itself (coalesce
    keeps it stable).  ``hop`` must be checkpointed — the self-join on
    the raw union+agg plan trips attribute dedup and doubles the plan."""
    lookup = hop.select(F.col("v").alias("_lv"), F.col("label").alias("_ll"))
    return hop.join(lookup, hop["label"] == lookup["_lv"], "left").select(
        hop["v"],
        F.coalesce(F.col("_ll"), hop["label"]).alias("label"),
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label every vertex with the minimum vertex id reachable from it.

    ``edges`` is undirected input (each pair listed once is enough).
    Returns (v, label) — vertices in the same component share a label,
    and the label is the component's minimum vertex id (the canonical
    id for dedup keep-rules).

    Round structure (r12 rework — measured 1.8 s → 0.9 s on a 241-pair
    sf0.1 dedup graph, where per-round job overhead dominates):

    - **Round 0 is join-free**: with the identity init label(u) = u,
      the neighbor-min messages ARE the symmetric edge list read as
      (v=w, label=u), and the own-label rows are (v=u, label=u) — so
      the first hop is one union+groupBy straight off the edges, with
      no seed-label table, no init checkpoint, and no join.  At scale
      that removes one full pass and one V-sized join from every run.
    - **Convergence is detected in-plan**: each later round's hop
      aggregate also carries the vertex's previous label (``_prev``,
      tagged through the union), so "did anything change" is a filter
      scan of the just-checkpointed hop — not a V ⋈ V join job.  The
      check runs every round: the scan is colocated with the hop
      blocks and costs ~nothing next to a propagation round.
    - Hop-stability is a sound convergence test: if no vertex's label
      changed in the hop, then for every edge (v, n) both
      ``min_nbr ≥ label`` inequalities hold simultaneously, forcing
      label(v) == label(n) — labels are constant per component, hence
      at the fixpoint and the pointer jump is the identity.

    Scale posture notes (unchanged from r1-r11): lineage is truncated
    every round with ``localCheckpoint`` (eager) — without it the plan
    doubles per iteration; the label table is 2 longs per vertex; skew
    on a giant component's label key is handled by AQE; pointer jumping
    keeps round counts O(log diameter).

    Raises ``RuntimeError`` if not converged within ``max_iter`` rounds
    (with pointer jumping, 25 rounds covers diameters up to ~2^25).
    """
    # Materialize the edge table ONCE before iterating: every round
    # joins against it, and without lineage truncation each round
    # re-executes the edges' full upstream pipeline — harmless for a
    # cheap edge list, catastrophic when edges come from an expensive
    # producer (measured: the MinHash-LSH-fed pipeline query spent
    # 64 s re-running the sketch per CC round; 6 s after this).
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("w"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("w")))
        .localCheckpoint()
    )

    # round 0: join-free first hop (see docstring)
    hop = (
        sym.select(F.col("u").alias("v"), F.col("u").alias("label"))
        .union(sym.select(F.col("w").alias("v"), F.col("u").alias("label")))
        .groupBy("v")
        .agg(F.min("label").alias("label"))
        .localCheckpoint()
    )
    labels = _jump(hop)

    for it in range(1, max_iter):
        # one hop: every vertex takes min(own label, neighbors' labels);
        # the own branch is tagged so the aggregate can carry the
        # previous label out for the in-plan convergence check (labels
        # has exactly one row per vertex, so the conditional min IS
        # that row's label).
        own = labels.select("v", "label", F.lit(True).alias("_own"))
        msgs = sym.join(
            labels.withColumnRenamed("v", "u"), "u"
        ).select(F.col("w").alias("v"), "label", F.lit(False).alias("_own"))
        hop = (
            own.union(msgs)
            .groupBy("v")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("_own"), F.col("label"))).alias("_prev"),
            )
            .localCheckpoint()
        )
        # cheap scan of the checkpointed hop, not a join job
        if hop.filter(F.col("label") != F.col("_prev")).count() == 0:
            return hop.select("v", "label")
        labels = _jump(hop.select("v", "label"))
    raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")


def canonical_assignment(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup keep-rule: map every id to its cluster canonical (min id).

    ``pairs`` are ``(a_id, b_id)`` edges.  Ids that appear in no
    near-dup pair are their own canonical.  Returns (id_col,
    canonical_id) for ALL ids in ``all_ids``.
    """
    comp = connected_components(pairs, src="a_id", dst="b_id")
    return (
        all_ids.select(F.col(id_col))
        .join(comp, all_ids[id_col] == comp["v"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("label"), F.col(id_col)).alias("canonical_id"),
        )
    )
