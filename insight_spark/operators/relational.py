"""Relational composites with deterministic semantics (SURVEY.md §2.C/D/F).

Determinism discipline (§7.4.3): every operator that leaks physical order
into values (top-k, keep-one-per-key, first/last) takes an explicit total
order including a unique tie-break key.  Plain Spark ``dropDuplicates`` /
``limit`` without order are nondeterministic under retries and AQE —
fine for exploration, wrong for a reproducible engine.

Scale notes (100 TB posture):
- a global top-k (``orderBy(...).limit(k)``) compiles to a single
  ``TakeOrderedAndProject`` physical op — per-partition heap + driver
  merge of k rows; no global sort.
- ``top_k_per_group`` (windows.py) benefits from Spark ≥3.5's
  ``InferWindowGroupLimit``: rank-filter is pushed to a per-group limit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Exact money/measure arithmetic type — the float-determinism escape
#: hatch (SURVEY.md §7.4.1): sums over DECIMAL are order-independent.
MONEY = "decimal(38,6)"


def money(c: Column | str) -> Column:
    """Cast a measure to exact decimal before aggregation."""
    return F.col(c).cast(MONEY) if isinstance(c, str) else c.cast(MONEY)


def money_out(c: Column | str) -> Column:
    """Final projection for DECIMAL accumulators: rounded double.

    Accumulate in DECIMAL(38,6) (exact, order-independent), but never
    ship DecimalType in a query's output schema — the external driver's
    value hash renders Spark vs DuckDB decimals differently and fails
    ``hash_match`` on byte-identical values (VERDICT.md r1).  The
    ``round(cast(double), 6)`` formula is the proven hash-stable pattern;
    mirror ``ROUND(CAST(x AS DOUBLE), 6)`` in the oracle SQL.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.round(col.cast("double"), 6)
