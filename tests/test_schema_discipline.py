"""Schema-discipline gates.

1. No declared query may ship DecimalType output.  The external driver's
   order-insensitive value hash renders Spark vs DuckDB decimals
   differently (round-1 verdict: all 13 hash_match failures correlated
   46/46 with a DECIMAL output column, values byte-identical).
   Contract: accumulate in DECIMAL(38,6) internally, final-project
   ``money_out`` (round(cast(double), 6)) — never DecimalType in the
   returned schema.

2. Fixture timestamp-encoding drift guard.  The driver's fixtures have
   already changed ``events.ts`` parquet encoding once between rounds
   (TIMESTAMP(NANOS) → timestamp[us] isAdjustedToUTC=false, which Spark
   4 reads as TIMESTAMP_NTZ and on which epoch casts are illegal —
   round-2 verdict: 2 CORRECTNESS fails + a crashed bench).  The scan
   layer must normalize every plausible encoding to TimestampType with
   identical UTC instants.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import DecimalType, TimestampType

from insight_spark.sources import load_table
from tests.conftest import SF_DIR


def test_no_decimal_output_columns(registry_builds):
    offenders = {}
    for name, df in registry_builds.items():
        dec = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, DecimalType)
        ]
        if dec:
            offenders[name] = dec
    assert not offenders, f"DecimalType leaked into query output: {offenders}"


def test_fixture_events_ts_is_timestamp(spark):
    """Whatever encoding the current fixtures carry, ts must come out
    TimestampType (epoch-cast-safe) at every SF the driver uses."""
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        d = f"/root/testdata/{sf}"
        if not os.path.isdir(d):
            continue
        ev = load_table(spark, d, "events")
        assert isinstance(ev.schema["ts"].dataType, TimestampType), (
            f"{sf}: events.ts is {ev.schema['ts'].dataType}"
        )
        # epoch math must compile (the exact round-2 failure mode)
        ev.selectExpr("cast(ts as bigint)").limit(1).collect()


#: One row, a known UTC instant: 2024-03-01T12:34:56.789Z.
_US = 1709296496789000


@pytest.mark.parametrize(
    "ts_type,val",
    [
        (pa.timestamp("ns"), _US * 1000),      # round-1 fixture encoding
        (pa.timestamp("us"), _US),             # NTZ: isAdjustedToUTC=false
        (pa.timestamp("us", tz="UTC"), _US),   # plain LTZ encoding
        (pa.timestamp("ms"), _US // 1000),     # ms NTZ, for good measure
    ],
    ids=["ns", "us-ntz", "us-utc", "ms-ntz"],
)
def test_events_ts_encoding_drift(spark, tmp_path, ts_type, val):
    """Synthesize events.parquet in each historical/plausible encoding;
    load_table must normalize all of them to the same UTC instant."""
    tbl = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([val], ts_type),
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["click"], pa.string()),
            "value": pa.array([1.5], pa.float64()),
            "props": pa.array(['{"k":1}'], pa.string()),
        }
    )
    d = str(tmp_path / ts_type.unit) + ("tz" if ts_type.tz else "")
    os.makedirs(d)
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    ev = load_table(spark, d, "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampType)
    [row] = ev.selectExpr(
        "cast(ts as bigint) AS secs", "date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS s"
    ).collect()
    assert row["secs"] == _US // 1_000_000
    assert row["s"] == "2024-03-01 12:34:56"


# ---------------------------------------------------------------------------
# 3. Oracle result-type lint (round-3 verdict: tpch_q12 / kfold_assign).
#
# The driver compares via pandas frames, and DuckDB renders HUGEINT —
# the default result type of SUM over any integer column — as float64,
# while Spark's sum is int64: identical values, divergent hash.  The
# local parity harness uses fetchall() (native ints), so it CANNOT see
# this class.  Lint it at the plan level instead: bind every oracle in
# DuckDB (no execution) and check its result types against the Spark
# plan's schema.  Rules:
#   - HUGEINT / unsigned anywhere in an oracle projection is an error
#     (always CAST(SUM(int) AS BIGINT) in the oracle);
#   - integer-vs-float class mismatches are errors in both directions
#     (pandas renders 1 vs 1.0 → hash diverges);
#   - DuckDB DECIMAL vs Spark double is allowed (both render float64;
#     money goes through round(double,6) on both sides anyway).
# ---------------------------------------------------------------------------

import duckdb as _duckdb

from insight_spark.queries import all_oracle_sql
from tests.oracle_harness import TABLES as _TABLES


def _spark_class(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "int"
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, T.MapType):
        return "map"
    if isinstance(dt, T.StructType):
        return "struct"
    if isinstance(dt, T.BinaryType):
        return "binary"
    return f"other:{dt.simpleString()}"


_BANNED_DUCK = {"HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT"}


def _duck_class(t: str) -> str:
    t = t.upper()
    if t in _BANNED_DUCK:
        return "BANNED"
    if t in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT"):
        return "int"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t in ("VARCHAR", "TEXT", "STRING"):
        return "str"
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t == "DATE":
        return "date"
    if t == "BOOLEAN":
        return "bool"
    if t.endswith("[]") or t.startswith("LIST"):
        return "array"
    if t.startswith("MAP"):
        return "map"
    if t.startswith("STRUCT"):
        return "struct"
    if t in ("BLOB", "BYTEA"):
        return "binary"
    return f"other:{t}"


def _classes_compatible(duck: str, spark: str) -> bool:
    if duck == spark:
        return True
    # both render float64 in pandas; values aligned via round(·,6) casts
    if {duck, spark} == {"decimal", "float"}:
        return True
    return False


def test_oracle_result_types_match_spark(registry_builds):
    con = _duckdb.connect()
    for t in _TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    offenders: dict[str, list[str]] = {}
    for name, sql in all_oracle_sql().items():
        rel = con.sql(sql)
        sdf = registry_builds[name]
        sfields = {f.name: _spark_class(f.dataType) for f in sdf.schema.fields}
        problems = []
        if sorted(rel.columns) != sorted(sfields):
            problems.append(
                f"columns differ: duck={sorted(rel.columns)} spark={sorted(sfields)}"
            )
        else:
            for col, dt in zip(rel.columns, rel.types):
                dc = _duck_class(str(dt))
                if dc == "BANNED":
                    problems.append(
                        f"{col}: oracle type {dt} renders float64 in pandas "
                        "(driver hash diverges) — CAST(... AS BIGINT)"
                    )
                elif not _classes_compatible(dc, sfields[col]):
                    problems.append(
                        f"{col}: oracle {dt} ({dc}) vs spark {sfields[col]}"
                    )
        if problems:
            offenders[name] = problems
    con.close()
    assert not offenders, (
        "oracle result types would hash-diverge from Spark under the "
        f"driver's pandas compare: {offenders}"
    )


def test_oracle_type_lint_catches_uncast_integer_sum():
    """Negative control: the exact round-3 failure shape (uncast
    SUM(CASE...) over integers) must bind as HUGEINT and be flagged."""
    con = _duckdb.connect()
    con.execute("CREATE VIEW t AS SELECT * FROM (VALUES (1), (2)) v(x)")
    rel = con.sql("SELECT SUM(CASE WHEN x > 1 THEN 1 ELSE 0 END) AS c FROM t")
    classes = [_duck_class(str(dt)) for dt in rel.types]
    con.close()
    assert "BANNED" in classes, classes


def test_driver_priority_window_shape():
    """The external driver records exactly the first 50 queries() —
    the priority window must stay exactly 50 registered names, every
    oracled entry aligned (all_queries asserts registration)."""
    from insight_spark.queries import _DRIVER_PRIORITY, all_queries

    names = list(all_queries())
    assert len(_DRIVER_PRIORITY) == 50
    assert names[:50] == list(_DRIVER_PRIORITY)
