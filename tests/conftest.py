"""Shared pytest fixtures: one warm SparkSession per test run."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from insight_spark.engine import get_spark  # noqa: E402
from insight_spark.streaming.proto_shim import activate as _activate_proto  # noqa: E402

# Must run before ANY SparkSession is built: the TWS state-server
# workers are subprocesses of the JVM and inherit PYTHONPATH from it.
_activate_proto()

#: Small SF for fast unit-level parity; the driver gate runs sf0.01.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_T2 = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("insight_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def registry_builds(spark):
    """Every declared query built ONCE per test session, cached as
    ``name -> DataFrame``, each planned right after its build.

    The registry-wide structural gates (the collect lint, the decimal
    lint, the fatal-plan lint, the oracle result-type lint) share this
    one build instead of each building all 480 queries, and a build is
    not free: the side-effecting queries (stream drains, manifest
    commits, iterative rounds) EXECUTE while their DataFrame is being
    built.  Separate builds per gate were 17 of the non-parity suite's
    26 minutes (r13 measurement)."""
    from insight_spark.queries import all_queries

    builds = {}
    for name, fn in all_queries().items():
        df = fn(spark, SF_DIR)
        # plan now, before a later build changes shared session state;
        # the gates read this physical plan, cached on the frame
        df._jdf.queryExecution().executedPlan()
        builds[name] = df
    return builds


def conf_snapshot(spark, keys) -> dict[str, str | None]:
    """Read the named confs, None for unresolvable keys — the compare
    form the conf-isolation tests diff before/after a query."""
    out: dict[str, str | None] = {}
    for k in keys:
        try:
            out[k] = spark.conf.get(k)
        except Exception:
            out[k] = None
    return out


def file_scans(df) -> list:
    """The FileSourceScanExec nodes of ``df``'s executed plan."""
    stack, scans = [df._jdf.queryExecution().executedPlan()], []
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            scans.append(node)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return scans


def drain_kn_stream(spark, files, in_dir, ckpt, sink):
    """Add one JSON file of ``(k string, n long)`` rows to ``in_dir`` per
    row list in ``files``, then run a file stream over ``in_dir`` from
    checkpoint ``ckpt`` into the foreachBatch function ``sink``, one
    file per batch, until it has read every file; returns the stopped
    query."""
    import json

    os.makedirs(in_dir, exist_ok=True)
    for rows in files:
        path = os.path.join(in_dir, f"part_{len(os.listdir(in_dir)):03d}.json")
        with open(path, "w") as fh:
            fh.writelines(json.dumps({"k": k, "n": n}) + "\n" for k, n in rows)
    q = (
        spark.readStream.schema("k string, n long")
        .option("maxFilesPerTrigger", 1)
        .json(in_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q
