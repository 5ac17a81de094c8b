"""Library census: every public top-level def in ``insight_spark/``
outside ``queries/`` has a caller outside ``tests/``.

A def that only tests reach is a second implementation of something
the oracled registry already does, or dead code with a test to keep it
alive; either way it is code to delete.  The census collects each
public top-level function and class, then looks for a ``Name``,
``Attribute`` or ``ImportFrom`` reference to it in the program itself
(the package, ``scripts/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py``).  Matching is by bare name, so a same-named
identifier anywhere counts as a caller: the census can miss a fork,
never flag a used def.

AST only: no Spark session is started.
"""

from __future__ import annotations

import ast
import os

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(HERE, "insight_spark")

#: ``path relative to insight_spark/ : name`` -> why the def stays
#: although only tests call it.
TEST_ONLY_KEPT: dict[str, str] = {
    "streaming/core.py:user_type_counts_tws": (
        "only coverage of the transformWithStateInPandas MapState handle; "
        "no registry query runs TWS, so it has no oracled twin"
    ),
    "streaming/core.py:recent_events_tws": (
        "only coverage of the TWS ListState handle (and a ValueState "
        "beside it); no oracled twin"
    ),
    "streaming/core.py:inactivity_sessions_tws": (
        "only coverage of TWS event-time timers; no oracled twin"
    ),
    "streaming/core.py:tws_runtime_available": (
        "gates the three TWS tests on the protobuf shim the TWS runtime "
        "needs; goes when they go"
    ),
}


def _py_files(root: str) -> list[str]:
    out = []
    for dirpath, _, files in os.walk(root):
        out.extend(os.path.join(dirpath, f) for f in files if f.endswith(".py"))
    return sorted(out)


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read(), path)


def _library_defs() -> dict[str, str]:
    """``path:name`` -> name for every public top-level def outside
    ``queries/``."""
    defs = {}
    for path in _py_files(PKG):
        rel = os.path.relpath(path, PKG)
        if rel.split(os.sep)[0] == "queries":
            continue
        for node in _parse(path).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                defs[f"{rel}:{node.name}"] = node.name
    return defs


def _program_references() -> set[str]:
    paths = _py_files(PKG)
    for sub in ("scripts", "perfbench"):
        paths += _py_files(os.path.join(HERE, sub))
    paths += [os.path.join(HERE, f) for f in ("bench.py", "__spark_entry__.py")]
    names: set[str] = set()
    for path in paths:
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                names.update(alias.name for alias in node.names)
    return names


def test_every_library_def_has_a_program_caller():
    defs = _library_defs()
    refs = _program_references()
    test_only = {key for key, name in defs.items() if name not in refs}
    unexplained = sorted(test_only - set(TEST_ONLY_KEPT))
    assert not unexplained, (
        "library defs that only tests reach — call them from their "
        "registry twin or delete them (and their tests):\n  "
        + "\n  ".join(unexplained)
    )
    # the exception list cannot rot: each entry is still a def, and
    # still test-only
    stale = sorted(set(TEST_ONLY_KEPT) - test_only)
    assert not stale, f"TEST_ONLY_KEPT entries no longer test-only defs: {stale}"
