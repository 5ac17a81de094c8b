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

A second census finds shared fragments spelled by hand: the
whitespace tokenizer and the embedding cast each have one Spark twin
and one DuckDB renderer, and every other site calls them.

Source scans only: no Spark session is started.
"""

from __future__ import annotations

import ast
import os
import re

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


#: Fragment -> (the one function allowed to spell it, its pattern).
#: A split pattern is "whitespace" when it holds ``\s``, a whitespace
#: escape or ``WS_RE``.
_WS_PATTERN = r"[^'\"]*(?:\\{1,2}[stnfr]|\\x0B|WS_RE| )[^'\"]*"
_SPELLED_ONCE = {
    "whitespace string_split_regex": (
        "operators/text.py:tokens_sql",
        re.compile(r"string_split_regex\([^,]+,\s*'" + _WS_PATTERN + "'"),
    ),
    "embedding CAST(x AS DOUBLE) transform": (
        "operators/similarity.py:embedding_sql",
        re.compile(
            r"list_transform\(\s*embedding\s*,\s*(\w+)\s*->\s*"
            r"CAST\(\s*\1\s+AS\s+DOUBLE\s*\)\s*\)"
        ),
    ),
    "whitespace F.split(": (
        "operators/text.py:tokenize",
        re.compile(
            r"F\.split\([^,]+,\s*(?:r?[\"']" + _WS_PATTERN + r"|WS_RE\b)"
        ),
    ),
}


def _def_at(tree: ast.Module, line: int) -> str | None:
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)) and (
            node.lineno <= line <= node.end_lineno
        ):
            return node.name
    return None


def test_shared_fragments_are_spelled_once():
    """Each fragment appears only inside its renderer or Spark twin, so
    a change to ``text.WS_RE`` reaches every oracle and every Spark
    caller at once."""
    stray = []
    for path in _py_files(PKG):
        rel = os.path.relpath(path, PKG)
        with open(path) as fh:
            src = fh.read()
        tree = ast.parse(src, path)
        for what, (home, pattern) in _SPELLED_ONCE.items():
            for m in pattern.finditer(src):
                line = src.count("\n", 0, m.start()) + 1
                if f"{rel}:{_def_at(tree, line)}" != home:
                    stray.append(f"{rel}:{line}: {what}")
    assert not stray, (
        "call the shared renderer (text.tokens_sql / token_set_sql, "
        "similarity.embedding_sql) or text.tokenize instead:\n  "
        + "\n  ".join(stray)
    )
