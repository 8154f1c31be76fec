"""Static guards over the package source.

BASELINE.json mandates 'no per-row Python' (SURVEY.md §4.2.2) — all Python
execution must go through Arrow-batched APIs (mapInPandas / mapInArrow /
pandas_udf / applyInPandas). The first test greps the package source for
the forbidden constructs, the second pins the persisted-relation lifecycle,
the third keeps every lineage cut on ``session.lineage_cut``, the fourth
keeps every per-row kernel on the one Arrow row loop,
``functions/spark_udfs.map_rows``, the fifth keeps the whitespace rule
in ``functions/whitespace.py`` and the sixth keeps the md5-prefix integer
in ``functions/md5int.py``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "ocr_platform_spark"

FORBIDDEN = [
    (re.compile(r"\bF\.udf\b|\bfunctions\.udf\b|@udf\b"), "row-at-a-time Python UDF"),
    (re.compile(r"\.rdd\b"), "RDD access"),
    (re.compile(r"\bsparkContext\.parallelize\b"), "driver-side parallelize"),
    (re.compile(r"\.toPandas\(\)"), "driver-side toPandas in engine code"),
]


def test_no_forbidden_constructs():
    offenders = []
    for path in PKG.rglob("*.py"):
        text = path.read_text()
        for pat, why in FORBIDDEN:
            for m in pat.finditer(text):
                line = text[: m.start()].count("\n") + 1
                offenders.append(f"{path.relative_to(PKG.parent)}:{line} — {why}")
    assert not offenders, "\n".join(offenders)


def _attr_calls(scope: ast.AST) -> list[tuple[str, int]]:
    """(method name, line) of every ``x.name(...)`` call in ``scope``,
    not descending into nested function definitions."""
    calls, stack = [], list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            calls.append((node.func.attr, node.lineno))
        stack.extend(ast.iter_child_nodes(node))
    return calls


def test_every_persist_is_scoped_or_released():
    """A persisted relation that outlives its function goes through
    session.scoped_persist (one cached relation per key per session);
    every other ``.persist(`` is unpersisted in the same function."""
    offenders = []
    for path in PKG.rglob("*.py"):
        tree = ast.parse(path.read_text())
        for scope in [tree, *(n for n in ast.walk(tree) if isinstance(
                n, (ast.FunctionDef, ast.AsyncFunctionDef)))]:
            if getattr(scope, "name", None) == "scoped_persist":
                continue
            calls = _attr_calls(scope)
            if any(name == "unpersist" for name, _ in calls):
                continue
            offenders += [f"{path.relative_to(PKG.parent)}:{line} — persist "
                          "neither scoped_persist nor unpersisted"
                          for name, line in calls if name == "persist"]
    assert not offenders, "\n".join(offenders)


def _package_calls(methods: set[str]):
    """(path, enclosing function or '<module>', method, line) of every
    ``x.method(...)`` call in the package with ``method`` in ``methods``."""
    for path in PKG.rglob("*.py"):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())
        for scope in [tree, *(n for n in ast.walk(tree) if isinstance(
                n, (ast.FunctionDef, ast.AsyncFunctionDef)))]:
            name = getattr(scope, "name", "<module>")
            for call, line in _attr_calls(scope):
                if call in methods:
                    yield rel, name, call, line


def test_every_lineage_cut_is_lineage_cut():
    """``.checkpoint(`` and ``.localCheckpoint(`` are called only in
    session.lineage_cut, the one place that picks a reliable checkpoint
    when the session has a checkpoint dir."""
    offenders = [f"{rel}:{line} — {call} in {name}"
                 for rel, name, call, line in _package_calls(
                     {"checkpoint", "localCheckpoint"})
                 if (rel, name) != ("session.py", "lineage_cut")]
    assert not offenders, "\n".join(sorted(offenders))


# Each keeps its own loop for a reason its code shows: extract_pages writes
# a per-batch cost_ms column, _warc_records converts timestamps per batch,
# _records_sink is a side-effecting sink.
OWN_ARROW_LOOP = {
    ("functions/spark_udfs.py", "map_rows"),
    ("plans/extract_job.py", "extract_pages"),
    ("sources/warc.py", "_warc_records"),
    ("sources/warc.py", "_records_sink"),
}


def test_every_map_in_pandas_is_map_rows_or_named():
    """A kernel that maps a row to zero or more output rows goes through
    map_rows; only the functions in OWN_ARROW_LOOP call
    ``.mapInPandas(`` themselves."""
    offenders = [f"{rel}:{line} — mapInPandas in {name}"
                 for rel, name, _, line in _package_calls({"mapInPandas"})
                 if (rel, name) not in OWN_ARROW_LOOP]
    assert not offenders, "\n".join(sorted(offenders))


# Spark's split(trim(text), '\s+') spelled out: a Spark \s pattern, a quoted
# SQL \s, a Python replica or Java's \s class written as a literal
WHITESPACE_COPY = re.compile(
    r"""F\.(?:split|regexp_replace)\([^\n]*?r?["']\\s"""
    r"|'\\{1,2}s"
    r"""|re\.split\(r"\\s"""
    r"|\\t\\n\\(?:x0b|v)")


def _copies(pattern: re.Pattern, home: str) -> list[str]:
    """``file:line — match`` for every match of ``pattern`` in the package
    outside the module ``home``."""
    offenders = []
    for path in PKG.rglob("*.py"):
        rel = path.relative_to(PKG).as_posix()
        if rel == home:
            continue
        text = path.read_text()
        offenders += [f"{rel}:{text[:m.start()].count(chr(10)) + 1} — "
                      f"{m.group(0)!r}"
                      for m in pattern.finditer(text)]
    return sorted(offenders)


def test_whitespace_rule_only_in_whitespace_module():
    """Every tokenizer, canonical form and characters-in-tokens count
    builds on functions/whitespace.py, the one place the rule and its
    DuckDB and Python twins are written."""
    offenders = _copies(WHITESPACE_COPY, "functions/whitespace.py")
    assert not offenders, "\n".join(offenders)


# md5 hex digits read as an integer: Spark's conv(substring(..)), DuckDB's
# '0x' || substr(md5(..)) cast, or a Python hexdigest() slice. dd_simhash's
# 64-bit UBIGINT token hash reads 16 digits a Spark long cannot hold, and
# is the one other reading.
MD5_PREFIX_COPY = re.compile(
    r"conv\(\s*(?:F\.)?substring\("
    r"|'0x'[\s,|]*substr\(\s*md5\((?![^\n]*UBIGINT)"
    r"|hexdigest\(\)\[")


def test_md5_prefix_only_in_md5int_module():
    """Every sampling coin, shard, sketch and LSH hash builds on
    functions/md5int.py, the one place the engine-portable hash and its
    DuckDB and Python twins are written."""
    offenders = _copies(MD5_PREFIX_COPY, "functions/md5int.py")
    assert not offenders, "\n".join(offenders)
