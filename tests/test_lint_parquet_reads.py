"""Lint: every parquet read in hyrise_spark/ goes through catalog.read_parquet.

A raw `spark.read.parquet(path)` brings back two things the reader removes:
Spark's schema-inference job (one blocking Spark job per call, footer
work only), and the nanosecond hazard — once any nanos file has been read,
`spark.sql.legacy.parquet.nanosAsLong` stays set for the session, and a raw
read of a nanos file then silently yields LONG columns instead of
timestamps. Reads that pin a schema (`spark.read.schema(s).parquet(...)`,
`readStream.schema(s).parquet(...)`) infer nothing and are allowed.
`tools/` is out of scope.
"""
from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "hyrise_spark"

# (file, enclosing function) allowed to call the raw reader
ALLOWED = {("catalog.py", "read_parquet")}


# DataFrameReader calls that may sit between `.read` and the terminal call
# without pinning a schema
READER_OPTS = {"option", "options", "format"}


def _is_parquet_format(call: ast.Call) -> bool:
    return any(isinstance(a, ast.Constant) and str(a.value).lower() == "parquet"
               for a in call.args)


def _is_inferring_read(call: ast.Call) -> bool:
    """`<x>.read[.option(..)|.format(..)]*.parquet(...)` or the same chain
    ending in `.format("parquet")...load(...)`."""
    names, fmt = [], None
    node = call.func
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Call):
            if isinstance(node.func, ast.Attribute) and node.func.attr == "format":
                fmt = node
            node = node.func
        else:
            names.append(node.attr)
            node = node.value
    if "read" not in names or not set(names[1:names.index("read")]) <= READER_OPTS:
        return False
    if names[0] == "parquet":
        return True
    return names[0] == "load" and fmt is not None and _is_parquet_format(fmt)


def _raw_parquet_reads(tree: ast.AST):
    """(lineno, enclosing function) of every inferring parquet read."""
    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Call) and _is_inferring_read(node):
            yield node.lineno, func
        for child in ast.iter_child_nodes(node):
            yield from visit(child, func)

    yield from visit(tree, None)


def test_lint_catches_raw_reads():
    src = (
        "def f(spark, p, s):\n"
        "    spark.read.parquet(p)\n"
        "    self.spark.read.option('x', 1).parquet(p)\n"
        "    spark.read.format('parquet').load(p)\n"
        "    spark.read.schema(s).parquet(p)\n"
        "    spark.readStream.schema(s).parquet(p)\n"
        "    df.write.parquet(p)\n"
        "    spark.read.parquet(p).repartition(2).write.parquet(q)\n"
    )
    assert [ln for ln, _ in _raw_parquet_reads(ast.parse(src))] == [2, 3, 4, 8]


def test_no_raw_parquet_reads_outside_catalog_reader():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for lineno, func in _raw_parquet_reads(ast.parse(path.read_text())):
            if (rel, func) not in ALLOWED:
                offenders.append(f"{rel}:{lineno} (in {func})")
    assert not offenders, (
        "raw parquet reads (use hyrise_spark.catalog.read_parquet):\n" + "\n".join(offenders)
    )
