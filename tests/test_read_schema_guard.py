"""Every batch parquet read in ``catalog.py``, ``pipelines.py``,
``scratch.py`` and ``streaming/jobs.py`` passes a schema: a bare
``spark.read.parquet(path)`` runs a schema-inference Spark job each
time a query is built. The one allowed bare read is the inference
itself, inside ``catalog._inferred_schema``, which caches its result
per file version.
Reads the source; no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parents[1] / "data_pipeline_postgres_spark"


def _bare_reads(tree: ast.AST) -> list[ast.Call]:
    """``<x>.read.parquet(...)`` / ``<x>.readStream.parquet(...)``
    calls whose reader has no ``.schema(...)`` in its chain."""
    out = []
    for n in ast.walk(tree):
        if not (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "parquet"
        ):
            continue
        reader = n.func.value
        if isinstance(reader, ast.Attribute) and reader.attr in (
            "read",
            "readStream",
        ):
            out.append(n)
    return out


@pytest.mark.parametrize(
    "module", ["pipelines.py", "scratch.py", "streaming/jobs.py"]
)
def test_no_schema_less_read(module):
    bare = _bare_reads(ast.parse((PACKAGE / module).read_text()))
    assert not bare, (
        f"{module}:{[c.lineno for c in bare]}: read.parquet without "
        ".schema(...) (use catalog.read_parquet or a schemas.* type)"
    )


def test_catalog_infers_only_in_inferred_schema():
    tree = ast.parse((PACKAGE / "catalog.py").read_text())
    infer = next(
        n
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "_inferred_schema"
    )
    bare = _bare_reads(tree)
    assert len(bare) == 1, (
        f"catalog.py:{[c.lineno for c in bare]}: read.parquet without "
        ".schema(...) outside _inferred_schema"
    )
    assert id(bare[0]) in {id(n) for n in ast.walk(infer)}


def test_guard_sees_a_bare_read():
    src = "df = spark.read.parquet(p)\nok = spark.read.schema(s).parquet(p)\n"
    assert [c.lineno for c in _bare_reads(ast.parse(src))] == [1]
