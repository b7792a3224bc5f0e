"""Every streaming query in ``streaming/jobs.py`` runs through the one
``_drain`` helper: the AvailableNow start and the wait for termination
each occur exactly once in the module, inside ``_drain``, so
hand-copied drains cannot grow back. Reads the source; no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

JOBS = (
    Path(__file__).resolve().parents[1]
    / "data_pipeline_postgres_spark"
    / "streaming"
    / "jobs.py"
)


def _method_calls(tree: ast.AST, name: str) -> list[ast.Call]:
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == name
    ]


def test_one_available_now_drain_and_it_is_drain():
    tree = ast.parse(JOBS.read_text())
    drain = next(
        n
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "_drain"
    )
    triggers = [
        c
        for c in _method_calls(tree, "trigger")
        if any(k.arg == "availableNow" for k in c.keywords)
    ]
    waits = _method_calls(tree, "awaitTermination")
    assert len(triggers) == 1, "AvailableNow starts outside _drain"
    assert len(waits) == 1, "awaitTermination outside _drain"
    inside = {id(n) for n in ast.walk(drain)}
    assert id(triggers[0]) in inside and id(waits[0]) in inside
