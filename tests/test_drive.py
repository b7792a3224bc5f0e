"""``tools/drive.py``, the one differential driver: its loop run
in-process on the test session, its command line run from outside the
repo, and a Spark-free guard that no tool grows a second comparator
(comparator logic lives only in ``tests/oracle_util.py``)."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path

import pytest

from tools.drive import QUERIES, drive

from .conftest import SF_SMOKE

TOOLS = Path(__file__).resolve().parents[1] / "tools"

_TYPE_CHECKS = {"arrow_type_family", "spark_type_family"}


def test_drive_passes_oracle_and_rows_only_queries(spark, capsys):
    names = ["csv_read", "agg_approx_distinct"]
    assert drive(spark, SF_SMOKE, names) == []
    out = capsys.readouterr().out
    assert "entry(): smoke n=" in out
    assert "csv_read: match" in out
    assert "agg_approx_distinct: rows-only n=" in out
    assert "FAILURES: none" in out


def test_drive_reports_failures_and_keeps_going(spark, capsys, monkeypatch):
    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    monkeypatch.setitem(QUERIES, "csv_read", boom)
    fails = drive(spark, SF_SMOKE, ["csv_read", "no_such_query", "csv_write"])
    assert fails == ["csv_read", "no_such_query"]
    out = capsys.readouterr().out
    assert "csv_read: FAIL RuntimeError: boom" in out
    assert "no_such_query: FAIL KeyError" in out
    assert "csv_write: match" in out
    assert "FAILURES: csv_read no_such_query" in out


def test_drive_cli_runs_from_outside_the_repo(tmp_path):
    """A Python-worker query imports the package on the workers, which
    start in the caller's cwd: the driver must put the repo on their
    path itself."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, str(TOOLS / "drive.py"), "--sf", SF_SMOKE,
         "emb_mutual_knn"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert run.returncode == 0, run.stdout[-3000:] + run.stderr[-3000:]
    assert "emb_mutual_knn: match" in run.stdout


def _second_comparator(tree: ast.AST) -> list[str]:
    """What in ``tree`` would make it a comparator of its own: a duckdb
    import, a ``canon``/``_canon`` definition, or a use of the Arrow
    type-family checks."""
    found = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            found += [
                f"import {a.name}"
                for a in n.names
                if a.name.split(".")[0] == "duckdb"
            ]
        elif isinstance(n, ast.ImportFrom):
            if (n.module or "").split(".")[0] == "duckdb":
                found.append(f"from {n.module} import")
            found += [
                f"import {a.name}" for a in n.names if a.name in _TYPE_CHECKS
            ]
        elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if n.name in ("canon", "_canon"):
                found.append(f"def {n.name}")
        elif isinstance(n, ast.Call):
            f = n.func
            callee = getattr(f, "id", None) or getattr(f, "attr", None)
            if callee in _TYPE_CHECKS:
                found.append(f"{callee}()")
    return found


@pytest.mark.parametrize(
    "path", sorted(TOOLS.rglob("*.py")), ids=lambda p: p.name
)
def test_no_second_comparator_in_tools(path):
    found = _second_comparator(ast.parse(path.read_text()))
    assert not found, (
        f"tools/{path.name}: {found} — compare through "
        "tests/oracle_util.assert_matches_oracle (tools/drive.py)"
    )


def test_guard_sees_a_second_comparator():
    src = (
        "import duckdb\n"
        "from tests.oracle_util import arrow_type_family as fam\n"
        "def _canon(v):\n    return str(v)\n"
        "x = oracle_util.spark_type_family(t)\n"
    )
    assert _second_comparator(ast.parse(src)) == [
        "import duckdb",
        "import arrow_type_family",
        "def _canon",
        "spark_type_family()",
    ]
