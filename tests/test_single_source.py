"""The ``@query`` registry is the only query list (Spark-free).

- The driver window is derived: ``registry.driver_order`` puts red
  queries (hash mismatch, or the run raised) first, never-checked next, then the least recently checked,
  and ``__spark_entry__`` hands the registry out in that order.
- No harness or tool keeps a hand list of query names: a list, tuple,
  set or dict literal naming 5 or more registered queries in
  ``bench.py``, ``__spark_entry__.py``, ``plans/registry.py`` or
  ``tools/*.py`` fails here.
- No ``*.py`` file hard-codes the absolute path of its own checkout;
  a copy of the tree must run against itself.
"""

from __future__ import annotations

import ast
from pathlib import Path

import __spark_entry__
from data_pipeline_postgres_spark.plans import registry

registry.load_all()

ROOT = Path(__file__).resolve().parents[1]

GREEN = {"hash_match": True}
RED = {"hash_match": False}
ROWS_ONLY = {"hash_match": None, "err": "no_oracle"}
ERRORED = {"hash_match": None, "err": "Traceback (most recent call last): ..."}


def test_driver_order_rule():
    names = ["g3", "never2", "rows_only", "red", "g1", "red_then_green",
             "never1", "errored"]
    records = {
        1: {"rows_only": ROWS_ONLY, "g1": GREEN, "red_then_green": RED,
            "unregistered": RED},
        2: {"red": RED, "red_then_green": GREEN},
        3: {"g3": GREEN, "errored": ERRORED},
    }
    assert registry.driver_order(names, records) == [
        "red",  # newest record hash-red
        "errored",  # newest run raised: null hash, traceback in err
        "never2",  # never recorded, registration order
        "never1",
        "rows_only",  # round 1; a null hash is not red
        "g1",  # round 1, registered after rows_only
        "red_then_green",  # round 2: only the newest record counts
        "g3",
    ]


def test_entry_hands_out_the_registry_in_driver_order():
    order = registry.driver_order(
        registry.QUERIES, __spark_entry__.correctness_records()
    )
    assert list(__spark_entry__.queries()) == order
    assert list(__spark_entry__.oracle_sql()) == [
        n for n in order if n in registry.ORACLES
    ]


def _hand_lists(src: str, registered: set[str], at_least: int = 5):
    """(line, names) for every collection literal in ``src`` that names
    ``at_least`` or more registered queries."""
    found = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.List, ast.Tuple, ast.Set, ast.Dict)):
            names = {
                c.value
                for c in ast.walk(node)
                if isinstance(c, ast.Constant) and c.value in registered
            }
            if len(names) >= at_least:
                found.append((node.lineno, sorted(names)))
    return found


def _guarded_files():
    return [
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        ROOT / "data_pipeline_postgres_spark" / "plans" / "registry.py",
        *sorted((ROOT / "tools").glob("*.py")),
    ]


def test_no_hand_kept_query_list():
    registered = set(registry.QUERIES)
    bad = {
        str(p.relative_to(ROOT)): hits
        for p in _guarded_files()
        if (hits := _hand_lists(p.read_text(), registered))
    }
    assert not bad, f"derive these from registry.QUERIES instead: {bad}"


def test_guard_sees_a_hand_list():
    names = list(registry.QUERIES)[:5]
    assert _hand_lists(f"HEADLINE = {names!r}\n", set(registry.QUERIES))
    assert _hand_lists(f"X = {{{names[0]!r}: {tuple(names[1:])!r}}}\n",
                       set(registry.QUERIES))
    assert not _hand_lists(f"FEW = {names[:4]!r}\n", set(registry.QUERIES))


def _py_files():
    skip = {".git", ".scratch", "spark-warehouse", "_work", "__pycache__"}
    for p in ROOT.rglob("*.py"):
        if not skip.intersection(p.relative_to(ROOT).parts):
            yield p


def test_no_file_hard_codes_its_checkout_path():
    needle = str(ROOT)
    bad = [str(p.relative_to(ROOT)) for p in _py_files() if needle in p.read_text()]
    assert not bad, f"derive the repo root from __file__ instead: {bad}"


def test_checkout_path_guard_walks_the_tree():
    files = {str(p.relative_to(ROOT)) for p in _py_files()}
    assert {"bench.py", "tools/retime.py", "tests/test_pipelines.py"} <= files
