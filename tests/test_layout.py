"""Code layout rules (Spark-free).

- Plan modules are named by domain: no ``plans/queries_r<N>.py`` and
  no theme catch-all (``queries_ext``, ``queries_analytics``). No new
  test file is named by round or theme; the ones that still are sit
  in ``ROUND_NAMED_TESTS`` until their tests move to domain files.
- The layers below ``plans/`` never import it: no module under
  ``operators/`` or ``streaming/`` imports ``plans``.
- ``@query`` is the one door into the registry: only
  ``plans/registry.py`` writes ``QUERIES`` or ``ORACLES``, and no other
  plan module reads them.

Each rule is also run on a scratch tree holding one violation.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

from data_pipeline_postgres_spark.plans import registry

ROOT = Path(__file__).resolve().parents[1]
PKG = "data_pipeline_postgres_spark"
ROUND_NAMED_TESTS = {
    "test_analytics.py", "test_ext.py", "test_round7.py", "test_round8.py",
    "test_round9.py", "test_round10.py", "test_round11.py",
    "test_round12.py", "test_round13.py", "test_round14.py",
    "test_round15.py", "test_round15_opt.py",
}
REGISTRY_DICTS = {"QUERIES", "ORACLES"}
MUTATORS = {"update", "setdefault", "pop", "popitem", "clear"}


def badly_named(root: Path) -> list[str]:
    plans = [
        p.name
        for p in (root / PKG / "plans").glob("*.py")
        if re.fullmatch(r"queries_(r\d+|ext|analytics)\.py", p.name)
    ]
    tests = [
        p.name
        for p in (root / "tests").glob("*.py")
        if re.fullmatch(r"test_(round\d+\w*|ext|analytics)\.py", p.name)
        and p.name not in ROUND_NAMED_TESTS
    ]
    return sorted(plans + tests)


def lower_layer_plan_imports(root: Path) -> list[str]:
    found = []
    for layer in ("operators", "streaming"):
        for p in sorted((root / PKG / layer).glob("*.py")):
            for node in ast.walk(ast.parse(p.read_text())):
                if isinstance(node, ast.Import):
                    targets = [a.name for a in node.names]
                elif isinstance(node, ast.ImportFrom):
                    # resolve a relative import from PKG.<layer>.<module>
                    base = [PKG, layer][: 3 - node.level] if node.level else []
                    mod = ".".join([*base, *filter(None, [node.module])])
                    targets = [mod, *(f"{mod}.{a.name}" for a in node.names)]
                else:
                    continue
                if any(t.startswith(f"{PKG}.plans") for t in targets):
                    found.append(f"{layer}/{p.name}:{node.lineno}")
    return found


def _is_dict(node: ast.AST) -> bool:
    return getattr(node, "id", getattr(node, "attr", None)) in REGISTRY_DICTS


def registry_misuse(root: Path) -> list[str]:
    """Writes of ``QUERIES``/``ORACLES`` outside ``plans/registry.py``
    (item assignment or deletion, or a mutating call), and any other
    plan module that names them at all."""
    files = [*(root / PKG).rglob("*.py"), *(root / "tools").glob("*.py"),
             root / "bench.py", root / "__spark_entry__.py"]
    found = set()
    for p in (f for f in files if f.exists() and f.name != "registry.py"):
        for node in ast.walk(ast.parse(p.read_text())):
            targets = getattr(node, "targets", [getattr(node, "target", None)])
            writes = any(
                isinstance(t, ast.Subscript) and _is_dict(t.value) for t in targets
            ) or (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", None) in MUTATORS
                and _is_dict(node.func.value)
            )
            if writes or (p.parent.name == "plans" and _is_dict(node)):
                found.add(f"{p.relative_to(root)}:{node.lineno}")
    return sorted(found)


RULES = (badly_named, lower_layer_plan_imports, registry_misuse)


@pytest.mark.parametrize("rule", RULES)
def test_the_tree_keeps_the_layout(rule):
    assert not rule(ROOT)


def test_round_named_tests_all_exist():
    gone = ROUND_NAMED_TESTS - {p.name for p in (ROOT / "tests").glob("*.py")}
    assert not gone, f"drop redistributed files from ROUND_NAMED_TESTS: {gone}"


@pytest.mark.parametrize(
    "rule, path, src",
    [
        (badly_named, f"{PKG}/plans/queries_r16.py", ""),
        (badly_named, f"{PKG}/plans/queries_ext.py", ""),
        (badly_named, "tests/test_round16.py", ""),
        (lower_layer_plan_imports, f"{PKG}/streaming/jobs.py",
         "from ..plans.queries_graph import X\n"),
        (lower_layer_plan_imports, f"{PKG}/operators/graph.py",
         "def f():\n    from .. import plans\n"),
        (lower_layer_plan_imports, f"{PKG}/operators/graph.py",
         f"import {PKG}.plans.registry\n"),
        (registry_misuse, f"{PKG}/plans/queries_text.py",
         "from .registry import ORACLES\nORACLES['q'] = 'SELECT 1'\n"),
        (registry_misuse, f"{PKG}/plans/queries_text.py",
         "X = registry.ORACLES['q']\n"),
        (registry_misuse, "tools/t.py", "registry.QUERIES.update(q=len)\n"),
    ],
    ids=["round-plan", "theme-plan", "round-test", "streaming-import",
         "local-import", "absolute-import", "oracle-write", "oracle-read",
         "tool-update"],
)
def test_each_rule_catches_one_violation(tmp_path, rule, path, src):
    for clean, text in (
        (f"{PKG}/plans/registry.py", "QUERIES = {}\nQUERIES['a'] = 1\n"),
        (f"{PKG}/plans/queries_graph.py", "from .registry import query\n"),
        (f"{PKG}/streaming/jobs.py", "from ..operators import graph\n"),
        ("tests/test_graph.py", ""),
    ):
        (tmp_path / clean).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / clean).write_text(text)
    assert not any(r(tmp_path) for r in RULES)
    (tmp_path / path).parent.mkdir(parents=True, exist_ok=True)
    (tmp_path / path).write_text(src)
    assert rule(tmp_path)


def test_a_duplicate_query_name_raises():
    registry.load_all()
    name = next(iter(registry.QUERIES))
    before = dict(registry.QUERIES), dict(registry.ORACLES)
    with pytest.raises(ValueError, match="already registered"):
        registry.query(name, "SELECT 1")(lambda spark, sf_dir: None)
    assert (dict(registry.QUERIES), dict(registry.ORACLES)) == before
