"""Guards on the ``@query`` registry and the family-module layout."""

from __future__ import annotations

import ast
import glob
import os

import pytest

import __spark_entry__  # noqa: F401  (registers every query)
from fink_broker_spark.queries import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "fink_broker_spark", "queries")
#: modules of the package that hold no queries
SUPPORT = {"__init__", "registry", "common"}
FAMILIES = sorted(
    os.path.basename(p)[:-3]
    for p in glob.glob(os.path.join(PKG, "*.py"))
    if os.path.basename(p)[:-3] not in SUPPORT
)


def _tree(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read())


def _imported_modules(tree: ast.Module) -> set[str]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            out.add(node.module)
            out.update(f"{node.module}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
    return out


@pytest.mark.parametrize("family", FAMILIES)
def test_every_builder_is_registered(family):
    registered = {fn.__qualname__ for fn in registry.QUERIES.values()
                  if fn.__module__ == f"fink_broker_spark.queries.{family}"}
    tree = _tree(os.path.join(PKG, f"{family}.py"))
    builders = {n.name for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name.startswith("q_")}
    assert builders == registered


def test_entry_imports_every_family():
    imported = _imported_modules(_tree(os.path.join(REPO, "__spark_entry__.py")))
    missing = [f for f in FAMILIES
               if f"fink_broker_spark.queries.{f}" not in imported]
    assert not missing


def test_families_import_no_other_family():
    """A worker that unpickles one family's function loads that family
    alone (plus the shared helpers), never the whole registry."""
    for family in FAMILIES:
        imported = _imported_modules(_tree(os.path.join(PKG, f"{family}.py")))
        others = {f"fink_broker_spark.queries.{f}" for f in FAMILIES} - {
            f"fink_broker_spark.queries.{family}"
        }
        assert not imported & others, family
        assert "__spark_entry__" not in imported, family
    assert not _imported_modules(_tree(os.path.join(PKG, "__init__.py")))


def _builder(spark, sf_dir):
    raise AssertionError("never called")


@pytest.fixture
def scratch_registry(monkeypatch):
    monkeypatch.setattr(registry, "QUERIES", {})
    monkeypatch.setattr(registry, "ORACLES", {})
    return registry


def test_query_registers_oracle_and_retypes(scratch_registry):
    scratch_registry.query("a", oracle="SELECT 1 AS n")(_builder)
    scratch_registry.query("b", oracle="SELECT 2 AS n", bigint=("n",))(_builder)
    scratch_registry.query("c", rows_only="engine-specific")(_builder)
    assert list(scratch_registry.QUERIES) == ["a", "b", "c"]
    assert scratch_registry.ORACLES["a"] == "SELECT 1 AS n"
    assert "CAST(n AS BIGINT) AS n" in scratch_registry.ORACLES["b"]
    assert "c" not in scratch_registry.ORACLES


def test_query_rejects_duplicate_name(scratch_registry):
    scratch_registry.query("a", oracle="SELECT 1")(_builder)
    with pytest.raises(ValueError, match="twice"):
        scratch_registry.query("a", rows_only="x")(_builder)


@pytest.mark.parametrize("kwargs", [
    {},
    {"oracle": "SELECT 1", "rows_only": "x"},
    {"rows_only": "x", "bigint": ("n",)},
])
def test_query_rejects_bad_contract(scratch_registry, kwargs):
    with pytest.raises(ValueError):
        scratch_registry.query("a", **kwargs)
    assert not scratch_registry.QUERIES
