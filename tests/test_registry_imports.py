"""The registry's module graph is acyclic: every ``registry*`` module
imports on its own, and the catalog it fills does not depend on which
module a process imports first.  Each check runs in a fresh interpreter
(no Spark session), because a module already in ``sys.modules`` would
hide an import cycle."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
REGISTRY_MODULES = sorted(p.stem for p in (REPO / "vector_search_spark").glob("registry*.py"))

# Prints the catalog as the driver sees it: query names, oracle text, and
# each artifact's deps (compared as a mapping: registration order follows
# import order, and only "deps before dependents" is part of the contract).
_DUMP_CATALOG = """
import json
from vector_search_spark import catalog
print(json.dumps({
    "queries": sorted(catalog.QUERIES),
    "oracles": catalog.ORACLES,
    "artifacts": {a.name: a.deps for a in catalog.ARTIFACTS.values()},
}, sort_keys=True))
"""


def _run(code: str) -> str:
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return proc.stdout


def test_every_registry_module_is_found():
    assert "registry" in REGISTRY_MODULES
    assert len(REGISTRY_MODULES) >= 2


@pytest.mark.parametrize("module", REGISTRY_MODULES)
def test_module_imports_first(module):
    _run(f"import vector_search_spark.{module}")


def test_catalog_imports_no_registry_module():
    out = _run(
        "import sys, vector_search_spark.catalog\n"
        "print(sorted(m for m in sys.modules if m.startswith('vector_search_spark.registry')))"
    )
    assert out.strip() == "[]"


def test_catalog_is_the_same_whatever_is_imported_first():
    registry_first = _run("import vector_search_spark.registry\n" + _DUMP_CATALOG)
    domains_first = _run(
        "import vector_search_spark.registry_graph\n"
        "import vector_search_spark.registry_features\n"
        "import vector_search_spark.registry\n" + _DUMP_CATALOG
    )
    assert domains_first == registry_first
