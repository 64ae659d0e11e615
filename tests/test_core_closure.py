"""The privacy core stands alone, and the package's public surface is sound.

The core is the three paper releases (``pipelines``), the operators they
and the DP/streaming releases are built from, and the I/O and session
helpers. Its engine imports — module level and function local — must
stay inside the core, so an operator family outside it can be deleted
without touching a release.
"""

from __future__ import annotations

import ast
import collections
import pathlib

import pytest

import dbms_data_anonymity_differential_privacy_spark as pkg

PKG = pkg.__name__
ROOT = pathlib.Path(pkg.__file__).resolve().parent

CORE = {
    "pipelines",
    "operators.kanonymity",
    "operators.tcloseness",
    "operators.metrics",
    "operators.clustering",
    "operators.dp",
    "operators.util",
    "functions.binning",
    "sources.readers",
    "sources.writers",
    "streaming.anonymize",
    "session",
}


def _is_module(dotted: str) -> bool:
    return ROOT.joinpath(*dotted.split(".")).with_suffix(".py").exists()


def _engine_imports(module: str) -> set[str]:
    """Engine modules imported anywhere in ``module`` (relative to the
    package). ``from pkg.x import name`` counts ``x.name`` when ``name``
    is itself a module, else ``x``."""
    path = ROOT.joinpath(*module.split(".")).with_suffix(".py")
    parent = [PKG] + module.split(".")[:-1]
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found |= {a.name for a in node.names if a.name.split(".")[0] == PKG}
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = parent[: len(parent) - node.level + 1]
                source = ".".join(base + ([node.module] if node.module else []))
            else:
                source = node.module or ""
            if source.split(".")[0] != PKG:
                continue
            for alias in node.names:
                sub = f"{source}.{alias.name}"
                found.add(sub if _is_module(sub.split(".", 1)[1]) else source)
    return {m.split(".", 1)[1] if "." in m else "__init__" for m in found}


@pytest.mark.parametrize("module", sorted(CORE))
def test_core_imports_stay_in_core(module):
    outside = _engine_imports(module) - CORE
    assert not outside, f"{module} imports engine modules outside the core: {sorted(outside)}"


def test_package_all_resolves_without_duplicates():
    dupes = [n for n, c in collections.Counter(pkg.__all__).items() if c > 1]
    assert not dupes, f"duplicate __all__ names: {dupes}"
    missing = [n for n in pkg.__all__ if not hasattr(pkg, n)]
    assert not missing, f"__all__ names that do not resolve: {missing}"
