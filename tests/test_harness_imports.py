"""Import guard for the harnesses no test runs (``bench.py``,
``scripts/*.py``): every name they import from the package must resolve,
so renaming or deleting a public name breaks a test instead of silently
breaking a harness."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

PKG = "word_sense_disambiguation_spark"
ROOT = Path(__file__).resolve().parent.parent
HARNESSES = [ROOT / "bench.py", *sorted((ROOT / "scripts").glob("*.py"))]


def _package_imports(path: Path) -> list[tuple[str, str | None]]:
    """(module, name) for every package import in ``path``, at any depth;
    name is None for a plain ``import module``."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom) and node.module and (
            node.module == PKG or node.module.startswith(PKG + ".")
        ):
            out.extend((node.module, a.name) for a in node.names)
        elif isinstance(node, ast.Import):
            out.extend(
                (a.name, None)
                for a in node.names
                if a.name == PKG or a.name.startswith(PKG + ".")
            )
    return out


@pytest.mark.parametrize("path", HARNESSES, ids=lambda p: p.name)
def test_harness_package_imports_resolve(path):
    imports = _package_imports(path)
    missing = []
    for module, name in imports:
        mod = importlib.import_module(module)
        if name is not None and not hasattr(mod, name):
            try:  # `from pkg import submodule`
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                missing.append(f"{module}.{name}")
    assert not missing, f"{path.name}: unresolved {missing}"


def test_guard_sees_the_harness_imports():
    # the guard is vacuous if the walker stops finding imports
    assert ("word_sense_disambiguation_spark.operators.blocking",
            "er_candidate_pairs") in _package_imports(ROOT / "bench.py")
