"""Import guards.

* The harnesses no test runs (``scripts/*.py``): every name they import
  from the package must resolve, so renaming or deleting a public name
  breaks a test instead of silently breaking a harness.
* Every package module is imported by some non-test file, so a module
  that only its own tests reach cannot come back unnoticed.
* Every public function of the two operator modules the ER job imports
  (``operators.blocking``, ``operators.clustering``) is imported by some
  non-test file, so a test-only operator cannot come back into them."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

PKG = "word_sense_disambiguation_spark"
ROOT = Path(__file__).resolve().parent.parent
HARNESSES = sorted((ROOT / "scripts").glob("*.py"))


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
            "er_scored_edges") in _package_imports(
        ROOT / "scripts" / "_flagship_run.py"
    )


def _imported_modules(path: Path) -> set[str]:
    """Package modules ``path`` imports, counting ``from pkg.sub import
    mod`` as an import of ``pkg.sub.mod`` when that is a module."""
    out = set()
    for module, name in _package_imports(path):
        out.add(module)
        if name is not None:
            out.add(f"{module}.{name}")
    return out


def _non_test_files() -> list[Path]:
    """Package modules (``__init__`` files do not count), perfbench, the
    harnesses and the driver contract."""
    return [
        *(p for p in (ROOT / PKG).rglob("*.py") if p.name != "__init__.py"),
        *(ROOT / "perfbench").glob("*.py"),
        *HARNESSES,
        ROOT / "__spark_entry__.py",
    ]


def test_every_package_module_has_a_non_test_importer():
    modules = {
        p: ".".join(p.relative_to(ROOT).with_suffix("").parts)
        for p in (ROOT / PKG).rglob("*.py")
        if p.name != "__init__.py"
    }
    reached = set()
    for path in _non_test_files():
        reached |= _imported_modules(path) - {modules.get(path)}
    orphans = sorted(set(modules.values()) - reached)
    assert not orphans, f"imported only by tests (or by nothing): {orphans}"


def test_every_er_operator_function_has_a_non_test_importer():
    imported = set()
    for path in _non_test_files():
        imported |= set(_package_imports(path))
    orphans = []
    for module in ("blocking", "clustering"):
        path = ROOT / PKG / "operators" / f"{module}.py"
        dotted = f"{PKG}.operators.{module}"
        orphans += [
            f"{module}.{node.name}"
            for node in ast.parse(path.read_text(), filename=str(path)).body
            if isinstance(node, ast.FunctionDef)
            and not node.name.startswith("_")
            and (dotted, node.name) not in imported
        ]
    assert not orphans, f"imported only by tests (or by nothing): {orphans}"


def test_pyproject_version_is_the_engine_version():
    # every manifest binds __version__; the distribution must not claim another
    from word_sense_disambiguation_spark import __version__

    text = (ROOT / "pyproject.toml").read_text()
    assert f'\nversion = "{__version__}"\n' in text
