"""Every import that targets the package resolves.

Most of the package imports lazily, inside function bodies, so a module or
name that a deletion removed only fails when that function runs. This test
walks every ``import`` / ``from ... import`` statement (function-local ones
included) in the package, ``bench.py``, ``tools/`` and ``__spark_entry__.py``
and checks that each targeted module imports and each imported name exists.
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

PKG = "airflow_etl_finance_market_spark"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sources() -> list[str]:
    files = glob.glob(f"{_REPO}/{PKG}/**/*.py", recursive=True)
    files += glob.glob(f"{_REPO}/tools/*.py")
    files += [f"{_REPO}/bench.py", f"{_REPO}/__spark_entry__.py"]
    return sorted(files)


def _package_of(path: str) -> str:
    """Dotted package a file's relative imports resolve against."""
    return ".".join(os.path.relpath(path, _REPO).split(os.sep)[:-1])


def _targets(path: str):
    """(line, module, names) for each import statement aimed at the package."""
    tree = ast.parse(open(path).read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield node.lineno, alias.name, []
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                module = importlib.util.resolve_name(
                    "." * node.level + (node.module or ""), _package_of(path)
                )
            else:
                module = node.module or ""
            if module.split(".")[0] == PKG:
                yield node.lineno, module, [
                    a.name for a in node.names if a.name != "*"
                ]


def test_every_package_import_resolves():
    # the tier modules are loaded through the registry, in its order; one
    # imported on its own first would see harness half-initialized
    importlib.import_module(f"{PKG}.harness")
    unresolved = []
    n_checked = 0
    for path in _sources():
        where = os.path.relpath(path, _REPO)
        for line, module, names in _targets(path):
            n_checked += 1
            try:
                mod = importlib.import_module(module)
            except ImportError as exc:
                unresolved.append(f"{where}:{line}: {module} ({exc})")
                continue
            for name in names:
                is_submodule = hasattr(mod, "__path__") and (
                    importlib.util.find_spec(f"{module}.{name}") is not None
                )
                if not hasattr(mod, name) and not is_submodule:
                    unresolved.append(f"{where}:{line}: {module}.{name}")
    assert n_checked > 100, f"only {n_checked} imports found — walker broken?"
    assert not unresolved, "unresolved package imports:\n" + "\n".join(
        unresolved
    )
