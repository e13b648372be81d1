"""Every import that targets the package resolves.

Most of the package imports lazily, inside function bodies, so a module or
name that a deletion removed only fails when that function runs. This test
walks every ``import`` / ``from ... import`` statement (function-local ones
included) in the package, ``bench.py``, ``tools/`` and ``__spark_entry__.py``
and checks that each targeted module imports and each imported name exists.
The same walk bounds the finance path: what ``plans/`` and ``session.py``
reach, import by import, stays inside the modules the daily ETL needs.
"""

from __future__ import annotations

import ast
import fnmatch
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


#: What the finance path (``plans/`` and ``session.py``) may reach, as
#: patterns over module names relative to the package ("" is the package).
_FINANCE_CENSUS = (
    "",
    "schemas",
    "session",
    "sources",
    "sources.*",
    "functions",
    "functions.datetime",
    "functions.finance",
    "operators",
    "operators.asof",
    "operators.markets",
    "operators.quality",
    "operators.scoring",
    "operators.topk",
    "plans",
    "plans.*",
)


def _module_file(module: str) -> str | None:
    base = os.path.join(_REPO, *module.split("."))
    for path in (f"{base}.py", os.path.join(base, "__init__.py")):
        if os.path.exists(path):
            return path
    return None


def test_finance_path_import_closure_stays_in_census():
    seeds = [f"{PKG}.session"] + [
        f"{PKG}.plans.{os.path.basename(p)[:-3]}"
        for p in glob.glob(f"{_REPO}/{PKG}/plans/*.py")
    ]
    seen: set[str] = set()
    todo = [s.removesuffix(".__init__") for s in seeds]
    while todo:
        parts = todo.pop().split(".")
        # importing a module runs every enclosing package's __init__ too
        for i in range(1, len(parts) + 1):
            module = ".".join(parts[:i])
            if module in seen:
                continue
            seen.add(module)
            for _, target, names in _targets(_module_file(module)):
                todo.append(target)
                todo += [
                    f"{target}.{n}" for n in names
                    if _module_file(f"{target}.{n}")
                ]
    rel = {m.removeprefix(PKG).removeprefix(".") for m in seen}
    assert {"plans.pipeline", "sources.sinks", "operators.quality"} <= rel
    outside = sorted(
        m for m in rel
        if not any(fnmatch.fnmatchcase(m, pat) for pat in _FINANCE_CENSUS)
    )
    assert not outside, f"finance path imports outside its census: {outside}"


def test_every_package_annotation_resolves():
    """With ``from __future__ import annotations`` a hint is a string that
    nothing evaluates at import, so a name missing from the module's
    globals only fails the first ``typing.get_type_hints`` on it."""
    import inspect
    import typing

    importlib.import_module(f"{PKG}.harness")
    unresolved = []
    n_checked = 0
    for path in glob.glob(f"{_REPO}/{PKG}/**/*.py", recursive=True):
        module = importlib.import_module(
            os.path.relpath(path, _REPO)[:-3].replace(os.sep, ".")
            .removesuffix(".__init__")
        )
        fns = []
        for obj in vars(module).values():
            if getattr(obj, "__module__", None) != module.__name__:
                continue
            if inspect.isfunction(obj):
                fns.append(obj)
            elif inspect.isclass(obj):
                fns += [f for f in vars(obj).values() if inspect.isfunction(f)]
        for fn in fns:
            n_checked += 1
            try:
                typing.get_type_hints(fn)
            except NameError as exc:
                unresolved.append(f"{module.__name__}.{fn.__qualname__}: {exc}")
    assert n_checked > 100, f"only {n_checked} functions found — walker broken?"
    assert not unresolved, "unresolvable annotations:\n" + "\n".join(unresolved)
