"""Every import that targets the package resolves.

Most of the package imports lazily, inside function bodies, so a module or
name that a deletion removed only fails when that function runs. This test
walks every ``import`` / ``from ... import`` statement (function-local ones
included) in the package, ``bench.py``, ``tools/`` and ``__spark_entry__.py``
and checks that each targeted module imports and each imported name exists,
as does each attribute read through a module alias (``D.name`` after
``from ..operators import dedup as D``). Registry names that bench.py and
``tools/dump_plans.py`` spell as string literals must be registered.
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


def _is_module(obj) -> bool:
    return type(obj).__name__ == "module"


def _bind(node, path: str) -> dict[str, str]:
    """Names one import statement binds to package MODULES -> module name."""
    out = {}
    if isinstance(node, ast.Import):
        for alias in node.names:
            if alias.name.split(".")[0] != PKG:
                continue
            if alias.asname:
                out[alias.asname] = alias.name
            else:
                out[PKG] = PKG
        return out
    if node.level:
        module = importlib.util.resolve_name(
            "." * node.level + (node.module or ""), _package_of(path)
        )
    else:
        module = node.module or ""
    if module.split(".")[0] != PKG:
        return out
    try:
        mod = importlib.import_module(module)
    except ImportError:  # reported by test_every_package_import_resolves
        return out
    for alias in node.names:
        full = f"{module}.{alias.name}"
        if _is_module(getattr(mod, alias.name, None)) or (
            hasattr(mod, "__path__") and importlib.util.find_spec(full)
        ):
            out[alias.asname or alias.name] = full
    return out


_SCOPES = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)


def _scope_nodes(scope):
    """Nodes of ``scope`` that are not inside a nested function scope."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, _SCOPES):
            todo.extend(ast.iter_child_nodes(node))


def _alias_attribute_reads(path: str):
    """(line, dotted chain, module name) for each ``alias.attr[.attr…]``
    read whose head name an import in an enclosing scope bound to a
    package module."""
    tree = ast.parse(open(path).read(), path)

    def visit(scope, bound):
        nodes = list(_scope_nodes(scope))
        bound = dict(bound)
        for node in nodes:
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                bound.update(_bind(node, path))
        for node in nodes:
            if isinstance(node, _SCOPES):
                yield from visit(node, bound)
            elif (
                isinstance(node, ast.Attribute)
                and not isinstance(getattr(node, "parent", None), ast.Attribute)
            ):
                chain, head = [], node
                while isinstance(head, ast.Attribute):
                    chain.append(head.attr)
                    head = head.value
                if isinstance(head, ast.Name) and head.id in bound:
                    yield node.lineno, [head.id, *reversed(chain)], bound[head.id]

    for node in ast.walk(tree):
        for child in ast.iter_child_nodes(node):
            child.parent = node
    yield from visit(tree, {})


def test_every_module_alias_attribute_resolves():
    importlib.import_module(f"{PKG}.harness")
    unresolved = []
    n_checked = 0
    for path in _sources():
        where = os.path.relpath(path, _REPO)
        for line, chain, module in _alias_attribute_reads(path):
            n_checked += 1
            obj = importlib.import_module(module)
            name = module
            for attr in chain[1:]:
                if not _is_module(obj):
                    break
                name = f"{name}.{attr}"
                if hasattr(obj, attr):
                    obj = getattr(obj, attr)
                elif hasattr(obj, "__path__") and importlib.util.find_spec(name):
                    obj = importlib.import_module(name)
                else:
                    unresolved.append(f"{where}:{line}: {'.'.join(chain)}")
                    break
    assert n_checked > 10, f"only {n_checked} alias reads found — walker broken?"
    assert not unresolved, "unresolved module attributes:\n" + "\n".join(
        unresolved
    )


def _module_list(tree, name: str) -> list[str]:
    """Value of a module-level list assignment: literals, other such
    lists, and ``+`` of the two."""

    def value(node):
        if isinstance(node, ast.Name):
            return _module_list(tree, node.id)
        if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
            return value(node.left) + value(node.right)
        return ast.literal_eval(node)

    return next(
        value(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == name for t in node.targets)
    )


def _bench_registry_literals() -> list[tuple[int, str]]:
    """(line, name) for every registry name bench.py spells as a literal:
    ``BENCH_QUERIES``, ``qs["…"]`` subscripts and the name lists handed
    to ``entry_jobs``."""
    path = os.path.join(_REPO, "bench.py")
    tree = ast.parse(open(path).read(), path)
    lists = {
        node.targets[0].id: node
        for node in tree.body
        if isinstance(node, ast.Assign) and isinstance(node.targets[0], ast.Name)
    }
    out = [(lists["BENCH_QUERIES"].lineno, n)
           for n in _module_list(tree, "BENCH_QUERIES")]
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Subscript)
            and getattr(node.value, "id", None) == "qs"
            and isinstance(node.slice, ast.Constant)
        ):
            out.append((node.lineno, node.slice.value))
        elif (
            isinstance(node, ast.Call)
            and getattr(node.func, "id", None) == "entry_jobs"
            and len(node.args) >= 3
        ):
            names = node.args[2]
            if isinstance(names, ast.Name):
                names = _module_list(tree, names.id)
            else:
                names = ast.literal_eval(names)
            out += [(node.lineno, n) for n in names]
    return out


def test_bench_and_plan_dump_names_are_registered():
    from airflow_etl_finance_market_spark import harness

    registered = set(harness.queries())
    path = os.path.join(_REPO, "tools", "dump_plans.py")
    plan_names = _module_list(ast.parse(open(path).read(), path), "NAMES")
    spelled = [(f"bench.py:{line}", n) for line, n in _bench_registry_literals()]
    spelled += [("tools/dump_plans.py:NAMES", n) for n in plan_names]
    assert len(spelled) > 50, f"only {len(spelled)} names found — walker broken?"
    missing = [f"{where}: {n}" for where, n in spelled if n not in registered]
    assert not missing, "unregistered query names:\n" + "\n".join(missing)


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


def test_perfbench_pipeline_calls_resolve_in_pipeline():
    """A traced benchmark run wraps each name of ``PIPELINE_CALLS`` with
    ``getattr`` on ``plans.pipeline``, so every name must stay an attribute
    there even when the pipeline stops calling it. The tuple is read with
    ``ast``: importing perfbench would need its directory on ``sys.path``."""
    path = os.path.join(_REPO, "perfbench", "workloads.py")
    tree = ast.parse(open(path).read(), path)
    calls = next(
        ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "PIPELINE_CALLS" for t in node.targets)
    )
    pipeline = importlib.import_module(f"{PKG}.plans.pipeline")
    names = [name for name, _, _ in calls]
    assert "run_pipeline" in names and "overwrite_parquet" in names
    missing = [n for n in names if not hasattr(pipeline, n)]
    assert not missing, f"PIPELINE_CALLS names missing from plans.pipeline: {missing}"
