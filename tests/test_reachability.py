"""Every package module has a caller outside the tests.

A module that only its own tests import is dead weight: it costs review
and test time and runs in no pipeline. The check is static (``ast``, no
Spark): each module under ``mlentory_etl_pipeline_spark/`` must be
imported by at least one non-test file, i.e. another package module, a
script under ``scripts/`` or ``perfbench/``, ``bench.py`` or
``__spark_entry__.py``. Imports inside functions count.

The same files must not import a package name that no longer exists,
neither as ``from <module> import name`` nor as ``module.name``.
"""

from __future__ import annotations

import ast
import functools
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "mlentory_etl_pipeline_spark"

# Modules allowed to have test callers only, each with the reason.
EXEMPT = {
    # Waits for `observed` to be wired into merge_batch (ROADMAP direction 3).
    f"{PACKAGE}.metrics",
    # The S11 bucketed-join helper, driven only by its plan-shape tests.
    f"{PACKAGE}.sources.bucketing",
}


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _py_files(*dirs: str):
    for d in dirs:
        for base, _, names in os.walk(os.path.join(ROOT, d)):
            yield from (os.path.join(base, n) for n in sorted(names) if n.endswith(".py"))


def _absolute(node: ast.ImportFrom, path: str, module: str) -> str:
    """The absolute module name of ``from <node.module> import ...``."""
    if not node.level:
        return node.module or ""
    package = module if path.endswith("__init__.py") else module.rpartition(".")[0]
    parts = package.split(".")
    parent = ".".join(parts[: len(parts) - node.level + 1])
    return f"{parent}.{node.module}" if node.module else parent


def _imported(path: str, module: str) -> set[str]:
    """Every module name ``path`` imports, with each parent package and,
    for ``from X import y``, the candidate submodule ``X.y``."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(open(path, encoding="utf-8").read(), path)):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = _absolute(node, path, module)
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def _callers():
    """Every non-test file: package modules, scripts, perfbench and the
    two entry points."""
    yield from _py_files(PACKAGE, "scripts", "perfbench")
    yield os.path.join(ROOT, "bench.py")
    yield os.path.join(ROOT, "__spark_entry__.py")


def test_every_package_module_has_a_non_test_importer():
    modules = {_module_name(p) for p in _py_files(PACKAGE)}
    reached: set[str] = set()
    for path in _callers():
        module = _module_name(path)
        reached |= _imported(path, module) - {module}
    unreached = sorted(modules - reached - EXEMPT - {PACKAGE})
    assert unreached == [], f"imported by tests only (or by nothing): {unreached}"
    stale = sorted(EXEMPT & reached)
    assert stale == [], f"exempt modules that now have a caller: {stale}"


# Most registry queries import their operator inside the function body,
# so a deleted or renamed name would only fail when that one query (or
# stress case) runs. This walks every non-test file statically instead.

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _module_file(module: str) -> str | None:
    base = os.path.join(ROOT, *module.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


@functools.cache
def _top_level_names(module: str) -> frozenset[str]:
    """Names ``module`` binds outside its defs: defs, classes, assigned
    names and imports, also inside top-level ``if``/``try`` blocks."""
    path = _module_file(module)
    names = set()
    for node in ast.parse(open(path, encoding="utf-8").read(), path).body:
        if isinstance(node, (*_FUNCS, ast.ClassDef)):
            names.add(node.name)
            continue
        for sub in ast.walk(node):
            if isinstance(sub, (*_FUNCS, ast.ClassDef)):
                names.add(sub.name)
            elif isinstance(sub, ast.Name) and isinstance(sub.ctx, ast.Store):
                names.add(sub.id)
            elif isinstance(sub, ast.alias):
                names.add(sub.asname or sub.name.split(".")[0])
    return frozenset(names)


def _scope_nodes(scope):
    """The nodes of one function (or module) scope, without the bodies
    of nested defs: each of those is a scope of its own."""
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(node, _FUNCS):
            stack.extend(ast.iter_child_nodes(node))


def _package_references(path: str):
    """Yield ``(line, module, name)`` for every package name ``path``
    uses: each ``from <package module> import name`` and each
    ``alias.name`` on a package module that an import binds to ``alias``
    (in the scope of that import or any scope nested in it)."""
    module = _module_name(path)

    def walk(scope, inherited: dict[str, str]):
        own = list(_scope_nodes(scope))
        # a name the scope assigns is no longer the imported module
        rebound = {n.id for n in own
                   if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)}
        rebound |= {n.arg for n in own if isinstance(n, ast.arg)}
        rebound |= {n.name for n in own if isinstance(n, (*_FUNCS, ast.ClassDef))}
        bound = {k: v for k, v in inherited.items() if k not in rebound}
        for node in own:
            if isinstance(node, ast.ImportFrom):
                base = _absolute(node, path, module)
                pairs = [(base, a.name, a.asname or a.name) for a in node.names]
            elif isinstance(node, ast.Import):
                pairs = [(*a.name.rpartition(".")[::2], a.asname) for a in node.names]
            else:
                continue
            for base, name, local in pairs:
                if base.split(".")[0] != PACKAGE:
                    continue
                yield node.lineno, base, name
                if local and local not in rebound and _module_file(f"{base}.{name}"):
                    bound[local] = f"{base}.{name}"
        for node in own:
            if (isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id in bound):
                yield node.lineno, bound[node.value.id], node.attr
        for node in own:
            if isinstance(node, _FUNCS):
                yield from walk(node, bound)

    yield from walk(ast.parse(open(path, encoding="utf-8").read(), path), {})


def test_every_lazy_package_import_resolves():
    refs, unresolved = 0, []
    for path in _callers():
        for line, module, name in _package_references(path):
            refs += 1
            if not (_module_file(f"{module}.{name}")
                    or _module_file(module) and name in _top_level_names(module)):
                rel = os.path.relpath(path, ROOT)
                unresolved.append(f"{rel}:{line}: {module}.{name}")
    # the walk must see the registry's function-local operator imports
    assert refs > 300, f"only {refs} package references found"
    assert unresolved == [], "names that no longer exist:\n" + "\n".join(sorted(unresolved))
