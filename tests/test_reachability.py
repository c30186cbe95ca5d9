"""Every package module has a caller outside the tests.

A module that only its own tests import is dead weight: it costs review
and test time and runs in no pipeline. The check is static (``ast``, no
Spark): each module under ``mlentory_etl_pipeline_spark/`` must be
imported by at least one non-test file, i.e. another package module, a
script under ``scripts/`` or ``perfbench/``, ``bench.py`` or
``__spark_entry__.py``. Imports inside functions count.
"""

from __future__ import annotations

import ast
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


def _imported(path: str, module: str) -> set[str]:
    """Every module name ``path`` imports, with each parent package and,
    for ``from X import y``, the candidate submodule ``X.y``."""
    is_pkg = path.endswith("__init__.py")
    package = module if is_pkg else module.rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(ast.parse(open(path, encoding="utf-8").read(), path)):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                parent = ".".join(parts[: len(parts) - node.level + 1])
                base = f"{parent}.{base}" if base else parent
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def test_every_package_module_has_a_non_test_importer():
    modules = {_module_name(p) for p in _py_files(PACKAGE)}
    callers = [*_py_files(PACKAGE, "scripts", "perfbench"),
               os.path.join(ROOT, "bench.py"),
               os.path.join(ROOT, "__spark_entry__.py")]
    reached: set[str] = set()
    for path in callers:
        module = _module_name(path)
        reached |= _imported(path, module) - {module}
    unreached = sorted(modules - reached - EXEMPT - {PACKAGE})
    assert unreached == [], f"imported by tests only (or by nothing): {unreached}"
    stale = sorted(EXEMPT & reached)
    assert stale == [], f"exempt modules that now have a caller: {stale}"
