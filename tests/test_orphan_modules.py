"""No orphan modules: every ``zparse_spark`` module is reachable by imports
from an entry point.

A static walk (AST only, no Spark, nothing imported). The roots are the
CLI (``validate.py``), the programmatic entry (``__spark_entry__.py``), the
benchmark (``valbench/*.py``) and each package ``__init__.py``. Imports
inside functions count. A module that only its own tests import is dead
code that still ships in the ``--py-files`` zip, so it fails here.

``PENDING_REMOVAL`` names the operator-registry modules that outlived the
registry and still await deletion with their tests. The list can only
shrink: a listed module must exist and still be unreachable.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "zparse_spark"

PENDING_REMOVAL = {
    "zparse_spark.functions.convert",
    "zparse_spark.functions.inference",
    "zparse_spark.operators.asof",
    "zparse_spark.operators.constraints",
    "zparse_spark.operators.dedup",
    "zparse_spark.operators.editdist",
    "zparse_spark.operators.filtering",
    "zparse_spark.operators.funnel",
    "zparse_spark.operators.setsim",
    "zparse_spark.operators.similarity",
}


def _module_files() -> dict[str, str]:
    """Dotted module name -> file path, for every module of the package."""
    out = {}
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
        out[rel.removesuffix(".__init__")] = path
    return out


def _imported(path: str, modules: dict[str, str]) -> set[str]:
    """The package modules a file imports, at any depth of its AST.
    ``from a import b`` counts ``a`` and, when it is a module, ``a.b``;
    importing ``a.b`` also runs every parent package's ``__init__``."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and node.level == 0:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    found = set()
    for name in names:
        parts = name.split(".")
        found.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return found & modules.keys()


def _roots(modules: dict[str, str]) -> list[str]:
    files = [os.path.join(ROOT, "validate.py"), os.path.join(ROOT, "__spark_entry__.py")]
    files += sorted(glob.glob(os.path.join(ROOT, "valbench", "*.py")))
    files += [p for p in modules.values() if p.endswith("__init__.py")]
    return files


def test_every_module_is_reachable_from_an_entry_point():
    modules = _module_files()
    seen: set[str] = set()
    stack = [m for f in _roots(modules) for m in _imported(f, modules)]
    stack += [m for m, p in modules.items() if p.endswith("__init__.py")]
    while stack:
        m = stack.pop()
        if m not in seen:
            seen.add(m)
            stack.extend(_imported(modules[m], modules) - seen)
    assert sorted(modules.keys() - seen) == sorted(PENDING_REMOVAL)
