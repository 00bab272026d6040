"""Every engine module is reachable by imports from an entry point.

A module that only its own tests import is code nobody runs: the static
import graph from the engine's entry points must cover the package.
"""

from __future__ import annotations

import ast
from pathlib import Path

import helium_arango_etl_spark

PKG = "helium_arango_etl_spark"
ROOT = Path(helium_arango_etl_spark.__file__).parent
ENTRY_POINTS = ("registry", "plans.sync", "streaming.follower", "io", "session")
# functions/h3geo is the only implementation of COVERAGE H5/H6/M1 and is
# exercised directly by its tests
ALLOWED_UNREACHED = {f"{PKG}.functions.h3geo"}


def _modules() -> dict[str, Path]:
    mods = {}
    for path in ROOT.rglob("*.py"):
        parts = [PKG, *path.relative_to(ROOT).with_suffix("").parts]
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


def _imports(name: str, path: Path) -> set[str]:
    """Dotted names bound by the import statements of one module: each
    imported module, and each ``from``-imported name under its module."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            target = node.module or ""
            if node.level:
                base = package.rsplit(".", node.level - 1)[0]
                target = f"{base}.{target}" if target else base
            found.add(target)
            found.update(f"{target}.{a.name}" for a in node.names)
    return found


def reachable(mods: dict[str, Path]) -> set[str]:
    todo = [f"{PKG}.{e}" for e in ENTRY_POINTS]
    seen: set[str] = set()
    while todo:
        parts = todo.pop().split(".")
        # importing a.b.c also imports the packages a and a.b
        for name in (".".join(parts[:i]) for i in range(1, len(parts) + 1)):
            if name in mods and name not in seen:
                seen.add(name)
                todo.extend(_imports(name, mods[name]))
    return seen


def test_every_engine_module_is_reached_from_an_entry_point():
    mods = _modules()
    assert all(f"{PKG}.{e}" in mods for e in ENTRY_POINTS)
    orphans = sorted(set(mods) - reachable(mods) - ALLOWED_UNREACHED)
    assert orphans == [], f"engine modules no entry point imports: {orphans}"
