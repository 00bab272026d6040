"""Every engine module and every top-level engine function or class is
reachable from an entry point.

A module that only its own tests import is code nobody runs: the static
import graph from the engine's entry points must cover the package.  The
same holds one level down for the functions and classes inside reached
modules, by the names the entry points and the reached code mention.
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


# Function level: every top-level function or class of a reached module is
# named, transitively, from an entry point.  Names are matched without
# their module (``io.write_keyed`` and ``write_keyed`` both reach
# ``write_keyed``), so a shared name can only hide dead code, never flag
# live code.
REPO = ROOT.parent
ENTRY_NAMES = {
    "registry": {"QUERIES", "ORACLE"},
    "plans.sync": {"sync_inventories", "backfill_payments", "read_collection"},
}
# modules whose every public name is an entry point
ENTRY_MODULES = ("streaming.follower", "session")
# driver contract and benchmark: every name they mention is an entry point
# (perfbench sources are only read, never imported)
ENTRY_FILES = (REPO / "__spark_entry__.py", *sorted((REPO / "perfbench").glob("*.py")))
ALLOWED_UNREACHED_NAMES = {
    # the semantic spec the append-only ignore writer is tested against
    f"{PKG}.io.merge_ignore",
    # the reference's Postgres source (SURVEY A1/K1); no database here
    f"{PKG}.io.read_jdbc_table",
    f"{PKG}.io.jdbc_scan_options",
    # the correctness reference height_asof is tested against
    f"{PKG}.operators.temporal.height_asof_naive",
    # a test seam for near-dup pairs over an in-memory frame
    f"{PKG}.operators.similarity.near_dup_pairs_for",
}


def _mentions(node: ast.AST) -> set[str]:
    """Every name and attribute name that appears under ``node``."""
    found = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            found.add(n.id)
        elif isinstance(n, ast.Attribute):
            found.add(n.attr)
    return found


def _assigned(target: ast.AST) -> set[str]:
    """Module-level names bound or mutated by an assignment target
    (``X = ...``, ``X[k] = ...``, ``X.a = ...``, ``a, b = ...``)."""
    while isinstance(target, (ast.Subscript, ast.Attribute, ast.Starred)):
        target = target.value
    if isinstance(target, ast.Name):
        return {target.id}
    if isinstance(target, (ast.Tuple, ast.List)):
        return set().union(*map(_assigned, target.elts))
    return set()


def _top_level(tree: ast.Module) -> tuple[dict[str, set[str]], set[str]]:
    """(top-level name -> names its definition mentions, names mentioned by
    the module-level statements that run at import and bind no name)."""
    defs: dict[str, set[str]] = {}
    runs: set[str] = set()
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defs.setdefault(stmt.name, set()).update(_mentions(stmt))
        elif isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
            for name in set().union(*map(_assigned, targets)):
                defs.setdefault(name, set()).update(_mentions(stmt.value or stmt))
        elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
            runs |= _mentions(stmt)
    return defs, runs


def unreached_definitions(mods: dict[str, Path]) -> list[str]:
    trees = {name: ast.parse(path.read_text()) for name, path in mods.items()}
    defs: dict[str, set[str]] = {}
    todo: set[str] = set()
    for tree in trees.values():
        module_defs, runs = _top_level(tree)
        for name, uses in module_defs.items():
            defs.setdefault(name, set()).update(uses)
        todo |= runs
    todo |= set().union(*ENTRY_NAMES.values())
    for mod in ENTRY_MODULES:
        todo |= {n for n in _top_level(trees[f"{PKG}.{mod}"])[0] if not n.startswith("_")}
    for path in ENTRY_FILES:
        todo |= _mentions(ast.parse(path.read_text()))
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo |= defs.get(name, set()) - seen
    return sorted(
        f"{mod}.{stmt.name}"
        for mod, tree in trees.items()
        if mod not in ALLOWED_UNREACHED
        for stmt in tree.body
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and stmt.name not in seen
        and f"{mod}.{stmt.name}" not in ALLOWED_UNREACHED_NAMES
    )


def test_every_engine_function_is_reached_from_an_entry_point():
    mods = _modules()
    for mod, names in ENTRY_NAMES.items():
        path = mods[f"{PKG}.{mod}"]
        assert names <= set(_top_level(ast.parse(path.read_text()))[0]), mod
    orphans = unreached_definitions(mods)
    assert orphans == [], f"engine functions and classes no entry point names: {orphans}"
