"""Guard against dead code: every module file in the package must be
imported once every registry query has been built, and every public
top-level function must be referenced from code elsewhere in the
package."""

from __future__ import annotations

import ast
import importlib
import pathlib
import sys

import thisishappening_spark

PACKAGE = "thisishappening_spark"


def _module_names() -> set[str]:
    root = pathlib.Path(thisishappening_spark.__file__).parent
    names = set()
    for path in root.rglob("*.py"):
        parts = path.relative_to(root.parent).with_suffix("").parts
        names.add(".".join(parts[:-1] if parts[-1] == "__init__" else parts))
    return names


def test_every_module_is_reached_by_the_registry(spark, sf_dir):
    # Import the package afresh so modules that other tests imported
    # directly do not count; the originals are restored afterwards.
    saved = {n: m for n, m in sys.modules.items() if n == PACKAGE or n.startswith(PACKAGE + ".")}
    for n in saved:
        del sys.modules[n]
    try:
        registry = importlib.import_module(f"{PACKAGE}.queries").REGISTRY
        for spec in registry.values():
            spec.fn(spark, sf_dir)
        unreached = _module_names() - set(sys.modules)
    finally:
        for n in [n for n in sys.modules if n == PACKAGE or n.startswith(PACKAGE + ".")]:
            del sys.modules[n]
        sys.modules.update(saved)
    assert not unreached, f"modules no registry query imports: {sorted(unreached)}"


# Public functions kept without a package caller, each with its reason.
UNCALLED_BY_DESIGN = {
    "ranked_dictionary": "its tests are on the floor list (ROADMAP item 6); "
    "no query ranks a dictionary since token ids became md5 hashes",
    "invalidate_relation_cache": "the API for a caller that appends to or "
    "rewrites a table in a long-lived session",
}


def test_every_public_function_is_referenced():
    """Each public top-level function is named in code (a call, an
    attribute or another module's import, not a docstring) outside its
    own body. ``@query`` functions are reached through the registry."""
    root = pathlib.Path(thisishappening_spark.__file__).parent
    trees = {path: ast.parse(path.read_text()) for path in root.rglob("*.py")}
    unreferenced = []
    for path, tree in trees.items():
        for fn in tree.body:
            if (
                not isinstance(fn, ast.FunctionDef)
                or fn.name.startswith("_")
                or fn.name in UNCALLED_BY_DESIGN
                or any(
                    isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
                    for d in fn.decorator_list
                )
            ):
                continue
            own = {id(n) for n in ast.walk(fn)}
            if not any(
                id(n) not in own
                and (
                    (isinstance(n, ast.Name) and n.id == fn.name)
                    or (isinstance(n, ast.Attribute) and n.attr == fn.name)
                    or (isinstance(n, ast.alias) and n.name == fn.name and other != path)
                )
                for other, t in trees.items()
                for n in ast.walk(t)
            ):
                unreferenced.append(f"{path.relative_to(root.parent)}:{fn.name}")
    assert not unreferenced, f"public functions nothing in the package references: {unreferenced}"
