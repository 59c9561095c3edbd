"""Guard against dead modules: every module file in the package must be
imported once every registry query has been built."""

from __future__ import annotations

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
