"""Dangling-import guard: every ``mapnik_vector_tile_spark.*`` import in
the package, ``jobs/``, ``perfbench/``, ``tests/`` and
``__spark_entry__.py`` must resolve.

Most package imports sit inside functions (they run only when that
path runs), so removing a module can leave one behind that imports
cleanly and only fails later. This walks the source AST instead of
executing it; only the imported package modules are loaded."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "mapnik_vector_tile_spark"


def _sources() -> list[Path]:
    files = [ROOT / "__spark_entry__.py"]
    for d in (PKG, "jobs", "perfbench", "tests"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files


def _package_imports(src: str) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for every package import at any depth;
    name is None for ``import module``."""
    out = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            out += [(node.lineno, node.module, a.name) for a in node.names]
    return [t for t in out if t[1] == PKG or t[1].startswith(PKG + ".")]


def _resolves(mod: str) -> bool:
    try:
        return importlib.util.find_spec(mod) is not None
    except ModuleNotFoundError:  # a missing parent package
        return False


def _dangling(src: str) -> list[str]:
    bad = []
    for line, mod, name in _package_imports(src):
        if not _resolves(mod):
            bad.append(f"{line}: no module {mod}")
        elif name not in (None, "*"):
            try:
                found = hasattr(importlib.import_module(mod), name)
            except ImportError as e:
                bad.append(f"{line}: importing {mod} fails: {e}")
                continue
            if not found and not _resolves(f"{mod}.{name}"):
                bad.append(f"{line}: {mod} has no {name}")
    return bad


def test_every_package_import_resolves():
    bad = [
        f"{path.relative_to(ROOT)}:{msg}"
        for path in _sources()
        for msg in _dangling(path.read_text())
    ]
    assert not bad, "\n".join(bad)


def test_guard_sees_function_level_imports():
    src = f"""
def f():
    from {PKG}.functions import pbf, no_such_module
    from {PKG}.functions.pbf import varint_of, no_such_name
    import {PKG}.no_such_package.x
"""
    assert _dangling(src) == [
        f"3: {PKG}.functions has no no_such_module",
        f"4: {PKG}.functions.pbf has no no_such_name",
        f"5: no module {PKG}.no_such_package.x",
    ]
