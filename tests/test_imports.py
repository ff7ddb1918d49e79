"""Import guards over the package, ``jobs/``, ``perfbench/``,
``tests/`` and ``__spark_entry__.py``:

* dangling imports: every ``mapnik_vector_tile_spark.*`` import must
  resolve. Most package imports sit inside functions (they run only
  when that path runs), so removing a module can leave one behind that
  imports cleanly and only fails later. This walks the source AST
  instead of executing it; only the imported package modules are
  loaded.
* unused imports: every module-level import must bind a name that the
  file reads somewhere, so a removal cannot leave its imports behind.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import re
import symtable
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


_NOQA_F401 = re.compile(r"#\s*noqa:[^#]*\bF401\b")


def _global_reads(table: symtable.SymbolTable) -> set[str]:
    """Names that this scope or any nested scope reads from the module
    namespace; a function that binds the name itself (a local import of
    the same alias, say) does not read the module-level one."""
    out = {
        s.get_name()
        for s in table.get_symbols()
        if s.is_referenced() and (table.get_type() == "module" or s.is_global())
    }
    for child in table.get_children():
        out |= _global_reads(child)
    return out


def _unused_imports(src: str, name: str = "<src>") -> list[str]:
    """``line: name`` for every module-level import whose bound name the
    file never reads. Annotations count as reads (under
    ``from __future__ import annotations`` the symbol table skips them).
    ``__future__`` imports and ``# noqa: F401`` lines are exempt."""
    tree = ast.parse(src)
    used = _global_reads(symtable.symtable(src, name, "exec"))
    for node in ast.walk(tree):
        anns = []
        if isinstance(node, ast.arg):
            anns.append(node.annotation)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            anns.append(node.returns)
        elif isinstance(node, ast.AnnAssign):
            anns.append(node.annotation)
        for ann in filter(None, anns):
            used |= {n.id for n in ast.walk(ann) if isinstance(n, ast.Name)}
    lines = src.split("\n")
    bad = []
    for node in tree.body:
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if any(
            _NOQA_F401.search(line)
            for line in lines[node.lineno - 1 : node.end_lineno]
        ):
            continue
        for alias in node.names:
            bound = alias.asname or alias.name.split(".")[0]
            if bound not in used:
                bad.append(f"{node.lineno}: {bound}")
    return bad


def test_no_unused_module_imports():
    bad = [
        f"{path.relative_to(ROOT)}:{msg}"
        for path in _sources()
        for msg in _unused_imports(path.read_text(), str(path))
    ]
    assert not bad, "\n".join(bad)


def test_unused_import_check_sees_shadowing_and_annotations():
    src = """
from __future__ import annotations
import json
import os, re
import numpy as np  # noqa: F401
from pyspark.sql import DataFrame, functions as F
from typing import Any


def f(df: DataFrame) -> Any:
    from pyspark.sql import functions as F
    return F.col(os.sep)


class C:
    x = [re.escape(s) for s in ()]
"""
    assert _unused_imports(src) == ["3: json", "6: F"]
