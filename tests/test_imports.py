"""Import guards over the package, ``jobs/``, ``perfbench/``,
``tests/`` and ``__spark_entry__.py``:

* dangling imports: every ``mapnik_vector_tile_spark.*`` import must
  resolve. Most package imports sit inside functions (they run only
  when that path runs), so removing a module can leave one behind that
  imports cleanly and only fails later. This walks the source AST
  instead of executing it; only the imported package modules are
  loaded.
* unused imports: every module-level import must bind a name that the
  file reads somewhere, and every import inside a function a name that
  the function or a function nested in it reads, so a removal cannot
  leave its imports behind.
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


def _annotation_names(node: ast.AST) -> set[str]:
    """Names read by the annotations under ``node``; under
    ``from __future__ import annotations`` the symbol table skips them."""
    out = set()
    for n in ast.walk(node):
        anns = []
        if isinstance(n, ast.arg):
            anns.append(n.annotation)
        elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            anns.append(n.returns)
        elif isinstance(n, ast.AnnAssign):
            anns.append(n.annotation)
        for ann in filter(None, anns):
            out |= {x.id for x in ast.walk(ann) if isinstance(x, ast.Name)}
    return out


def _unused_imports(src: str, name: str = "<src>") -> list[str]:
    """``line: name`` for every module-level import whose bound name the
    file never reads. Annotations count as reads (under
    ``from __future__ import annotations`` the symbol table skips them).
    ``__future__`` imports and ``# noqa: F401`` lines are exempt."""
    tree = ast.parse(src)
    used = _global_reads(symtable.symtable(src, name, "exec"))
    used |= _annotation_names(tree)
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


def _own_imports(fn: ast.AST) -> list[ast.Import | ast.ImportFrom]:
    """Import statements of ``fn``'s own body, nested scopes excluded."""
    out, todo = [], list(fn.body)
    while todo:
        n = todo.pop()
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            out.append(n)
        elif not isinstance(
            n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            todo.extend(ast.iter_child_nodes(n))
    return out


def _reads(table: symtable.SymbolTable, name: str) -> bool:
    """Whether ``table`` or a scope nested in it reads its binding of
    ``name`` (a nested scope reads it when the name is free there)."""
    if table.lookup(name).is_referenced():
        return True
    for child in table.get_children():
        try:
            if child.lookup(name).is_free():
                return True
        except KeyError:
            pass
    return False


def _unused_local_imports(src: str, name: str = "<src>") -> list[str]:
    """``line: name`` for every import inside a function whose bound
    name neither that function nor a function nested in it reads.
    ``# noqa: F401`` does not exempt them: a function-local import is
    never a re-export."""
    tree = ast.parse(src)
    tables = {}
    todo = [symtable.symtable(src, name, "exec")]
    while todo:
        t = todo.pop()
        tables[(t.get_name(), t.get_lineno())] = t
        todo.extend(t.get_children())
    bad = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        table = tables[(fn.name, fn.lineno)]
        anns = _annotation_names(fn)
        for node in _own_imports(fn):
            for alias in node.names:
                bound = alias.asname or alias.name.split(".")[0]
                if bound != "*" and bound not in anns and not _reads(table, bound):
                    bad.append(f"{node.lineno}: {bound}")
    return sorted(bad, key=lambda b: int(b.split(":")[0]))


def test_no_unused_function_imports():
    bad = [
        f"{path.relative_to(ROOT)}:{msg}"
        for path in _sources()
        for msg in _unused_local_imports(path.read_text(), str(path))
    ]
    assert not bad, "\n".join(bad)


def test_unused_local_import_check_sees_nested_reads_and_shadowing():
    src = """
from __future__ import annotations


def f():
    import json
    import numpy as np  # noqa: F401
    import pandas as pd
    from pyspark.sql import functions as F, types as T

    def g(x: pd.Series):
        return json.dumps(x)

    def h():
        from pyspark.sql import functions as F
        return F.col("a")

    return g, h
"""
    assert _unused_local_imports(src) == ["7: np", "9: F", "9: T"]


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
