"""Every top-level def in the package is reached from a shipped root,
or its docstring says why it is kept.

Shipped roots are the package's module-level code (decorators and
default values included), bench.py, __spark_entry__.py, scripts/ and
perfbench/. A def is reached when a root or a reached def uses its name:
a loaded Name, a loaded Attribute or an import alias, read with `ast`.
A docstring or comment that mentions a name does not use it. Names are
matched without resolving modules, so two defs that share a name are
reached together (the walk can miss dead code that way), and a def
called only through a string, as with getattr, counts as unreached.

A def that no root reaches stays only with `Kept without a shipped
caller: <reason>` in its docstring, the reason naming the test that
compares against it. Such a def is a root too, so the helpers it calls
are reached. A class counts as one def with all its methods.

Pure `ast`, no Spark: about a second, most of it parsing.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "tin_terrain_spark"
SHIPPED = ("bench.py", "__spark_entry__.py", "scripts", "perfbench")
MARKER = re.compile(r"Kept without a shipped caller:\s*\S")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _used_names(nodes) -> set[str]:
    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                out.add(n.id)
            elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add((n.asname or n.name).rsplit(".", 1)[-1])
                out.add(n.name.rsplit(".", 1)[-1])
    return out


def _shipped_files():
    for name in SHIPPED:
        path = ROOT / name
        yield from sorted(path.rglob("*.py")) if path.is_dir() else [path]


def unreached_defs() -> list[str]:
    """`path:line name` of each unmarked package def no root reaches."""
    defs: dict[str, list[tuple[Path, ast.AST]]] = {}
    roots: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        module_code = []
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, DEFS):
                module_code.append(node)
                continue
            defs.setdefault(node.name, []).append((path, node))
            module_code += node.decorator_list
            if not isinstance(node, ast.ClassDef):
                module_code += node.args.defaults
                module_code += [d for d in node.args.kw_defaults if d]
            if MARKER.search(ast.get_docstring(node) or ""):
                roots.add(node.name)
        roots |= _used_names(module_code)
    for path in _shipped_files():
        roots |= _used_names([ast.parse(path.read_text())])

    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs.get(name, ()):
            todo += _used_names([node]) - reached
    return sorted(
        f"{path.relative_to(ROOT)}:{node.lineno} {name}"
        for name, found in defs.items() if name not in reached
        for path, node in found
    )


def test_every_package_def_is_reached_or_marked():
    dead = unreached_defs()
    assert not dead, (
        "no shipped root reaches these defs; delete them, or add "
        "'Kept without a shipped caller: <reason>' to the docstring:\n  "
        + "\n  ".join(dead)
    )
