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

Every defaulted parameter of an operator has a caller that passes it.
In operators/, pipeline/, session.py, queries.py and queries_ext.py,
each top-level def and method is checked. A defaulted parameter counts
as passed when some call site in the package, a shipped root or tests/
passes it by keyword, positionally at or past its index, or through
`*args` or `**kwargs`. `ClassName(...)` counts as a call of `__init__`.
Calls are matched by the called name, without resolving modules, as in
the reachability walk. A parameter that nothing passes is a constant:
write the value where it is used, or as a module constant when an
operator and its DuckDB twin (`sql_*`) share it.

Pure `ast`, no Spark: about a second, most of it parsing.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "tin_terrain_spark"
SHIPPED = ("bench.py", "__spark_entry__.py", "scripts", "perfbench")
PARAM_SCOPE = ("operators", "pipeline", "session.py", "queries.py", "queries_ext.py")
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


def _files(base: Path, names):
    for name in names:
        path = base / name
        yield from sorted(path.rglob("*.py")) if path.is_dir() else [path]


def _shipped_files():
    yield from _files(ROOT, SHIPPED)


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


def _call_sites() -> dict[str, list[tuple[int, bool, set[str]]]]:
    """Per called name, each call's (positional arg count, whether it
    passes *args or **kwargs, keyword names)."""
    sites: dict[str, list[tuple[int, bool, set[str]]]] = {}
    paths = [*PACKAGE.rglob("*.py"), *_shipped_files(), *(ROOT / "tests").rglob("*.py")]
    for path in paths:
        for n in ast.walk(ast.parse(path.read_text())):
            if not isinstance(n, ast.Call):
                continue
            name = getattr(n.func, "id", None) or getattr(n.func, "attr", None)
            if name is None:
                continue
            star = any(isinstance(a, ast.Starred) for a in n.args) or any(
                k.arg is None for k in n.keywords
            )
            sites.setdefault(name, []).append(
                (len(n.args), star, {k.arg for k in n.keywords})
            )
    return sites


def _scoped_defs():
    """(path, def, display name, called name, implicit leading args) of
    each top-level def and method under PARAM_SCOPE."""
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    for path in _files(PACKAGE, PARAM_SCOPE):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, funcs):
                yield path, node, node.name, node.name, 0
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if not isinstance(m, funcs):
                        continue
                    static = any(
                        getattr(d, "id", None) == "staticmethod" for d in m.decorator_list
                    )
                    called = node.name if m.name == "__init__" else m.name
                    yield path, m, f"{node.name}.{m.name}", called, 0 if static else 1


def unpassed_params() -> list[str]:
    """`path:line def(param)` of each defaulted parameter under
    PARAM_SCOPE that no call site passes."""
    sites = _call_sites()
    out = []
    for path, fn, shown, called, implicit in _scoped_defs():
        a = fn.args
        pos = a.posonlyargs + a.args
        first = len(pos) - len(a.defaults)
        params = [(i, p.arg) for i, p in enumerate(pos) if i >= first]
        params += [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
        for i, arg in params:
            if not any(
                star or arg in kws or (i is not None and n_pos + implicit > i)
                for n_pos, star, kws in sites.get(called, ())
            ):
                out.append(f"{path.relative_to(ROOT)}:{fn.lineno} {shown}({arg})")
    return out


def test_every_operator_default_is_passed_somewhere():
    unpassed = unpassed_params()
    assert not unpassed, (
        "no call site passes these defaulted parameters; make each the "
        "constant it always is:\n  " + "\n  ".join(unpassed)
    )
