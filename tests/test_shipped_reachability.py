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

Every defaulted parameter in the package has a shipped caller. Each
top-level def and method of every package module is checked. A
defaulted parameter counts as passed when some call site in the
package or a shipped root passes it by keyword, positionally at or
past its index, or through `*args` or `**kwargs`. `ClassName(...)`
counts as a call of `__init__`. Calls are matched by the called name,
without resolving modules, as in the reachability walk. A parameter
that nothing passes is a constant: write the value where it is used,
or as a module constant when an operator and its DuckDB twin (`sql_*`)
share it.

A call in tests/ is not a shipped caller. A parameter that only tests
pass stays only when a test needs it to reach an edge path, or to
build fixtures for a decoder of outside input, and its def's docstring
says so on a line `Test-only parameters: <name>, <name> — <reason>`,
the reason naming the tests/test_*.py file that passes it. Such a line
goes stale, and fails, when a shipped call starts passing the
parameter, when no test passes it, or when the def loses it.

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
TEST_ONLY = re.compile(
    r"^Test-only parameters?: (\w+(?:, \w+)*)\s+—\s+(.*?)(?:\n\s*\n|\Z)", re.M | re.S
)
TEST_FILE = re.compile(r"\btests/test_\w+\.py\b")
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


def _call_sites(paths) -> dict[str, list[tuple[int, bool, set[str]]]]:
    """Per called name, each call's (positional arg count, whether it
    passes *args or **kwargs, keyword names)."""
    sites: dict[str, list[tuple[int, bool, set[str]]]] = {}
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


def _package_defs():
    """(path, def, display name, called name, implicit leading args) of
    each top-level def and method in the package."""
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    for path in sorted(PACKAGE.rglob("*.py")):
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


def _defaulted(fn) -> dict[str, int | None]:
    """Each defaulted parameter's name -> its positional index (None
    for keyword-only)."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = {p.arg: i for i, p in enumerate(pos) if i >= first}
    out.update({p.arg: None for p, d in zip(a.kwonlyargs, a.kw_defaults) if d})
    return out


def _test_only(fn) -> dict[str, str]:
    """Each parameter a `Test-only parameters:` line names -> its reason."""
    out = {}
    for m in TEST_ONLY.finditer(ast.get_docstring(fn) or ""):
        out.update(dict.fromkeys(m.group(1).split(", "), m.group(2)))
    return out


def _passed(sites, called: str, arg: str, i: int | None, implicit: int) -> bool:
    return any(
        star or arg in kws or (i is not None and n_pos + implicit > i)
        for n_pos, star, kws in sites.get(called, ())
    )


def unpassed_params() -> list[str]:
    """`path:line def(param): why` of each defaulted parameter that no
    shipped call passes and no valid `Test-only parameters:` line
    keeps, and of each stale entry of such a line."""
    shipped = _call_sites([*PACKAGE.rglob("*.py"), *_shipped_files()])
    tests = _call_sites((ROOT / "tests").rglob("*.py"))
    out = []
    for path, fn, shown, called, implicit in _package_defs():
        where = f"{path.relative_to(ROOT)}:{fn.lineno} {shown}"
        params = _defaulted(fn)
        marks = _test_only(fn)
        for arg, i in params.items():
            if _passed(shipped, called, arg, i, implicit):
                if arg in marks:
                    out.append(f"{where}({arg}): marked test-only, but a shipped call passes it")
            elif not _passed(tests, called, arg, i, implicit):
                out.append(f"{where}({arg}): no call passes it")
            elif arg not in marks:
                out.append(f"{where}({arg}): only tests pass it, and no Test-only line names it")
            elif not any((ROOT / t).is_file() for t in TEST_FILE.findall(marks[arg])):
                out.append(f"{where}({arg}): its Test-only reason names no tests/test_*.py file")
        out += [
            f"{where}({arg}): marked test-only, but it is not a defaulted parameter"
            for arg in marks.keys() - params.keys()
        ]
    return out


def test_every_operator_default_is_passed_somewhere():
    unpassed = unpassed_params()
    assert not unpassed, (
        "make each of these defaulted parameters the constant it always "
        "is, or (only tests pass it) keep it with a 'Test-only "
        "parameters: <name> — <reason naming tests/test_*.py>' line in "
        "its docstring:\n  " + "\n  ".join(unpassed)
    )
