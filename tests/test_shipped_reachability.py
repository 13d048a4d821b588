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

Every parameter in the package takes two values in shipped calls.
Each parameter of every top-level def and method of every package
module is checked, required or defaulted. A call site in the package or
a shipped root gives a parameter a value: the argument it passes by
keyword or by position, or the default when it leaves the parameter
out. `ClassName(...)` counts as a call of `__init__`. Calls are matched
by the called name, without resolving modules, as in the reachability
walk. A parameter fails when every shipped call gives it one and the
same literal: passing a parameter its default literal is leaving it
out, and a defaulted parameter that no shipped call reaches has its
default as its one value. A module constant passed by its bare name (an
upper-case name bound once at module level, in the calling file or
imported from it with `from ... import`, and not rebound in the calling
function) is the value it is bound to: the literal, when it is bound to
one, else the constant itself, so `f(ZOOM)` and `f(3)` pass one value
where `ZOOM = 3`. Any other non-literal argument, `*args` or `**kwargs`
counts as a second value. That includes a column expression such as
`F.col("tok")`: `dedup._tok_hash` and the `sinks._decode_obj` pandas
UDF take a column by design, as a Spark function does. A one-value
parameter is a constant: write the value where it is used, or as a
module constant when an operator and its DuckDB twin (`sql_*`) share it.

A call in tests/ is not a shipped caller. A one-value parameter whose
other values only tests pass stays only when a test needs them to
reach an edge path, or to build fixtures for a decoder of outside
input, and its def's docstring says so on a line `Test-only
parameters: <name>, <name> — <reason>`, the reason naming the
tests/test_*.py file that passes them. A one-value parameter that
files outside the package pass, files that change only with the
benchmark (bench.py, perfbench/), stays with a line `Frozen-caller
parameters: <name> — <files>`. Either line goes stale, and fails, when
shipped calls give the parameter a second value, when the def loses
it, when no test passes it another value (Test-only), or when a named
file is gone or no longer passes it (Frozen-caller).

Pure `ast`, no Spark: about three seconds, most of it parsing.
"""

from __future__ import annotations

import ast
import functools
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "tin_terrain_spark"
SHIPPED = ("bench.py", "__spark_entry__.py", "scripts", "perfbench")
MARKER = re.compile(r"Kept without a shipped caller:\s*\S")
MARK = re.compile(
    r"^(Test-only|Frozen-caller) parameters?: (\w+(?:, \w+)*)\s+—\s+(.*?)(?:\n\s*\n|\Z)",
    re.M | re.S,
)
TEST_FILE = re.compile(r"\btests/test_\w+\.py\b")
FROZEN_FILE = re.compile(r"[\w./]+\.py\b")
CONSTANT = re.compile(r"_?[A-Z][A-Z0-9_]*$")
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


@functools.cache
def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text())


@functools.cache
def _module_constants(path: Path) -> dict[str, tuple[str, str]]:
    """Each upper-case name bound once at the module level of ``path``,
    and never through `global`, -> its value: the literal's key when it
    is bound to a literal, else ("constant", "<file>:<name>")."""
    tree = _tree(path)
    bound: dict[str, list] = {}
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            single = len(targets) == 1 and isinstance(targets[0], ast.Name)
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        bound.setdefault(n.id, []).append(node.value if single else None)
        elif isinstance(node, DEFS):
            bound.setdefault(node.name, []).append(None)
        else:
            for n in ast.walk(node):
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
                    bound.setdefault(n.id, []).append(None)
                elif isinstance(n, ast.alias):
                    bound.setdefault((n.asname or n.name).split(".")[0], []).append(None)
    rebound = {g for n in ast.walk(tree) if isinstance(n, ast.Global) for g in n.names}
    return {
        name: _literal(values[0]) or ("constant", f"{path.relative_to(ROOT)}:{name}")
        for name, values in bound.items()
        if CONSTANT.match(name) and len(values) == 1 and values[0] is not None
        and name not in rebound
    }


def _imported_module(path: Path, node: ast.ImportFrom) -> Path | None:
    """The file an ImportFrom in ``path`` reads from, when it is in the repo."""
    base = path.parent
    for _ in range(node.level - 1):
        base = base.parent
    if not node.level:
        base = ROOT
    mod = base.joinpath(*(node.module or "").split("."))
    for f in (mod.with_suffix(".py"), mod / "__init__.py"):
        if f.is_file():
            return f
    return None


@functools.cache
def _constants(path: Path) -> dict[str, tuple[str, str]]:
    """The module constants a bare name in ``path`` can name: its own, and
    those it imports by name from a repo module."""
    out = dict(_module_constants(path))
    for n in ast.walk(_tree(path)):
        if isinstance(n, ast.ImportFrom) and (src := _imported_module(path, n)):
            theirs = _module_constants(src)
            for a in n.names:
                if a.name in theirs and CONSTANT.match(a.asname or a.name):
                    out[a.asname or a.name] = theirs[a.name]
    return out


def _local_names(fn) -> set[str]:
    """Names a def or lambda binds: its parameters and every name stored in
    its body, nested scopes included (which can only hide a constant)."""
    a = fn.args
    params = a.posonlyargs + a.args + a.kwonlyargs + [p for p in (a.vararg, a.kwarg) if p]
    return {p.arg for p in params} | {
        n.id for n in ast.walk(fn) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
    }


def _value(node, constants: dict):
    """An argument's value key: a literal's, or a module constant's by its
    bare name; None for anything else."""
    if isinstance(node, ast.Name):
        return constants.get(node.id)
    return _literal(node)


def _call_sites(paths) -> dict[str, list[tuple[list, dict, bool]]]:
    """Per called name, each call's (positional argument values, keyword
    argument values by name, whether it passes *args or **kwargs); a
    value is `_value`'s key, None for a non-literal."""
    sites: dict[str, list[tuple[list, dict, bool]]] = {}

    def visit(node, constants):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            local = _local_names(node)
            constants = {k: v for k, v in constants.items() if k not in local}
        if isinstance(node, ast.Call):
            name = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
            if name is not None:
                star = any(isinstance(a, ast.Starred) for a in node.args) or any(
                    k.arg is None for k in node.keywords
                )
                sites.setdefault(name, []).append((
                    [_value(a, constants) for a in node.args],
                    {k.arg: _value(k.value, constants) for k in node.keywords if k.arg},
                    star,
                ))
        for child in ast.iter_child_nodes(node):
            visit(child, constants)

    for path in paths:
        visit(_tree(path), _constants(path))
    return sites


def _package_defs():
    """(path, def, display name, called name, implicit leading args) of
    each top-level def and method in the package."""
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in _tree(path).body:
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


def _params(fn, implicit: int) -> dict[str, tuple[int | None, ast.expr | None]]:
    """Each parameter past the implicit self or cls -> (its positional
    index, None for keyword-only; its default, None when required)."""
    a = fn.args
    pos = a.posonlyargs + a.args
    defaults = [None] * (len(pos) - len(a.defaults)) + a.defaults
    out = {p.arg: (i, d) for i, (p, d) in enumerate(zip(pos, defaults)) if i >= implicit}
    out.update({p.arg: (None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)})
    return out


def _marks(fn) -> dict[str, dict[str, str]]:
    """Per line kind ("Test-only", "Frozen-caller"), each parameter the
    docstring's line names -> the line's reason."""
    out: dict[str, dict[str, str]] = {"Test-only": {}, "Frozen-caller": {}}
    for m in MARK.finditer(ast.get_docstring(fn) or ""):
        out[m.group(1)].update(dict.fromkeys(m.group(2).split(", "), m.group(3)))
    return out


def _literal(node):
    """A literal argument's (type, repr), or None."""
    try:
        v = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return None
    return type(v).__name__, repr(v)


def _omitted(default: ast.expr | None, constants: dict):
    """The value a call passes by leaving the parameter out (None when it
    is required)."""
    if default is None:
        return None
    return _value(default, constants) or ("default", ast.unparse(default))


def _values(sites, called: str, arg: str, i, omitted, implicit: int) -> list:
    """What each call passes for one parameter: a literal's or a module
    constant's key, ``omitted`` when it leaves the parameter out, and for
    anything else (a non-literal, *args or **kwargs, a required
    parameter left out) a fresh object, equal to no other value."""
    out = []
    for args, kws, star in sites.get(called, ()):
        if arg in kws:
            out.append(kws[arg] or object())
        elif not star and i is not None and i - implicit < len(args):
            out.append(args[i - implicit] or object())
        else:
            out.append(object() if star or omitted is None else omitted)
    return out


def _one_value(values: list) -> str | None:
    """The one literal every call passes, or None."""
    keys = set(values)
    if len(keys) == 1 and isinstance(only := keys.pop(), tuple):
        return only[1]
    return None


def _frozen_callers_pass(reason: str, called: str, arg: str, i, implicit: int) -> bool:
    """Whether the reason names shipped files outside the package, each
    with a call that passes the parameter itself."""
    files = FROZEN_FILE.findall(reason)
    for f in files:
        path = ROOT / f
        if not path.is_file() or PACKAGE in path.parents:
            return False
        sites = _call_sites([path]).get(called, ())
        if not any(arg in kws or (i is not None and i - implicit < len(args))
                   for args, kws, _ in sites):
            return False
    return bool(files)


def one_value_params() -> list[str]:
    """`path:line def(param): why` of each parameter that every shipped
    call passes one and the same literal, unless a valid `Test-only
    parameters:` or `Frozen-caller parameters:` line keeps it, and of
    each stale entry of such a line."""
    shipped = _call_sites([*PACKAGE.rglob("*.py"), *_shipped_files()])
    tests = _call_sites((ROOT / "tests").rglob("*.py"))
    out = []
    for path, fn, shown, called, implicit in _package_defs():
        where = f"{path.relative_to(ROOT)}:{fn.lineno} {shown}"
        params = _params(fn, implicit)
        marks = _marks(fn)
        for arg, (i, default) in params.items():
            omitted = _omitted(default, _constants(path))
            values = _values(shipped, called, arg, i, omitted, implicit)
            if not values and omitted is not None:
                values = [omitted]
            only = _one_value(values)
            kinds = [k for k, m in marks.items() if arg in m]
            if only is None:
                out += [f"{where}({arg}): marked {k.lower()}, but shipped calls pass "
                        "it more than one value" for k in kinds]
            elif "Frozen-caller" in kinds:
                if not _frozen_callers_pass(marks["Frozen-caller"][arg], called, arg, i, implicit):
                    out.append(f"{where}({arg}): marked frozen-caller, but a file its "
                               "line names is missing or no longer passes it")
            elif "Test-only" in kinds:
                if _one_value(values + _values(tests, called, arg, i, omitted, implicit)):
                    out.append(f"{where}({arg}): marked test-only, but no test passes "
                               f"another value than {only}")
                elif not any((ROOT / t).is_file()
                             for t in TEST_FILE.findall(marks["Test-only"][arg])):
                    out.append(f"{where}({arg}): its Test-only reason names no "
                               "tests/test_*.py file")
            elif called in shipped:
                out.append(f"{where}({arg}): every shipped call passes {only}")
            else:
                out.append(f"{where}({arg}): no shipped call passes it, so it is always {only}")
        out += [
            f"{where}({arg}): marked {k.lower()}, but the def has no such parameter"
            for k, m in marks.items() for arg in m.keys() - params.keys()
        ]
    return out


def test_every_parameter_takes_two_values_in_shipped_calls():
    one_valued = one_value_params()
    assert not one_valued, (
        "make each of these parameters the constant it always is; keep "
        "one only with a 'Test-only parameters: <name> — <reason naming "
        "tests/test_*.py>' line in its docstring when tests need its other "
        "values, or a 'Frozen-caller parameters: <name> — <files>' line "
        "when bench.py or perfbench/ pass it:\n  "
        + "\n  ".join(one_valued)
    )
