"""Two static checks of the library, pure ``ast``, no Spark session.

- Every module-level public function under ``pyrosar_spark/`` reads
  every parameter it declares: a parameter nothing reads silently
  ignores the caller's value.
- Every module-level definition under ``pyrosar_spark/`` has a caller
  outside ``tests/``: code that only the tests reach is either deleted,
  moved into the tests, or named on a COVERAGE.md line together with
  the test that checks it.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "pyrosar_spark"


def _unread_params(source: str) -> list[tuple[int, str, str]]:
    """(line, function, parameter) for each parameter of a public
    top-level function that its body never loads (nested functions and
    lambdas in the body count as reads)."""
    out = []
    for node in ast.parse(source).body:
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        if node.name.startswith("_"):
            continue
        a = node.args
        params = [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]
        params += [p.arg for p in (a.vararg, a.kwarg) if p is not None]
        loaded = {
            n.id
            for stmt in node.body
            for n in ast.walk(stmt)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        }
        out += [(node.lineno, node.name, p) for p in params if p not in loaded]
    return out


def test_scanner_flags_an_unread_parameter():
    src = (
        "def f(a, b=1, *rest, c, **kw):\n"
        "    b = 2\n"
        "    return (lambda: a + c)()\n"
        "def _private(x):\n"
        "    return 0\n"
    )
    assert _unread_params(src) == [(1, "f", "b"), (1, "f", "rest"), (1, "f", "kw")]


def test_every_public_function_reads_its_parameters():
    unread = [
        f"{path.relative_to(PKG.parent)}:{line} {fn}({param})"
        for path in sorted(PKG.rglob("*.py"))
        for line, fn, param in _unread_params(path.read_text())
    ]
    assert unread == []


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IMPORTS = (ast.Import, ast.ImportFrom)


def _module_name(rel: str) -> str:
    parts = rel.removesuffix(".py").split("/")
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _bindings(tree: ast.Module) -> dict[str, tuple[str, ...]]:
    """Import bindings of a module: alias -> ("mod", module) or
    ("sym", module, name)."""
    out: dict[str, tuple[str, ...]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                target = a.name if a.asname else a.name.split(".")[0]
                out[a.asname or target] = ("mod", target)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            for a in node.names:
                out[a.asname or a.name] = ("sym", node.module, a.name)
    return out


def _dead_defs(sources: dict[str, str], coverage: str) -> list[tuple[str, int, str]]:
    """(path, line, name) of each module-level ``def``/``class`` under
    ``pyrosar_spark/`` that no root reaches.

    ``sources`` maps repo-relative paths to source text, tests excluded.
    Roots are every file outside ``pyrosar_spark/`` (its imports count
    as references), the module-level statements of library modules
    other than ``def``, ``class`` and imports (a library import only
    binds a name), and each backquoted name on a ``coverage`` line that
    also names a ``tests/`` file. A definition is live when a root or a
    live definition refers to it through a name, an attribute of an
    imported module (or of a call to a function that returns one) or an
    import; docstrings, comments and strings are not references."""
    mods = {}  # module -> (path, {name: def node}, bindings)
    funcs = {}  # (module, name) -> top-level function node, any file
    roots = []  # (module, statements, imports count as references)
    for rel, text in sources.items():
        tree = ast.parse(text)
        lib = rel.startswith("pyrosar_spark/")
        defs = {n.name: n for n in tree.body if lib and isinstance(n, _DEFS)}
        mods[_module_name(rel)] = (rel, defs, _bindings(tree))
        funcs.update(
            ((_module_name(rel), n.name), n) for n in tree.body if isinstance(n, ast.FunctionDef)
        )
        body = [n for n in tree.body if not (lib and isinstance(n, _DEFS + _IMPORTS))]
        roots.append((_module_name(rel), body, not lib))

    def symbol(mod, name, seen=frozenset()):
        if f"{mod}.{name}" in mods:
            return ("mod", f"{mod}.{name}")
        if mod not in mods or (mod, name) in seen:
            return None
        _, defs, binds = mods[mod]
        if name in defs:
            return ("def", mod, name)
        return bound(binds.get(name), seen | {(mod, name)})

    def bound(b, seen=frozenset()):
        if b is None or b[0] == "mod":
            return b
        return symbol(b[1], b[2], seen)

    def resolve(mod, expr):
        if isinstance(expr, ast.Name):
            _, defs, binds = mods[mod]
            return ("def", mod, expr.id) if expr.id in defs else bound(binds.get(expr.id))
        if isinstance(expr, ast.Attribute):
            base = resolve(mod, expr.value)
            if base and base[0] == "mod":
                return symbol(base[1], expr.attr)
        if isinstance(expr, ast.Call) and isinstance(expr.func, ast.Name):
            # a lazy-import helper: a function that returns a module
            fn = funcs.get((mod, expr.func.id))
            for ret in ast.walk(fn) if fn else ():
                if isinstance(ret, ast.Return) and isinstance(ret.value, ast.Name):
                    got = resolve(mod, ret.value)
                    if got and got[0] == "mod":
                        return got
        return None

    live, todo = set(), []

    def mark(ref):
        if ref and ref[0] == "def" and ref[1:] not in live:
            live.add(ref[1:])
            todo.append(ref[1:])

    def visit(mod, stmts, imports_refer):
        for stmt in stmts:
            for n in ast.walk(stmt):
                if isinstance(n, (ast.Name, ast.Attribute)):
                    mark(resolve(mod, n))
                elif imports_refer and isinstance(n, ast.ImportFrom) and not n.level:
                    for a in n.names:
                        mark(symbol(n.module, a.name))

    for mod, stmts, imports_refer in roots:
        visit(mod, stmts, imports_refer)
    rowed = {
        name
        for line in coverage.splitlines()
        if re.search(r"tests/\w", line)
        for span in re.findall(r"`([^`]*)`", line)
        for name in re.findall(r"[A-Za-z_]\w*", span)
    }
    for mod, (_, defs, _) in mods.items():
        for name in defs.keys() & rowed:
            mark(("def", mod, name))
    while todo:
        mod, name = todo.pop()
        visit(mod, [mods[mod][1][name]], False)
    return sorted(
        (rel, node.lineno, name)
        for mod, (rel, defs, _) in mods.items()
        for name, node in defs.items()
        if (mod, name) not in live
    )


def test_scanner_follows_references_not_text():
    lib = (
        '"""Module docstring naming only_in_docstring()."""\n'
        "import pyrosar_spark.other as o\n"
        "def only_in_docstring():\n"
        "    return 0\n"
        "def imported_by_root():\n"
        "    return _helper() + o.used_by_attribute()\n"
        "def _helper():\n"
        "    return 1\n"
        "def rowed():\n"
        "    return 'only_in_docstring'\n"
        "def rowed_without_test():\n"
        "    return 2\n"
    )
    other = "def used_by_attribute():\n    return 3\ndef via_lazy_import():\n    return 4\n"
    root = (
        "from pyrosar_spark.m import imported_by_root\n"
        "def _lazy():\n"
        "    from pyrosar_spark import other\n"
        "    return other\n"
        "_lazy().via_lazy_import()\n"
    )
    coverage = (
        "| X1 | `m.rowed` | tests/test_m.py |\n"
        "| X2 | `m.rowed_without_test` |\n"
    )
    sources = {"pyrosar_spark/m.py": lib, "pyrosar_spark/other.py": other, "entry.py": root}
    assert _dead_defs(sources, coverage) == [
        ("pyrosar_spark/m.py", 3, "only_in_docstring"),
        ("pyrosar_spark/m.py", 11, "rowed_without_test"),
    ]


def test_every_library_definition_is_reached_outside_the_tests():
    sources = {
        path.relative_to(REPO).as_posix(): path.read_text()
        for path in sorted(REPO.rglob("*.py"))
        if path.relative_to(REPO).parts[0] != "tests"
        and not any(part.startswith(".") for part in path.relative_to(REPO).parts)
    }
    dead = [
        f"{rel}:{line} {name}"
        for rel, line, name in _dead_defs(sources, (REPO / "COVERAGE.md").read_text())
    ]
    assert dead == []
