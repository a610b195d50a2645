"""Three static checks of the library, pure ``ast``, no Spark session.

- Every module-level public function under ``pyrosar_spark/`` reads
  every parameter it declares: a parameter nothing reads silently
  ignores the caller's value.
- Every module-level definition under ``pyrosar_spark/`` has a caller
  outside ``tests/``: code that only the tests reach is either deleted,
  moved into the tests, or named on a COVERAGE.md line together with
  the test that checks it.
- Every defaulted parameter of a public function under
  ``pyrosar_spark/`` is passed by some call in the repository, tests
  included: a parameter no call passes is a constant. The one
  exception list (``_SETTINGS``) holds deployment settings.

The last two share one name resolver (``_Names``).
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


class _Names:
    """Name resolution over a set of sources, pure ``ast``: which
    module or module-level ``def``/``class`` under ``pyrosar_spark/``
    an expression refers to, through a name, an import alias, an
    attribute of an imported module, or a call to a lazy-import helper
    (a function that returns a module). Resolved references are
    ``("mod", module)`` or ``("def", module, name)``."""

    def __init__(self, sources: dict[str, str]):
        self.trees = {}  # module -> (path, parsed tree)
        self.mods = {}  # module -> (path, {name: def node}, bindings)
        self.funcs = {}  # (module, name) -> top-level function node, any file
        for rel, text in sources.items():
            tree, mod = ast.parse(text), _module_name(rel)
            lib = rel.startswith("pyrosar_spark/")
            defs = {n.name: n for n in tree.body if lib and isinstance(n, _DEFS)}
            self.trees[mod] = (rel, tree)
            self.mods[mod] = (rel, defs, _bindings(tree))
            self.funcs.update(
                ((mod, n.name), n) for n in tree.body if isinstance(n, ast.FunctionDef)
            )

    def symbol(self, mod, name, seen=frozenset()):
        if f"{mod}.{name}" in self.mods:
            return ("mod", f"{mod}.{name}")
        if mod not in self.mods or (mod, name) in seen:
            return None
        _, defs, binds = self.mods[mod]
        if name in defs:
            return ("def", mod, name)
        return self.bound(binds.get(name), seen | {(mod, name)})

    def bound(self, b, seen=frozenset()):
        if b is None or b[0] == "mod":
            return b
        return self.symbol(b[1], b[2], seen)

    def resolve(self, mod, expr):
        if isinstance(expr, ast.Name):
            _, defs, binds = self.mods[mod]
            return ("def", mod, expr.id) if expr.id in defs else self.bound(binds.get(expr.id))
        if isinstance(expr, ast.Attribute):
            base = self.resolve(mod, expr.value)
            if base and base[0] == "mod":
                return self.symbol(base[1], expr.attr)
        if isinstance(expr, ast.Call) and isinstance(expr.func, ast.Name):
            # a lazy-import helper: a function that returns a module
            fn = self.funcs.get((mod, expr.func.id))
            for ret in ast.walk(fn) if fn else ():
                if isinstance(ret, ast.Return) and isinstance(ret.value, ast.Name):
                    got = self.resolve(mod, ret.value)
                    if got and got[0] == "mod":
                        return got
        return None


def _dead_defs(sources: dict[str, str], coverage: str) -> list[tuple[str, int, str]]:
    """(path, line, name) of each module-level ``def``/``class`` under
    ``pyrosar_spark/`` that no root reaches.

    ``sources`` maps repo-relative paths to source text, tests excluded.
    Roots are every file outside ``pyrosar_spark/`` (its imports count
    as references), the module-level statements of library modules
    other than ``def``, ``class`` and imports (a library import only
    binds a name), and each backquoted name on a ``coverage`` line that
    also names a ``tests/`` file. A definition is live when a root or a
    live definition refers to it (``_Names.resolve``) or imports it;
    docstrings, comments and strings are not references."""
    names = _Names(sources)
    mods, resolve, symbol = names.mods, names.resolve, names.symbol
    roots = []  # (module, statements, imports count as references)
    for mod, (rel, tree) in names.trees.items():
        lib = rel.startswith("pyrosar_spark/")
        body = [n for n in tree.body if not (lib and isinstance(n, _DEFS + _IMPORTS))]
        roots.append((mod, body, not lib))

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


def _repo_sources() -> dict[str, str]:
    """Every ``.py`` file of the repo by repo-relative path."""
    return {
        path.relative_to(REPO).as_posix(): path.read_text()
        for path in sorted(REPO.rglob("*.py"))
        if not any(part.startswith(".") for part in path.relative_to(REPO).parts)
    }


def test_every_library_definition_is_reached_outside_the_tests():
    sources = {rel: text for rel, text in _repo_sources().items() if not rel.startswith("tests/")}
    dead = [
        f"{rel}:{line} {name}"
        for rel, line, name in _dead_defs(sources, (REPO / "COVERAGE.md").read_text())
    ]
    assert dead == []


def _literal_keys(node: ast.expr) -> set[str] | None:
    """String keys of a ``dict(k=...)`` or ``{"k": ...}`` literal."""
    if isinstance(node, ast.Dict) and all(isinstance(k, ast.Constant) for k in node.keys):
        return {k.value for k in node.keys}
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "dict"
        and not node.args
        and all(kw.arg for kw in node.keywords)
    ):
        return {kw.arg for kw in node.keywords}
    return None


def _unpassed_params(sources: dict[str, str]) -> list[tuple[str, int, str, str]]:
    """(path, line, function, parameter) for each defaulted parameter
    of a public module-level function under ``pyrosar_spark/`` that no
    call in ``sources`` passes.

    A call counts when its callee resolves (``_Names.resolve``) to the
    function. It passes a parameter by keyword, positionally at the
    parameter's index, or through ``**NAME`` with ``NAME`` a
    module-level ``dict(...)``/``{...}`` literal of the calling module
    that holds the parameter's name. Any other ``*args``/``**kwargs``
    passes every parameter."""
    names = _Names(sources)
    passed: dict[tuple[str, str], set[str]] = {}
    for mod, (_, tree) in names.trees.items():
        dicts = {
            n.targets[0].id: keys
            for n in tree.body
            if isinstance(n, ast.Assign)
            and len(n.targets) == 1
            and isinstance(n.targets[0], ast.Name)
            and (keys := _literal_keys(n.value)) is not None
        }
        for call in ast.walk(tree):
            ref = isinstance(call, ast.Call) and names.resolve(mod, call.func)
            if not ref or ref[0] != "def":
                continue
            fn = names.mods[ref[1]][1][ref[2]]
            if not isinstance(fn, ast.FunctionDef):
                continue
            a = fn.args
            positional = [p.arg for p in a.posonlyargs + a.args]
            every = positional + [p.arg for p in a.kwonlyargs]
            got = passed.setdefault(ref[1:], set())
            for i, arg in enumerate(call.args):
                got.update(every if isinstance(arg, ast.Starred) else positional[i : i + 1])
            for kw in call.keywords:
                if kw.arg is not None:
                    got.add(kw.arg)
                elif isinstance(kw.value, ast.Name) and kw.value.id in dicts:
                    got |= dicts[kw.value.id]
                else:
                    got.update(every)
    out = []
    for mod, (rel, defs, _) in names.mods.items():
        for fn in defs.values():
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            a = fn.args
            positional = a.posonlyargs + a.args
            defaulted = positional[len(positional) - len(a.defaults) :]
            defaulted += [p for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            got = passed.get((mod, fn.name), set())
            out += [(rel, p.lineno, fn.name, p.arg) for p in defaulted if p.arg not in got]
    return sorted(out)


def test_scanner_counts_every_way_a_call_passes_a_parameter():
    lib = (
        "def f(a, by_pos=1, by_dict=2, nothing=3, *, by_kw=4):\n"
        "    return a\n"
        "def g(x=1):\n"
        "    return x\n"
        "def h(y=1):\n"
        "    return y\n"
    )
    root = (
        "import pyrosar_spark.m as m\n"
        "from pyrosar_spark.m import f\n"
        "OPTS = dict(by_dict=0)\n"
        "f(0, 1, **OPTS)\n"
        "m.f(0, by_kw=1)\n"
        "df.g(x=2)\n"
        "m.h(*args)\n"
    )
    sources = {"pyrosar_spark/m.py": lib, "entry.py": root}
    assert _unpassed_params(sources) == [
        ("pyrosar_spark/m.py", 1, "f", "nothing"),
        ("pyrosar_spark/m.py", 3, "g", "x"),
    ]


# Deployment settings a deployment passes, though nothing in the repo does.
_SETTINGS = {
    "odc_ingestion_yaml(ingest_location)": "a path: where the ODC ingestion writes its output",
}


def test_every_defaulted_parameter_has_a_caller():
    flagged = {
        f"{fn}({param})": f"{rel}:{line} {fn}({param})"
        for rel, line, fn, param in _unpassed_params(_repo_sources())
    }
    assert sorted(v for k, v in flagged.items() if k not in _SETTINGS) == []
    assert sorted(_SETTINGS.keys() - flagged.keys()) == []
