"""Every module-level public function under ``pyrosar_spark/`` reads
every parameter it declares: a parameter nothing reads silently ignores
the caller's value. Pure ``ast``, no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "pyrosar_spark"


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
