"""Dead-surface check (static, no Spark): every top-level def or class in
``ficaria_spark/`` must be referenced from somewhere other than ``tests/``
and its own definition.

A reference is a whole-word match of the name in the code of the library
itself, ``bench.py``, ``bench_extra.py``, ``main.py``,
``__spark_entry__.py``, ``perfbench/`` or ``tools/``. Docstrings and
comments are blanked first, so a mention in prose does not count; other
string literals do (a string in ``__all__`` or a registry is a reference).
The check is transitive: a def whose only references sit inside dead defs
is dead too, so dead defs are blanked and the scan repeats until nothing
new is found (allowlisted defs stay live). ``@register`` query functions (reached through the
``QUERIES`` registry) and module ``__getattr__`` hooks are exempt; the few
public names kept without a caller are allowlisted with a reason.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIB = ROOT / "ficaria_spark"

ALLOWLIST = {
    "Pipeline": "the reference's entry point, kept for its public surface",
}


def _code_only(text: str) -> str:
    """``text`` with every docstring and comment replaced by spaces, so
    line numbers and the remaining code are unchanged."""
    doc_rows = set()
    for node in ast.walk(ast.parse(text)):
        body = getattr(node, "body", None)
        if (isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                              ast.AsyncFunctionDef))
                and body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            doc_rows.update(range(body[0].lineno, body[0].end_lineno + 1))
    lines = text.splitlines(keepends=True)
    for tok in tokenize.generate_tokens(io.StringIO(text).readline):
        if tok.type == tokenize.COMMENT or (
                tok.type == tokenize.STRING and tok.start[0] in doc_rows):
            (r0, c0), (r1, c1) = tok.start, tok.end
            for r in range(r0, r1 + 1):
                line = lines[r - 1]
                a = c0 if r == r0 else 0
                b = c1 if r == r1 else len(line.rstrip("\n"))
                lines[r - 1] = line[:a] + " " * (b - a) + line[b:]
    return "".join(lines)


def _sources() -> dict[Path, str]:
    files = [*LIB.rglob("*.py"), *(ROOT / "perfbench").rglob("*.py"),
             *(ROOT / "tools").rglob("*.py")]
    files += [ROOT / f for f in ("bench.py", "bench_extra.py", "main.py",
                                 "__spark_entry__.py")]
    return {p: p.read_text(encoding="utf-8") for p in files if p.is_file()}


def _is_registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        target = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(target, ast.Name) and target.id == "register":
            return True
    return False


def _top_level_defs(path: Path, text: str):
    """(name, first line, last line) of each top-level def/class, decorators
    included, minus the exempt ones."""
    for node in ast.parse(text, filename=str(path)).body:
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
            continue
        if node.name == "__getattr__" or _is_registered(node):
            continue
        first = min([node.lineno, *(d.lineno for d in node.decorator_list)])
        yield node.name, first, node.end_lineno


def _blank(text: str, first: int, last: int) -> str:
    lines = text.splitlines(keepends=True)
    for r in range(first - 1, last):
        lines[r] = "\n" if lines[r].endswith("\n") else ""
    return "".join(lines)


def _unreferenced() -> list[str]:
    sources = _sources()
    code = {p: _code_only(text) for p, text in sources.items()}
    defs = [(path, *d) for path in sorted(p for p in sources
                                          if p.is_relative_to(LIB))
            for d in _top_level_defs(path, sources[path])]
    dead: dict[str, tuple] = {}
    while True:
        found = {}
        for path, name, first, last in defs:
            key = f"{path.relative_to(ROOT)}::{name}"
            if key in dead:
                continue
            word = re.compile(rf"\b{re.escape(name)}\b")
            if not any(word.search(_blank(text, first, last) if p == path
                                   else text)
                       for p, text in code.items()):
                found[key] = (path, first, last)
        if not found:
            return sorted(dead)
        dead.update(found)
        for key, (path, first, last) in found.items():
            if key.split("::")[1] not in ALLOWLIST:
                code[path] = _blank(code[path], first, last)


def test_every_library_def_has_a_non_test_reference():
    dead = [d for d in _unreferenced() if d.split("::")[1] not in ALLOWLIST]
    assert not dead, ("top-level defs referenced only by tests (delete them, "
                      "or allowlist with a reason): " + ", ".join(dead))


def test_allowlist_is_current():
    """An allowlisted name that gained a caller, or was deleted, leaves
    the allowlist."""
    dead = {d.split("::")[1] for d in _unreferenced()}
    assert set(ALLOWLIST) <= dead, sorted(set(ALLOWLIST) - dead)
