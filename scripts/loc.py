#!/usr/bin/env python
"""Count total and code lines of Python sources.

Usage: python scripts/loc.py [path ...]   (default: the package, tests)

A code line is a physical line holding at least one token that is not a
comment, a blank or part of a docstring (the leading string statement of
a module, class or function). Decorators count as code. Each path (a
file or a directory walked for ``*.py``) prints one line:
``<path>  files=N  total=T  code=C``.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count(source: str) -> tuple[int, int]:
    """(total lines, code lines) of one Python source text."""
    docs = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        code.update(ln for ln in range(tok.start[0], tok.end[0] + 1) if ln not in docs)
    return len(source.splitlines()), len(code)


def _files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(".") and d != "__pycache__")
        out += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
    return out


def main(argv: list[str]) -> None:
    paths = argv or [os.path.join(_ROOT, "cooler_mapreduce_spark"), os.path.join(_ROOT, "tests")]
    for path in paths:
        files = _files(path)
        total = code = 0
        for f in files:
            with open(f, encoding="utf-8") as fh:
                t, c = count(fh.read())
            total += t
            code += c
        print(f"{path}  files={len(files)}  total={total}  code={code}")


if __name__ == "__main__":
    main(sys.argv[1:])
