#!/usr/bin/env python
"""Count code lines in Python files: non-blank lines that are neither
comments nor docstrings (module, class and function docstrings, found
with ``ast``; comments and blank lines found with ``tokenize``).
Prints one ``<path> <code lines> <physical lines>`` row per file and a
total row. A directory argument counts every ``.py`` file under it.

    python tools/code_lines.py pydala_spark/catalog_sweeps.py pydala_spark/sweeps.py
    python tools/code_lines.py pydala_spark
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER}


def code_lines(src: str) -> int:
    docs: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                docs.update(range(first.lineno, first.end_lineno + 1))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - docs)


def python_files(paths: list[str]) -> list[str]:
    """``paths`` with each directory replaced by its ``.py`` files,
    sorted, recursively."""
    out = []
    for path in paths:
        if not os.path.isdir(path):
            out.append(path)
            continue
        for dirpath, dirs, files in os.walk(path):
            dirs.sort()
            out += [os.path.join(dirpath, f) for f in sorted(files)
                    if f.endswith(".py")]
    return out


def main(paths: list[str]) -> int:
    total_code = total_lines = 0
    for path in python_files(paths):
        with open(path) as f:
            src = f.read()
        n_code, n_lines = code_lines(src), len(src.splitlines())
        total_code += n_code
        total_lines += n_lines
        print(path, n_code, n_lines)
    print("total", total_code, total_lines)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
