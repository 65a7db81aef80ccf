#!/usr/bin/env python
"""Count code lines in Python sources: lines that hold any token other
than a comment, a line break or indentation, leaving out module, class
and function docstrings. Directories are walked for ``*.py`` files.
Prints one count per argument, then the total when there are several.
Usage: python scripts/code_lines.py <path>...
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def file_code_lines(path: str) -> int:
    with open(path, "rb") as f:
        src = f.read()
    lines: set[int] = set()
    for tok in tokenize.tokenize(io.BytesIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, _DOC_OWNERS) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                lines.difference_update(range(first.lineno, first.end_lineno + 1))
    return len(lines)


def code_lines(path: str) -> int:
    if not os.path.isdir(path):
        return file_code_lines(path)
    return sum(
        file_code_lines(os.path.join(root, name))
        for root, _dirs, names in os.walk(path)
        for name in names
        if name.endswith(".py")
    )


def main() -> None:
    paths = sys.argv[1:]
    if not paths:
        sys.exit(__doc__.strip().splitlines()[-1])
    counts = [code_lines(p) for p in paths]
    for p, n in zip(paths, counts):
        print(f"{n:8,d}  {p}")
    if len(paths) > 1:
        print(f"{sum(counts):8,d}  total")


if __name__ == "__main__":
    main()
