"""Count the code lines of Python packages: lines that hold a token other
than a comment, and that are not part of a docstring. Blank lines,
comment-only lines and docstrings (the leading string literal of a
module, class or function) are not counted; every line of any other
string literal is (an oracle's multi-line SQL is code).

Usage (from the repository root):

    python tools/code_lines.py DIR_OR_FILE...

Prints one line per argument and a total.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) \
                    and isinstance(first.value, ast.Constant) \
                    and isinstance(first.value.value, str):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def count_file(path: str) -> int:
    with open(path, "rb") as f:
        src = f.read()
    code: set[int] = set()
    for tok in tokenize.tokenize(io.BytesIO(src).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - _docstring_lines(ast.parse(src)))


def count(path: str) -> int:
    if os.path.isfile(path):
        return count_file(path)
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        total += sum(count_file(os.path.join(root, f))
                     for f in sorted(files) if f.endswith(".py"))
    return total


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for arg in argv:
        n = count(arg)
        total += n
        print(f"{n:>8,}  {arg}")
    print(f"{total:>8,}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
