"""Count physical, code and docstring lines of Python files.

A code line holds at least one token that is not a comment, and is not
part of a module, class or function docstring; blank lines, comment
lines and docstring lines are not code. Statements are not joined or
split, so the count moves only when the code does. Prints one line per
file and a total; give files or directories (searched for ``*.py``):

    python tools/loc.py data_engineering_capstone_project__spark/sources \
        data_engineering_capstone_project__spark/plans/ingest.py
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count(path: str) -> tuple[int, int, int]:
    """``(physical, code, docstring)`` lines of one file."""
    with open(path, encoding="utf-8") as f:
        src = f.read()
    doc = _docstring_lines(ast.parse(src))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _NOT_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(src.splitlines()), len(code - doc), len(doc)


def _files(args: list[str]) -> list[str]:
    out = []
    for a in args:
        if os.path.isdir(a):
            out += sorted(
                os.path.join(d, n)
                for d, _, names in os.walk(a)
                for n in names
                if n.endswith(".py")
            )
        else:
            out.append(a)
    return out


def main(args: list[str]) -> None:
    total = [0, 0, 0]
    print(f"{'physical':>9} {'code':>7} {'doc':>7}  file")
    for path in _files(args):
        counts = count(path)
        total = [t + c for t, c in zip(total, counts)]
        print(f"{counts[0]:>9} {counts[1]:>7} {counts[2]:>7}  {path}")
    print(f"{total[0]:>9} {total[1]:>7} {total[2]:>7}  total")


if __name__ == "__main__":
    main(sys.argv[1:] or ["."])
