#!/usr/bin/env python3
"""Count total lines and code lines per package module and for the whole
package — the size figures ROADMAP tracks.

A code line is a line that holds at least one token other than a comment
or a docstring (the first string statement of a module, class or
function). Blank lines, comment-only lines and docstring lines are not
code; a line holding code and a trailing comment is.

Usage:
  python scripts/code_lines.py            # every module, then the total
  python scripts/code_lines.py storage    # only modules whose path contains "storage"
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "flink_real_time_data_warehouse_spark",
)

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_starts(tree: ast.AST) -> set[tuple[int, int]]:
    """(line, col) of every docstring's string token."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.add((body[0].lineno, body[0].col_offset))
    return out


def count(source: str) -> tuple[int, int]:
    """(total lines, code lines) of one module's source."""
    docs = _docstring_starts(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _NOT_CODE or (tok.type == tokenize.STRING and tok.start in docs):
            continue
        code.update(range(tok.start[0], tok.end[0] + 1))
    return len(source.splitlines()), len(code)


def main(argv: list[str]) -> int:
    rows = []
    for root, dirs, files in os.walk(PACKAGE):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                rel = os.path.relpath(path, PACKAGE)
                if argv and not any(a in rel for a in argv):
                    continue
                with open(path, encoding="utf-8") as f:
                    rows.append((rel, *count(f.read())))
    width = max([len(r[0]) for r in rows] + [len("package")])
    print(f"{'module':<{width}}  {'lines':>7}  {'code':>7}")
    for rel, total, code in rows:
        print(f"{rel:<{width}}  {total:>7}  {code:>7}")
    label = "package" if not argv else "selected"
    print(f"{label:<{width}}  {sum(r[1] for r in rows):>7}  {sum(r[2] for r in rows):>7}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
