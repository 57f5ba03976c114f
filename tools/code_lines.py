"""Count code lines: the lines of Python source that hold a token other
than a comment, a line break, indentation or a docstring.

A docstring is the leading string expression of a module, class or
function body (found with `ast`); every line it spans is left out. A
line that a multi-line string or bracket continues counts once. Blank
lines and comment-only lines never count.

Usage:
    python tools/code_lines.py [path ...]

Each path is a `.py` file or a directory searched for `*.py`. With no
path, the package `healthcare_research_data_pipeline_project_spark` is
counted. Prints one `<count> <path>` line per path, then the total
when more than one path is given.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize
from pathlib import Path

PACKAGE = "healthcare_research_data_pipeline_project_spark"

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(src: str) -> set[int]:
    out: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, _SCOPES) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                out.update(range(first.lineno, first.end_lineno + 1))
    return out


def file_code_lines(path: Path) -> int:
    src = path.read_text(encoding="utf-8")
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(src))


def code_lines(path: Path) -> int:
    files = [path] if path.is_file() else sorted(path.rglob("*.py"))
    return sum(file_code_lines(f) for f in files)


def main(argv: list[str]) -> int:
    root = Path(__file__).resolve().parent.parent
    paths = [Path(a) for a in argv] or [root / PACKAGE]
    total = 0
    for p in paths:
        n = code_lines(p)
        total += n
        print(f"{n} {os.path.relpath(p)}")
    if len(paths) > 1:
        print(f"{total} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
