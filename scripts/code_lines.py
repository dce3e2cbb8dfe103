"""Count Python code lines, excluding blank, comment and docstring lines.

Usage:
    python scripts/code_lines.py [PATH ...]      # default: sparkprep

Prints the total over every ``.py`` file under the given paths. A line
counts when it holds at least one token that is not a comment, a
newline, an indent or a dedent, and does not fall inside a docstring:
the first statement of a module, class or function body when that
statement is a bare string literal. This is the figure the simplicity
changes in CHANGES.md quote as "code lines".
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
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


def count_source(source: str) -> int:
    """Code lines of one Python source string."""
    docs = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _LAYOUT:
            continue
        # a multi-line token (a string) counts on every line it spans
        code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - docs)


def _py_files(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
            continue
        for root, dirs, files in os.walk(p):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    yield os.path.join(root, f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("paths", nargs="*", default=["sparkprep"])
    args = ap.parse_args(argv)
    total = 0
    for path in _py_files(args.paths):
        with open(path, encoding="utf-8") as fh:
            total += count_source(fh.read())
    print(total)
    return 0


if __name__ == "__main__":
    sys.exit(main())
