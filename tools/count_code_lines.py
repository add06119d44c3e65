"""Count code lines in Python files: lines that hold a token other than a
comment, excluding blank lines and module/class/function docstrings.

    python tools/count_code_lines.py FILE...
    python tools/count_code_lines.py --rev REV FILE...

With ``--rev`` each file is also read at ``REV`` through ``git show
REV:path`` and every line reads ``path  old -> new  (delta)``, followed by
the total.  A file missing on one side counts 0 lines there.
"""

from __future__ import annotations

import argparse
import ast
import io
import subprocess
import sys
import tokenize

_NON_CODE = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
             tokenize.INDENT, tokenize.DEDENT, tokenize.ENCODING,
             tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        first = node.body[0] if node.body else None
        if (isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def count_code_lines(source: str) -> int:
    """Number of code lines in ``source`` (see the module docstring)."""
    docs = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - docs)


def _read(path: str, rev: str | None) -> str | None:
    if rev is None:
        try:
            with open(path, encoding="utf-8") as f:
                return f.read()
        except FileNotFoundError:
            return None
    res = subprocess.run(["git", "show", f"{rev}:./{path}"],
                         capture_output=True, text=True)
    return res.stdout if res.returncode == 0 else None


def _count(path: str, rev: str | None) -> int:
    src = _read(path, rev)
    return 0 if src is None else count_code_lines(src)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("files", nargs="+")
    ap.add_argument("--rev", help="also count each file at this git revision")
    args = ap.parse_args(argv)
    old_total = new_total = 0
    for path in args.files:
        new = _count(path, None)
        new_total += new
        if args.rev is None:
            print(f"{path}  {new}")
            continue
        old = _count(path, args.rev)
        old_total += old
        print(f"{path}  {old} -> {new}  ({new - old:+d})")
    if args.rev is None:
        print(f"total  {new_total}")
    else:
        print(f"total  {old_total} -> {new_total}  "
              f"({new_total - old_total:+d})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
