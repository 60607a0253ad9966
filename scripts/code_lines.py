"""Count code lines under a directory of Python files: lines that carry a
token other than a comment, and are not part of a docstring.

Usage: python scripts/code_lines.py PATH [PATH ...]   (file or directory)
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
        tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def code_lines(src: str) -> int:
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if isinstance(body, list) and body and isinstance(body[0], ast.Expr) \
                and isinstance(body[0].value, ast.Constant) \
                and isinstance(body[0].value.value, str):
            lines -= set(range(body[0].lineno, body[0].end_lineno + 1))
    return len(lines)


def main(paths: list[str]) -> None:
    for p in map(Path, paths):
        files = sorted(p.rglob("*.py")) if p.is_dir() else [p]
        print(f"{sum(code_lines(f.read_text()) for f in files):,}  {p}")


if __name__ == "__main__":
    main(sys.argv[1:])
