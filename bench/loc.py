"""Line counts of the program: raw lines and code-only lines (no blank,
comment-only or docstring lines) over every ``.py`` file in
``readembedability_spark/`` and ``jobs/``.

    python bench/loc.py      # or: make loc
"""

from __future__ import annotations

import ast
import io
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DIRS = ("readembedability_spark", "jobs")
_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(src: str) -> int:
    """Lines holding at least one code token outside a docstring."""
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _NON_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - _docstring_lines(ast.parse(src)))


def main() -> None:
    raw = code = 0
    for d in DIRS:
        for path in sorted((ROOT / d).rglob("*.py")):
            src = path.read_text()
            raw += len(src.splitlines())
            code += code_lines(src)
    print(f"raw  {raw}")
    print(f"code {code}")


if __name__ == "__main__":
    main()
