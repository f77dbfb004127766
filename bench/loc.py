"""Size of the program over every ``.py`` file in
``readembedability_spark/`` and ``jobs/``: raw lines, code-only lines
(no blank, comment-only or docstring lines) and options (parameters
with a default plus dataclass fields with a default), and the largest
module with its raw lines. A last ``tests`` line gives the raw and
code-only lines of ``tests/*.py``.

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


def _is_dataclass(node: ast.ClassDef) -> bool:
    for d in node.decorator_list:
        d = d.func if isinstance(d, ast.Call) else d
        name = d.id if isinstance(d, ast.Name) else getattr(d, "attr", "")
        if name == "dataclass":
            return True
    return False


def options(src: str) -> int:
    """Parameters with a default plus dataclass fields with a default."""
    n = 0
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            n += len(a.defaults) + sum(d is not None for d in a.kw_defaults)
        elif isinstance(node, ast.ClassDef) and _is_dataclass(node):
            n += sum(
                isinstance(s, ast.AnnAssign) and s.value is not None
                for s in node.body
            )
    return n


def main() -> None:
    raw = code = opts = 0
    largest = (0, "")
    for d in DIRS:
        for path in sorted((ROOT / d).rglob("*.py")):
            src = path.read_text()
            n = len(src.splitlines())
            raw += n
            largest = max(largest, (n, str(path.relative_to(ROOT))))
            code += code_lines(src)
            opts += options(src)
    print(f"raw  {raw}")
    print(f"code {code}")
    print(f"options {opts}")
    print(f"largest {largest[1]} {largest[0]}")
    tests = [p.read_text() for p in sorted((ROOT / "tests").glob("*.py"))]
    print(
        f"tests raw {sum(len(s.splitlines()) for s in tests)} "
        f"code {sum(code_lines(s) for s in tests)}"
    )


if __name__ == "__main__":
    main()
