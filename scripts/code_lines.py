"""Count code lines of Python files: non-blank, non-comment lines outside
docstrings (module, class and function docstrings, found with ``ast``).

    python scripts/code_lines.py bench.py tests/conftest.py
    python scripts/code_lines.py window_aggregation_spark   # every .py below

Prints one ``<count>  <path>`` line per file, then the total.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers covered by a docstring anywhere in ``tree``."""
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, _DOC_OWNERS) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(path: Path) -> int:
    src = path.read_text()
    docs = docstring_lines(ast.parse(src, str(path)))
    return sum(
        1
        for i, line in enumerate(src.splitlines(), 1)
        if line.strip() and not line.lstrip().startswith("#") and i not in docs
    )


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    files: list[Path] = []
    for arg in argv:
        p = Path(arg)
        files += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    total = 0
    for f in files:
        n = code_lines(f)
        total += n
        print(f"{n:6d}  {f}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
