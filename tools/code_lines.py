"""Count code lines of named functions: non-blank lines that are neither
comments nor docstrings, from the ``def`` line to the end of the body
(decorators excluded).

    python3 tools/code_lines.py FILE::FUNC [FILE::FUNC ...]
    python3 tools/code_lines.py FILE            # whole module

Prints one count per spec and the total.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize


def _docstring_lines(tree: ast.AST) -> set[int]:
    out: set[int] = set()
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if not isinstance(body, list) or not body:
            continue
        first = body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            out.update(range(first.lineno, first.end_lineno + 1))
    return out


def _code_lines(src: str) -> set[int]:
    """Line numbers holding at least one token that is not a comment."""
    skip = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
            tokenize.DEDENT, tokenize.ENDMARKER}
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in skip:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return lines


def count(path: str, func: str | None = None) -> int:
    src = open(path).read()
    tree = ast.parse(src)
    code = _code_lines(src) - _docstring_lines(tree)
    if func is None:
        return len(code)
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name == func:
            return len({n for n in code if node.lineno <= n <= node.end_lineno})
    raise SystemExit(f"{path}: no function {func}")


def main(argv: list[str]) -> None:
    total = 0
    for spec in argv:
        path, _, func = spec.partition("::")
        n = count(path, func or None)
        total += n
        print(f"{n:6d}  {spec}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
