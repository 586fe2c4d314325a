"""Count the code lines of Python files: lines that are not blank, not
comment-only and not inside a module, class or function docstring.

    python tools/code_lines.py lwetl_spark/operators/similarity.py ...

Prints one count per file and the total.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER,
}


def code_lines(src: str) -> int:
    docs: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and ast.get_docstring(node, clean=False) is not None:
            doc = node.body[0]
            docs.update(range(doc.lineno, doc.end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docs)


if __name__ == "__main__":
    total = 0
    for path in sys.argv[1:]:
        with open(path) as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n:6d} {path}")
    print(f"{total:6d} total")
