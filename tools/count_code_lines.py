"""Count the code lines of a Python source tree: every line that holds
a token other than a comment, a docstring or whitespace.

    python tools/count_code_lines.py cdc_data_lake_pyspark_spark

A docstring is a string-literal expression statement (module, class
and function docstrings, and the bare string statements some modules
use as section notes).  Prints the total, then one line per file.
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def code_lines(src: str) -> int:
    doc = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
            if isinstance(node.value.value, str):
                doc.update(range(node.lineno, node.end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _SKIP:
            continue
        lines.update(
            n for n in range(tok.start[0], tok.end[0] + 1) if n not in doc
        )
    return len(lines)


def main(root: str) -> None:
    counts = {
        str(p): code_lines(p.read_text())
        for p in sorted(pathlib.Path(root).rglob("*.py"))
    }
    print(sum(counts.values()), "code lines under", root)
    for path, n in counts.items():
        print(f"{n:6d}  {path}")


if __name__ == "__main__":
    main(sys.argv[1])
