"""Count code lines of Python files: non-blank lines that hold a code
token (comment-only lines excluded, via ``tokenize``) and lie outside
every module, class and function docstring (via ``ast``).

    python tools/code_lines.py FILE_OR_DIR ...

Prints one ``count path`` line per file, then the total."""

import ast
import sys
import tokenize
from pathlib import Path

SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
        tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}
SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(path: Path) -> int:
    doc = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, SCOPES) and ast.get_docstring(node) is not None:
            doc.update(range(node.body[0].lineno, node.body[0].end_lineno + 1))
    lines = set()
    with path.open("rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type not in SKIP:
                lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


if __name__ == "__main__":
    files = [f for a in sys.argv[1:] for f in (
        sorted(Path(a).rglob("*.py")) if Path(a).is_dir() else [Path(a)])]
    counts = {f: code_lines(f) for f in files}
    for f, n in counts.items():
        print(f"{n:6d} {f}")
    print(f"{sum(counts.values()):6d} total")
