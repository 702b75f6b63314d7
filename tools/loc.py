"""Count code lines: non-blank lines that hold something other than a
comment or a docstring.

Usage: python tools/loc.py [REV]

Counts the package (duckpgq_extension_spark/), bench.py, tests/ and
tools/ in the working tree (tracked and untracked-but-not-ignored
files), or at git revision REV, read with `git show` (no checkout).
Prints one line per part and the total.
"""

from __future__ import annotations

import ast
import io
import os
import subprocess
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PARTS = ("duckpgq_extension_spark", "bench.py", "tests", "tools")
_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def code_lines(source: str) -> int:
    """Code lines of one Python source text."""
    docstrings = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                docstrings.add((first.lineno, first.col_offset))
    text = source.splitlines()
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP or (tok.type == tokenize.STRING and tok.start in docstrings):
            continue
        lines.update(n for n in range(tok.start[0], tok.end[0] + 1) if text[n - 1].strip())
    return len(lines)


def _git(*args: str) -> str:
    return subprocess.run(("git", "-C", ROOT, *args), check=True,
                          capture_output=True, text=True).stdout


def count(rev: str | None = None) -> dict[str, int]:
    """Code lines per part at `rev` (the working tree when None)."""
    if rev is None:
        files = _git("ls-files", "--cached", "--others", "--exclude-standard", "--", *PARTS)
    else:
        files = _git("ls-tree", "-r", "--name-only", rev, "--", *PARTS)
    out = dict.fromkeys(PARTS, 0)
    for path in sorted(set(files.split())):
        if not path.endswith(".py"):
            continue
        if rev is None:
            if not os.path.exists(os.path.join(ROOT, path)):  # deleted, not staged
                continue
            with open(os.path.join(ROOT, path), encoding="utf-8") as f:
                source = f.read()
        else:
            source = _git("show", f"{rev}:{path}")
        out[path.split("/")[0]] += code_lines(source)
    return out


def main(argv: list[str]) -> None:
    parts = count(argv[0] if argv else None)
    for name, n in parts.items():
        print(f"{name:<26}{n:>7}")
    print(f"{'total':<26}{sum(parts.values()):>7}")


if __name__ == "__main__":
    main(sys.argv[1:])
