"""Count the code lines of the ``torua_spark`` package.

    python scripts/code_lines.py            # the working tree
    python scripts/code_lines.py <git-rev>  # a revision, read via git show

A code line is a physical line that carries at least one token other
than a comment, and is not part of a string-expression statement (a
docstring or a bare string literal used as a comment). Blank lines,
comment-only lines and docstring lines are therefore left out, so the
count moves with the code, not with its commentary or formatting of
prose. Prints one ``<count>  <path>`` line per file, then the total.
"""

from __future__ import annotations

import ast
import io
import os
import subprocess
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "torua_spark"
_NON_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def code_lines(source: str) -> int:
    """Number of code lines in one Python source text."""
    docstring_lines: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        if (isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)
                and isinstance(node.value.value, str)):
            docstring_lines.update(range(node.lineno, node.end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstring_lines)


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, check=True, capture_output=True, text=True
    ).stdout


def package_sources(rev: str | None) -> dict[str, str]:
    """{path: source} of every ``.py`` file under the package, at the
    working tree or at git revision ``rev``."""
    if rev is not None:
        paths = _git("ls-tree", "-r", "--name-only", rev, "--", PACKAGE)
        return {
            p: _git("show", f"{rev}:{p}")
            for p in paths.split() if p.endswith(".py")
        }
    out = {}
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(dirpath, f)
                with open(full, encoding="utf-8") as fh:
                    out[os.path.relpath(full, ROOT)] = fh.read()
    return out


def main(argv: list[str]) -> int:
    if len(argv) > 1:
        print("usage: python scripts/code_lines.py [git-rev]", file=sys.stderr)
        return 2
    counts = {
        p: code_lines(src)
        for p, src in package_sources(argv[0] if argv else None).items()
    }
    for p in sorted(counts):
        print(f"{counts[p]:7d}  {p}")
    print(f"{sum(counts.values()):7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
