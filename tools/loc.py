"""Count the code lines of Python files: lines that hold at least one token
other than a comment, a docstring, a newline or indentation. Blank lines,
comment-only lines and docstrings (a string statement that opens a module,
class or function body) are not code.

Usage:

    python tools/loc.py [path ...]        # files or directories, default "."

Prints code and raw line counts per argument and a total.
"""

from __future__ import annotations

import io
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def code_lines(source: str) -> int:
    """Number of lines holding a non-comment, non-docstring token."""
    lines: set[int] = set()
    toks = list(tokenize.generate_tokens(io.StringIO(source).readline))
    # a docstring is a STRING token that starts a logical line right after
    # the module start or a block opener (``:`` NEWLINE INDENT)
    prev = [tokenize.NEWLINE]  # significant token types, most recent last
    for i, tok in enumerate(toks):
        if tok.type in _SKIP:
            if tok.type in (tokenize.NEWLINE, tokenize.INDENT):
                prev.append(tok.type)
            continue
        if tok.type == tokenize.STRING and _starts_body(prev) and _ends_stmt(toks, i):
            prev.append(tokenize.STRING)
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
        prev.append(tok.type if tok.string != ":" else "colon")
    return len(lines)


def _starts_body(prev: list) -> bool:
    """True when the next token opens a module, class or function body."""
    if prev == [tokenize.NEWLINE]:
        return True  # first statement of the module
    return prev[-3:] == ["colon", tokenize.NEWLINE, tokenize.INDENT]


def _ends_stmt(toks: list, i: int) -> bool:
    """True when the string at ``toks[i]`` is a whole statement."""
    for tok in toks[i + 1:]:
        if tok.type in (tokenize.COMMENT, tokenize.NL):
            continue
        return tok.type in (tokenize.NEWLINE, tokenize.ENDMARKER)
    return True


def count(path: str) -> tuple[int, int]:
    """(code lines, raw lines) of one file, or of every .py file under a
    directory."""
    files = [path]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(d, f)
            for d, _dirs, fs in os.walk(path)
            for f in fs
            if f.endswith(".py")
        )
    code = raw = 0
    for fp in files:
        with open(fp, encoding="utf-8") as f:
            src = f.read()
        code += code_lines(src)
        raw += len(src.splitlines())
    return code, raw


def main(argv: list[str]) -> None:
    total_code = total_raw = 0
    for path in argv or ["."]:
        code, raw = count(path)
        total_code += code
        total_raw += raw
        print(f"{code:8d} code {raw:8d} raw  {path}")
    if len(argv) > 1:
        print(f"{total_code:8d} code {total_raw:8d} raw  total")


if __name__ == "__main__":
    main(sys.argv[1:])
