"""Spark's lexical rule for SQL text, in one place.

Every front-end pass that must tell SQL code from data — the dialect
rewrites in ``context``, the statement router in ``sql_dml`` and the
constraint parsing in ``dml`` — reads the text through this module.
Spark's parser is the last to read the text, so its lexer is the rule:

- string literals ``'…'`` and ``"…"``: a backslash escapes the next
  character and a doubled quote stands for one quote;
- identifiers in backticks, where a doubled backtick stands for one;
- ``--`` comments to the end of the line, and ``/* … */`` comments, which
  nest; ``/*+ … */`` is a hint, which Spark parses, so it stays code.

An unterminated literal, identifier or comment runs to the end of the text.
Everything else is code, and only code moves the paren depth or matches a
keyword or separator.
"""

from __future__ import annotations

import functools
import re
from typing import Iterator

_OPEN = re.compile(r"['\"`]|--|/\*(?!\+)")
_REST = {
    "'": re.compile(r"(?:[^'\\]+|\\.|'')*(?:'|\\?\Z)", re.S),
    '"': re.compile(r'(?:[^"\\]+|\\.|"")*(?:"|\\?\Z)', re.S),
    "`": re.compile(r"(?:[^`]+|``)*`?"),
    "--": re.compile(r"[^\n]*"),
}
_BLOCK = re.compile(r"/\*|\*/")


def spans(sql: str, start: int = 0) -> Iterator[tuple[str, int, int]]:
    """Cut ``sql[start:]`` into runs ``(kind, begin, end)``. ``kind`` is
    ``""`` for code, the opening quote for a literal or quoted identifier
    (``'``, ``"`` or a backtick), and ``--`` or ``/*`` for a comment."""
    i, n = start, len(sql)
    while i < n:
        m = _OPEN.search(sql, i)
        if m is None:
            yield "", i, n
            return
        if m.start() > i:
            yield "", i, m.start()
        kind = m.group()
        if kind == "/*":
            end, depth = n, 0
            for b in _BLOCK.finditer(sql, m.start()):
                depth += 1 if b.group() == "/*" else -1
                if not depth:
                    end = b.end()
                    break
        else:
            end = _REST[kind].match(sql, m.end()).end()
        yield kind, m.start(), end
        i = end


def scan(sql: str, start: int = 0) -> Iterator[tuple[int, str, int]]:
    """Yield ``(i, ch, depth)`` for every code character of ``sql[start:]``;
    ``depth`` is the paren depth after ``ch``, counted from 0 at ``start``."""
    depth = 0
    for kind, a, b in spans(sql, start):
        if kind:
            continue
        for i in range(a, b):
            ch = sql[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            yield i, ch, depth


@functools.lru_cache(maxsize=None)
def _word(word: str) -> re.Pattern:
    """Whole-word, case-insensitive ``word``; a space in it (``ORDER BY``)
    matches any run of whitespace."""
    body = r"\s+".join(map(re.escape, word.split()))
    return re.compile(rf"(?<!\w){body}(?!\w)", re.I)


@functools.lru_cache(maxsize=None)
def _tokens(chars: str, words: tuple[str, ...]) -> re.Pattern:
    alts = [f"[{re.escape(chars)}]"] + [_word(w).pattern for w in words]
    return re.compile("|".join(alts), re.I)


def _code_tokens(sql: str, chars: str, words: tuple[str, ...] = (), start: int = 0):
    """Yield ``(match, depth)`` for each of ``chars`` (which include the
    parens) and ``words`` found in code, ``depth`` counted as in
    :func:`scan`."""
    pat, depth = _tokens(chars, words), 0
    for kind, a, b in spans(sql, start):
        if kind:
            continue
        for m in pat.finditer(sql, a, b):
            t = m.group()
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            yield m, depth


def word_at(sql: str, i: int, word: str) -> bool:
    """True when ``word`` starts at ``i`` as a whole word (case-insensitive;
    a space in ``word`` matches any whitespace)."""
    return _word(word).match(sql, i) is not None


def find_keyword(sql: str, *words: str, start: int = 0) -> int:
    """Index of the first whole-word occurrence of any of ``words`` in code
    of ``sql[start:]`` at paren depth 0, or -1."""
    for m, depth in _code_tokens(sql, "()", words, start):
        if depth == 0 and m.group() not in ("(", ")"):
            return m.start()
    return -1


def matching_paren(sql: str, open_idx: int) -> int:
    """Index of the ``)`` closing the ``(`` at ``open_idx``, or -1."""
    for m, depth in _code_tokens(sql, "()", start=open_idx):
        if depth == 0:
            return m.start()
    return -1


def split(sql: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` in code at paren depth 0. Each part comes back
    without the whitespace and comments around it, and parts left empty
    are dropped (a trailing comment is not a statement)."""
    parts, start = [], 0
    for m, depth in _code_tokens(sql, "()" + sep):
        if depth == 0 and m.group() == sep:
            parts.append(sql[start : m.start()])
            start = m.end()
    parts.append(sql[start:])
    return [p for p in map(_strip, parts) if p]


def _strip(sql: str) -> str:
    kept = [
        (a, b)
        for kind, a, b in spans(sql)
        if kind not in ("--", "/*") and (kind or sql[a:b].strip())
    ]
    return sql[kept[0][0] : kept[-1][1]].strip() if kept else ""


def close_comment(sql: str) -> str:
    """``sql`` with a newline added when it ends inside a ``--`` comment,
    so that text appended to it stays code."""
    kind = ""
    for kind, _, _ in spans(sql):
        pass
    return sql + "\n" if kind == "--" else sql
