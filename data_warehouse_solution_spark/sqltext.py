"""The package's one reader of SQL statement text: which characters
are code and which sit inside a literal, an identifier or a comment.

The gate, the stats pruner and the materialized-view parser split
statement text by hand (Spark's parser takes neither the engine's
extension verbs nor join-form DELETE/UPDATE). Every such split must skip
quoted literals, backticked identifiers and comments, and respect
parentheses. ``mask`` is the single state machine for that rule; the
other functions are thin views over its output, so no caller ever
scans quotes or parens itself.
"""

from __future__ import annotations

import re

_FILL = "\0"
_OPEN_RE = re.compile(r"['\"`]|--|/\*")
# a literal's body, up to (not including) its closing delimiter
_BODY_RE = {
    "'": re.compile(r"(?:[^'\\]|\\.|'')*", re.DOTALL),
    '"': re.compile(r'(?:[^"\\]|\\.|"")*', re.DOTALL),
    "`": re.compile(r"(?:[^`]|``)*"),
}
_PAREN_RE = re.compile(r"[()]")
# a comment as it looks in the mask
_COMMENT_RE = re.compile(r"--\0*|/\*\0*(?:\*/)?")


def _scan(text: str) -> tuple[str, bool]:
    """The state machine: ``(mask(text), closed)``, where ``closed``
    is False when a literal, identifier or block comment runs off the
    end of ``text`` (a line comment may end the text)."""
    parts, i, n = [], 0, len(text)
    while True:
        m = _OPEN_RE.search(text, i)
        if m is None:
            parts.append(text[i:])
            return "".join(parts), True
        tok, body = m.group(), m.end()
        if tok == "--":
            end, close = text.find("\n", body), 0
        elif tok == "/*":
            end, close = text.find("*/", body), 2
        else:
            end, close = _BODY_RE[tok].match(text, body).end(), 1
            end = end if end < n and text[end] == tok else -1
        if end < 0:
            parts += (text[i:body], _FILL * (n - body))
            return "".join(parts), tok == "--"
        parts += (text[i:body], _FILL * (end - body), text[end : end + close])
        i = end + close


def mask(text: str) -> str:
    """``text`` with the inside of every quoted literal (``'...'``,
    ``"..."``), backticked identifier and ``--`` / ``/* */`` comment
    replaced by NUL characters. Delimiters stay, so the result has the
    same length and positions line up with ``text``; keywords, commas
    and parens inside such a span are gone. In literals a doubled
    delimiter escapes, and in quoted ones a backslash does too, as in
    Spark's lexer. An unterminated span masks to the end."""
    return _scan(text)[0]


def toplevel(text: str) -> str:
    """``mask(text)`` with every parenthesized group, parens
    included, masked as well: what is left is top-level code. Text
    after an unmatched ``)`` counts as nested."""
    m = mask(text)
    parts, depth, last = [], 0, 0
    for p in _PAREN_RE.finditer(m):
        i = p.start()
        parts.append(m[last:i] if depth == 0 else _FILL * (i - last))
        parts.append(_FILL)
        depth += 1 if p.group() == "(" else -1
        last = i + 1
    parts.append(m[last:] if depth == 0 else _FILL * (len(m) - last))
    return "".join(parts)


def balanced(text: str) -> bool:
    """True when every literal, identifier and block comment in
    ``text`` is closed and its parens pair up."""
    m, closed = _scan(text)
    depth = 0
    for p in _PAREN_RE.finditer(m):
        depth += 1 if p.group() == "(" else -1
        if depth < 0:
            return False
    return closed and depth == 0


def keyword_positions(text: str, keyword: str) -> list[int]:
    """Every index of whole-word ``keyword`` (case-insensitive) at
    the top level of ``text``: ``'x WHERE y'``, ``-- where`` and
    ``(SELECT ... WHERE ...)`` never match."""
    rx = rf"(?<!\w){re.escape(keyword)}(?!\w)"
    return [m.start() for m in re.finditer(rx, toplevel(text), re.IGNORECASE)]


def find_keyword(text: str, keyword: str) -> int:
    """First top-level index of ``keyword``; -1 if none."""
    found = keyword_positions(text, keyword)
    return found[0] if found else -1


def _cut(text: str, at: list[int], width: int) -> list[str]:
    parts, last = [], 0
    for i in at:
        parts.append(text[last:i])
        last = i + width
    parts.append(text[last:])
    return parts


def split_keyword(text: str, keyword: str) -> list[str]:
    """``text`` split at each top-level ``keyword`` (parts unstripped)."""
    return _cut(text, keyword_positions(text, keyword), len(keyword))


def split_commas(text: str) -> list[str]:
    """``text`` split at each top-level comma (parts unstripped)."""
    return _cut(text, [m.start() for m in re.finditer(",", toplevel(text))], 1)


def close_paren(text: str, start: int) -> int:
    """Index of the paren closing the ``(`` at ``start``; -1 if it
    never closes."""
    m = mask(text)
    depth = 0
    for p in _PAREN_RE.finditer(m, start):
        depth += 1 if p.group() == "(" else -1
        if depth == 0:
            return p.start()
    return -1


def strip_parens(s: str) -> str:
    """``s`` stripped, without ONE paren pair that wraps all of it:
    ``(a, b)`` -> ``a, b``; ``(a) + (b)`` and ``decimal(10,2)`` stay."""
    s = s.strip()
    if s.startswith("(") and close_paren(s, 0) == len(s) - 1:
        return s[1:-1].strip()
    return s


def strip_comments(text: str) -> str:
    """``text`` with each comment replaced by one space; optimizer
    hints (``/*+ ... */``) stay."""
    parts, last = [], 0
    for c in _COMMENT_RE.finditer(mask(text)):
        if not text.startswith("/*+", c.start()):
            parts += (text[last : c.start()], " ")
            last = c.end()
    parts.append(text[last:])
    return "".join(parts)


def code_matches(pattern: re.Pattern, text: str) -> list[re.Match]:
    """The matches of ``pattern`` in ``text`` that start in code, not
    inside a literal, identifier or comment."""
    m = mask(text)
    return [x for x in pattern.finditer(text) if m[x.start()] != _FILL]


def alias_refs(text: str, alias: str) -> list[re.Match]:
    """Each ``alias.`` or ```alias`.`` qualifier in ``text`` outside
    literals and comments (case-insensitive, whole word: ``xs.c`` and
    ``a.s.c`` are not references to ``s``)."""
    a = re.escape(alias)
    rx = re.compile(rf"(?<![\w`.])(?:{a}|`{a}`)\s*\.", re.IGNORECASE)
    return code_matches(rx, text)
