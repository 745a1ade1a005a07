"""The one SQL-text scanner every gate, pruner and matview split goes
through (``sqltext``): what counts as top-level code."""

from __future__ import annotations

import pytest

from data_warehouse_solution_spark import sqltext


@pytest.mark.parametrize(
    "text, parts",
    [
        ("a, f(b, c), d", ["a", "f(b, c)", "d"]),
        ("'it''s, ok', b", ["'it''s, ok'", "b"]),
        (r"'a\', b', c", [r"'a\', b'", "c"]),
        ('"x, y", z', ['"x, y"', "z"]),
        ("`a,b`, c", ["`a,b`", "c"]),
        ("a -- b, c\n, d", ["a -- b, c", "d"]),
        ("a /* b, c */, d", ["a /* b, c */", "d"]),
    ],
)
def test_split_commas_skips_literals_identifiers_comments_and_parens(text, parts):
    assert [p.strip() for p in sqltext.split_commas(text)] == parts


def test_keywords_are_found_at_top_level_only():
    text = "v = 'WHERE' /* WHERE */ -- WHERE\n+ (SELECT 1 WHERE 2) WHERE k = 1"
    assert sqltext.keyword_positions(text, "where") == [text.rindex("WHERE")]
    assert sqltext.find_keyword("`where` = 1", "WHERE") == -1


@pytest.mark.parametrize(
    "text, ok",
    [
        ("k = 'a' AND (v = 1) -- tail", True),
        ("k = 'a", False),
        ("k = 1 /* open", False),
        ("(k = 1", False),
        ("k = 1) OR (v = 2", False),
    ],
)
def test_balanced(text, ok):
    assert sqltext.balanced(text) is ok


def test_paren_helpers_and_comment_strip():
    assert sqltext.close_paren("(a ')' (b)) c", 0) == 10
    assert sqltext.strip_parens(" (a, b) ") == "a, b"
    assert sqltext.strip_parens("(a) + (b)") == "(a) + (b)"
    assert sqltext.strip_comments("a /*+ HINT */ b /* x */ c -- y") == "a /*+ HINT */ b   c  "
    refs = sqltext.alias_refs("s.a + `S`.b + 's.c' + xs.d + t.s.e -- s.f", "s")
    assert [m.group() for m in refs] == ["s.", "`S`."]
