"""The SQL text lexer (hyrise_spark/sqltext.py): one case per edge that the
engine's former hand-written quote/paren scanners handled, plus the
comment cases none of them knew. Pure Python, no Spark session."""

from __future__ import annotations

import re

import pytest

from hyrise_spark.sqltext import (
    find_top_level,
    mask,
    match_paren,
    split_statements,
    split_top_level,
    sub_outside,
)


@pytest.mark.parametrize("sql, want", [
    ("SELECT 1; SELECT 2", ["SELECT 1", "SELECT 2"]),
    ("SELECT 'a;b'; SELECT 2", ["SELECT 'a;b'", "SELECT 2"]),
    ("SELECT 'it''s;'; SELECT 2", ["SELECT 'it''s;'", "SELECT 2"]),
    ('SELECT "a;b" FROM t; SELECT 2', ['SELECT "a;b" FROM t', "SELECT 2"]),
    ("SELECT `a;b` FROM t; SELECT 2", ["SELECT `a;b` FROM t", "SELECT 2"]),
    ("SELECT 1; -- it's a comment\nSELECT 2; SELECT 3",
     ["SELECT 1", "SELECT 2", "SELECT 3"]),
    ("/* c; 'x */ INSERT INTO t VALUES (1)", ["INSERT INTO t VALUES (1)"]),
    ("-- add a row\nINSERT INTO t VALUES (10)", ["INSERT INTO t VALUES (10)"]),
    ("SELECT k FROM t -- note; tail\n WHERE k = 1",
     ["SELECT k FROM t  \n WHERE k = 1"]),
    ("SELECT 1/* glued */FROM t", ["SELECT 1 FROM t"]),
    ("SELECT /*+ BROADCAST(x) */ a FROM x; SELECT 2",
     ["SELECT /*+ BROADCAST(x) */ a FROM x", "SELECT 2"]),
    (" ;; -- only a comment\n ; ", []),
    ("SELECT 'unterminated; SELECT 2", ["SELECT 'unterminated; SELECT 2"]),
])
def test_split_statements(sql, want):
    assert split_statements(sql) == want


@pytest.mark.parametrize("sql, want", [
    ("a 'b c' d", "a '   ' d"),
    ("a 'it''s' d", "a '     ' d"),
    ('a "x y" `p q`', 'a "   " `   `'),
    ("a -- c (\nb", "a " + " " * len("-- c (") + "\nb"),
    ("a /* ( */ b", "a         b"),
    ("a /*+ BROADCAST(t) */ b", "a " + " " * len("/*+ BROADCAST(t) */") + " b"),
    ("a 'open", "a '    "),
])
def test_mask_is_length_preserving(sql, want):
    got = mask(sql)
    assert got == want and len(got) == len(sql)


@pytest.mark.parametrize("s, i, want", [
    ("f(a, (b), c) x", 1, 11),
    ("f(')', b) x", 1, 8),
    ('f(")", b) x', 1, 8),
    ("f(`)`, b) x", 1, 8),
    ("f(a -- )\n) x", 1, 9),
    ("f(a /* ) */) x", 1, 11),
    ("f((a)", 1, -1),
])
def test_match_paren(s, i, want):
    assert match_paren(s, i) == want


@pytest.mark.parametrize("s, word, start, want", [
    ("SET x = 1 WHERE k = 1", "WHERE", 0, 10),
    ("SET x = (SELECT 1 WHERE y) WHERE k = 1", "WHERE", 0, 27),
    ("SET x = 'a WHERE b' WHERE k", "WHERE", 0, 20),
    ('SET "where" = 1 WHERE k', "WHERE", 0, 16),
    ("SET x = 1 -- WHERE\n WHERE k", "WHERE", 0, 20),
    ("x = CASE WHEN a THEN 1 END WHEN MATCHED", "WHEN", 0, 27),
    ("x = CASE WHEN a THEN CASE WHEN b THEN 1 END END THEN y", "THEN", 0, 48),
    ("somewhere where", "WHERE", 0, 10),
    ("a where b where c", "where", 3, 10),
    ("no keyword here", "WHERE", 0, -1),
])
def test_find_top_level(s, word, start, want):
    assert find_top_level(s, word, start) == want


@pytest.mark.parametrize("s, want", [
    ("a, b", ["a", "b"]),
    ("substr(c, k, 2), d", ["substr(c, k, 2)", "d"]),
    ("'x, y', \"p,q\", `r,s`", ["'x, y'", '"p,q"', "`r,s`"]),
    ("f(g(1, 2), 3), 'it''s, ok'", ["f(g(1, 2), 3)", "'it''s, ok'"]),
    ("a = 1 , b = (2, 3) ,", ["a = 1", "b = (2, 3)"]),
    ("a /* , */, b -- , c", ["a /* , */", "b -- , c"]),
    ("", []),
])
def test_split_top_level(s, want):
    assert split_top_level(s) == want


@pytest.mark.parametrize("sql, want", [
    (r"SELECT 'a\';b' AS s; SELECT 2", [r"SELECT 'a\';b' AS s", "SELECT 2"]),
    (r"SELECT 'a\\'; SELECT 2", [r"SELECT 'a\\'", "SELECT 2"]),
    (r'SELECT "a\";b" FROM t; SELECT 2', [r'SELECT "a\";b" FROM t', "SELECT 2"]),
])
def test_backslash_escapes_a_quote_as_spark_reads_it(sql, want):
    """Spark's lexer reads a backslash before a quote as an escape, so the
    split and the mask follow it: `'a\';b'` is one literal, `'a\\'` ends
    after the escaped backslash."""
    assert split_statements(sql) == want
    assert mask(want[0]).count(";") == 0 and len(mask(sql)) == len(sql)


def test_sub_outside_skips_literals_and_comments():
    pat = re.compile(r"\$(\d+)")
    s = "SELECT $1, '$2', \"$3\", $4 -- $5\n/* $6 */"
    got = sub_outside(pat, lambda m: f":p{m[1]}", s)
    assert got == "SELECT :p1, '$2', \"$3\", :p4 -- $5\n/* $6 */"


@pytest.mark.parametrize("expr, want", [
    ("MAX(b) + t.a", [("+", "MAX(b) "), ("+", " t.a")]),
    ("-t.a + MAX(b)", [("+", "-t.a "), ("+", " MAX(b)")]),
    ("MAX(b) * -1 - t.a", [("+", "MAX(b) * -1 "), ("-", " t.a")]),
    ("f(x - 1) - '-'", [("+", "f(x - 1) "), ("-", " '-'")]),
])
def test_engine_additive_split(expr, want):
    from hyrise_spark.engine import Engine

    assert Engine._split_additive_terms(expr) == want


@pytest.mark.parametrize("expr, want", [
    ("MAX(b) > 5 - t.a", True),
    ("MAX(b) + t.a", False),
    ("MAX(b = 1) + t.a", False),
    ("MAX(b) + 'x = y'", False),
    ("a || b", True),
    ("a AND b", True),
])
def test_engine_top_level_comparison(expr, want):
    from hyrise_spark.engine import Engine

    assert Engine._has_top_level_comparison(expr) is want
