"""SQL text scanning: one lexer under every statement-level text probe.

Hyrise reads SQL text once, in its parser, before translation
(sql_pipeline_statement.hpp). Here Spark's parser comes last: the engine
first splits a script into statements and routes and rewrites each one as
text (find a top-level keyword, match a parenthesis, split a list on
commas). Every such scan must skip the same token classes, so one regex
finds them all:

- string literals ``'...'`` (``''`` or a backslash before the quote
  escapes it, as Spark's lexer reads them);
- quoted identifiers ``"..."`` (escaped the same way) and ```...```
  (a doubled delimiter escapes);
- line comments ``-- ...`` up to the end of the line;
- block comments ``/* ... */``, optimizer hints ``/*+ ... */`` included.

An unterminated literal or comment runs to the end of the text.

The primitives work on `mask(s)`: the same text at the same length, with
literal and identifier contents blanked (delimiters kept) and comments
blanked whole. A scanner searches the mask and slices the original at
the same offsets, so a keyword, parenthesis or comma inside a literal or
comment is never structure.

`split_statements` also drops comments, so every routing regex downstream
sees a statement without them. Hints are the exception and stay word for
word: `SELECT /*+ BROADCAST(t) */ ...` is a plan instruction that Spark's
parser reads from the statement text, not commentary.
"""

from __future__ import annotations

import re

_LEX = (
    r"'[^'\\]*(?:(?:''|\\.)[^'\\]*)*'?"
    r'|"[^"\\]*(?:(?:""|\\.)[^"\\]*)*"?'
    r"|`[^`]*(?:``[^`]*)*`?"
    r"|--[^\n]*"
    r"|/\*.*?(?:\*/|\Z)"
)
_LEX_RE = re.compile(_LEX, re.S)
_STMT_RE = re.compile(_LEX + r"|;", re.S)
_PAREN_RE = re.compile(_LEX + r"|[()]", re.S)


def _blank(m: "re.Match[str]") -> str:
    t = m[0]
    if t[0] in "-/":  # a comment
        return " " * len(t)
    closed = len(t) > 1 and t[-1] == t[0]
    return t[0] + " " * (len(t) - 1 - closed) + t[0] * closed


def mask(s: str) -> str:
    """`s` at the same length with literal and identifier contents and
    whole comments turned into spaces."""
    return _LEX_RE.sub(_blank, s)


def split_statements(sql: str) -> list[str]:
    """Split a script on top-level ';' and drop comments (hints stay).
    Returns the stripped, non-empty statements."""
    out, cur, pos = [], [], 0
    for m in _STMT_RE.finditer(sql):
        cur.append(sql[pos:m.start()])
        tok = m[0]
        if tok == ";":
            out.append("".join(cur))
            cur = []
        elif tok[0] in "-/" and not tok.startswith("/*+"):
            cur.append(" ")  # a comment still separates its neighbours
        else:
            cur.append(tok)
        pos = m.end()
    cur.append(sql[pos:])
    out.append("".join(cur))
    return [p.strip() for p in out if p.strip()]


def match_paren(s: str, i: int) -> int:
    """Index of the ')' that closes the '(' at s[i], or -1."""
    depth = 0
    for m in _PAREN_RE.finditer(s, i):
        t = m[0]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
            if depth == 0:
                return m.start()
    return -1


def find_top_level(s: str, word: str, start: int = 0) -> int:
    """First index at or after `start` of the whole word `word` (any case)
    outside parentheses, literals, comments and CASE...END expressions (a
    CASE's own WHEN/THEN must not split a MERGE clause), or -1."""
    w = word.upper()
    depth = case = 0
    scan = re.compile(  # compiled once: the re module caches patterns
        _LEX + r"|[()]|\b(?:CASE|END|" + re.escape(w) + r")\b", re.S | re.I)
    for m in scan.finditer(s, start):
        t = m[0]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and t[0].isalpha():
            u = t.upper()
            if u == "CASE":
                case += 1
            elif u == "END" and case:
                case -= 1
            elif u == w and not case:
                return m.start()
    return -1


def split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on `sep` outside parentheses, literals and comments. Returns
    the stripped, non-empty parts."""
    parts, depth, start = [], 0, 0
    for m in re.finditer(_LEX + r"|[()]|" + re.escape(sep), s, re.S):
        t = m[0]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif t == sep and depth == 0:
            parts.append(s[start:m.start()])
            start = m.end()
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def sub_outside(pattern: "re.Pattern[str]", repl, s: str) -> str:
    """`pattern.sub(repl, s)` with the matches searched on `mask(s)`, so
    nothing inside a literal, quoted identifier or comment is replaced.
    `repl(m)` gets the match on the mask; its groups read like the
    original as long as they do not reach into a literal."""
    out, pos = [], 0
    for m in pattern.finditer(mask(s)):
        out.append(s[pos:m.start()])
        out.append(repl(m))
        pos = m.end()
    out.append(s[pos:])
    return "".join(out)
