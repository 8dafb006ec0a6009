"""Lint: every statement is classified in one place, the route table in
hyrise_spark/engine.py (`_ROUTES`). A second verb list drifts from it: the
write fence once missed PREPARE, DEALLOCATE and VACUUM, and the plan-cache
gate, the plan views and the epoch bump each disagreed on `(SELECT ...)`,
TABLE and FROM. Source scan only — no Spark session."""

from __future__ import annotations

import collections
import re
from pathlib import Path

import pytest

from hyrise_spark import engine

PKG = Path(engine.__file__).resolve().parent

# a regex that decides a statement by its leading word, e.g.
# r"^\s*(?:SELECT|WITH)\b", or a first-word guess like sql.split()[0]
_VERB_ALTERNATION = re.compile(r"(?:\^|\\A)\\s\*\((?:\?:)?[A-Za-z]+\s*\|")
_FIRST_WORD_GUESS = re.compile(r"\.split\(\)\[0\]")


def _offences(text: str) -> list[str]:
    return [m.group(0) for p in (_VERB_ALTERNATION, _FIRST_WORD_GUESS)
            for m in p.finditer(text)]


@pytest.mark.parametrize("text", [
    r'_CACHEABLE_RE = re.compile(r"^\s*(?:SELECT|WITH|VALUES)\b", re.I)',
    r'r"^\s*(?:INSERT|UPDATE|DELETE|MERGE|CREATE|DROP|ALTER|TRUNCATE|"',
    r're.match(r"\A\s*(BEGIN|START)", stmt)',
    'tag = sql.strip().split()[0].upper()',
])
def test_lint_catches_a_second_verb_list(text):
    assert _offences(text)


def test_no_verb_list_outside_the_route_table():
    found = [
        f"{path.relative_to(PKG.parent)}: {hit}"
        for path in sorted(PKG.rglob("*.py"))
        for hit in _offences(path.read_text())
    ]
    assert not found, (
        "classify statements through Engine._route (the _ROUTES table in "
        f"hyrise_spark/engine.py), not a verb list of their own: {found}")


def test_each_word_has_one_route_row_and_real_handlers():
    words = collections.Counter(w for ws, _, _ in engine._ROUTES for w in ws)
    assert [w for w, n in words.items() if n > 1] == []
    kinds = {"query", "write", "txn", "session", "export", "passthrough", None}
    for ws, kind, cases in engine._ROUTES:
        assert kind in kinds, ws
        for case in cases:
            assert callable(getattr(engine.Engine, case[1], None)), (ws, case[1])
            assert case[2:] in ((), ("export",)), (ws, case)
