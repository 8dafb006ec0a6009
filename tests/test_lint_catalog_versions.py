"""Lint: every Catalog method that changes `_tables` or `_views` moves the
plan cache's validity stamp.

A cached plan stays valid while the catalog epoch and the version of every
table it reads are unchanged (hyrise_spark/plan_cache.py). A method that
assigns into, deletes from or rebinds `_tables` or `_views` without
calling `self.bump_table(...)` or `self.bump_epoch()` would let the cache
serve a plan over the state it replaced. `__init__` builds the empty state
before any plan exists; `set_state` is allowed below with its reason.
"""
from __future__ import annotations

import ast
from pathlib import Path

CATALOG = Path(__file__).resolve().parent.parent / "hyrise_spark" / "catalog.py"

STATE = {"_tables", "_views"}
BUMPS = {"bump_table", "bump_epoch"}
MUTATING_CALLS = {"pop", "popitem", "clear", "update", "setdefault", "__setitem__",
                  "__delitem__"}
ALLOWED = {
    "__init__": "builds the empty state; no plan can be cached yet",
    "set_state": "installs a transaction pin: ROLLBACK bumps the epoch "
                 "(Engine._restore), and a snapshot read puts the live state "
                 "back before the next cache lookup",
}


def _self_attr(node: ast.AST) -> str | None:
    """`x` for an expression `self.x`, else None."""
    if (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
            and node.value.id == "self"):
        return node.attr
    return None


def _targets(node: ast.AST):
    if isinstance(node, (ast.Assign, ast.Delete)):
        yield from node.targets
    elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
        yield node.target


def _mutates_state(fn: ast.FunctionDef) -> bool:
    for node in ast.walk(fn):
        for t in _targets(node):
            base = t.value if isinstance(t, ast.Subscript) else t
            if _self_attr(base) in STATE:
                return True
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if (node.func.attr in MUTATING_CALLS
                    and _self_attr(node.func.value) in STATE):
                return True
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                and node.func.id == "setattr" and node.args
                and isinstance(node.args[0], ast.Name) and node.args[0].id == "self"):
            return True  # setattr(self, <field>, ...) can rebind either
    return False


def _bumps(fn: ast.FunctionDef) -> bool:
    return any(
        isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.func.attr in BUMPS and _self_attr(n.func) is not None
        for n in ast.walk(fn)
    )


def unstamped_mutators(source: str) -> tuple[list[str], list[str]]:
    """(methods of class Catalog that change `_tables`/`_views`, those of
    them that bump neither a table version nor the epoch)."""
    cls = next(n for n in ast.parse(source).body
               if isinstance(n, ast.ClassDef) and n.name == "Catalog")
    mutators = [f for f in cls.body
                if isinstance(f, ast.FunctionDef) and _mutates_state(f)]
    return ([f.name for f in mutators],
            [f.name for f in mutators if f.name not in ALLOWED and not _bumps(f)])


def test_catalog_mutators_bump_plan_cache_stamp():
    mutators, bad = unstamped_mutators(CATALOG.read_text())
    # the lint sees the known mutation paths, so it is not vacuous
    assert {"add_table", "replace_table", "compact_table", "rename_table",
            "drop_table", "add_view", "replace_view", "drop_view",
            "set_state"} <= set(mutators), mutators
    assert not bad, (
        f"Catalog methods {bad} change _tables/_views without "
        "self.bump_table(name) or self.bump_epoch(): the plan cache would "
        "serve plans over the replaced state"
    )


def test_lint_flags_a_mutator_without_a_bump():
    src = '''
class Catalog:
    def bump_epoch(self):
        pass

    def sneaky(self, name, df):
        self._tables[name] = df

    def sneaky_pop(self, name):
        self._views.pop(name)

    def fine(self, name):
        self.bump_epoch()
        del self._views[name]
'''
    mutators, bad = unstamped_mutators(src)
    assert mutators == ["sneaky", "sneaky_pop", "fine"]
    assert bad == ["sneaky", "sneaky_pop"]
