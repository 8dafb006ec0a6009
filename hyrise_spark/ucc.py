"""Unique column combination (UCC) discovery — the reference's
ucc_discovery_plugin re-expressed Spark-first.

Reference (src/plugins/ucc_discovery_plugin.{hpp,cpp}):
- `_identify_ucc_candidates` (ucc_discovery_plugin.cpp:90-123) walks the
  cached LQPs and only considers columns whose uniqueness could optimize a
  seen plan — aggregate (group-by) and join nodes (:107).
- `_validate_ucc_candidates` (:125+) checks uniqueness per candidate with
  per-segment dictionary-size early-outs (:255-337) before the expensive
  cross-segment scan.
- The plugin exposes a user-executable `DiscoverUCCs` function (:76) and
  re-runs discovery as a pre-benchmark hook.

Spark restatement:
- Candidates come from the Engine's statement log (the LQP-cache analog):
  columns named in GROUP BY clauses and equi-join ON conditions of logged
  statements, intersected with registered tables' columns.
- Validation is per-table, ONE pass for all of a table's candidates:
  `approx_count_distinct` + null counts in a single aggregate (the
  dictionary early-out analog — cheap, mergeable, no per-column scans),
  then an exact `count(distinct)` confirm only for survivors. A column is
  a UCC iff exact distinct == row count AND it has no NULLs.
- Validated UCCs feed Engine's redundant-DISTINCT rewrite: `SELECT
  DISTINCT cols FROM t ...` over a single table where a validated UCC is
  among the selected columns needs no dedup — the engine strips DISTINCT
  and Spark plans a bare projection, saving the full HashAggregate +
  Exchange pair (the reference's group-by reduction, :348).
- Any DML on a table INVALIDATES its UCCs (the reference revalidates via
  MVCC snapshots; an engine without that must drop, not trust, stale
  uniqueness).

At 100 TB: the prefilter pass is a partial-agg scan (HLL sketches merge
map-side); the exact confirm runs only for columns the sketch says are
plausibly unique, and each is a count-distinct shuffle of one column — the
same cost ANALYZE already pays per column.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hyrise_spark.sqltext import split_top_level

# Candidate extraction from logged SQL text (the LQP-cache walk analog).
_GROUP_BY_RE = re.compile(
    r"\bGROUP\s+BY\s+(?P<cols>[\w\.\s,]+?)(?:\bHAVING\b|\bORDER\b|\bLIMIT\b|$)",
    re.IGNORECASE,
)
_JOIN_ON_RE = re.compile(
    r"\bON\s+(?P<l>[\w\.]+)\s*=\s*(?P<r>[\w\.]+)", re.IGNORECASE
)


def identify_candidates(statements: list[str], table_columns: dict[str, list[str]]):
    """Columns from GROUP BY clauses and equi-join ON conditions of the
    logged statements, resolved against registered tables. Mirrors
    `_identify_ucc_candidates` (ucc_discovery_plugin.cpp:90-123): only
    columns whose uniqueness could have optimized a seen plan."""
    col_owner: dict[str, list[str]] = {}
    for t, cols in table_columns.items():
        for c in cols:
            col_owner.setdefault(c.lower(), []).append(t)
    out: set[tuple[str, str]] = set()

    def add(token: str) -> None:
        token = token.strip().lower()
        if "." in token:
            token = token.split(".")[-1]
        for t in col_owner.get(token, []):
            out.add((t, token))

    for stmt in statements:
        for m in _GROUP_BY_RE.finditer(stmt):
            for part in m["cols"].split(","):
                add(part)
        for m in _JOIN_ON_RE.finditer(stmt):
            add(m["l"])
            add(m["r"])
    return out


def validate_uccs(df: DataFrame, columns: list[str]) -> dict[str, bool]:
    """One aggregate pass for ALL candidates of a table (HLL prefilter +
    null counts), then an exact confirm per survivor — the Spark analog of
    the reference's dictionary-size early-out before the exact scan."""
    if not columns:
        return {}
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in columns:
        aggs.append(F.approx_count_distinct(c).alias(f"__a_{c}"))
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__n_{c}"))
    row = df.agg(*aggs).collect()[0]
    rows = row["__rows"]
    result = {c: False for c in columns}
    # HLL standard error is ~2.3% at the default rsd 5% setting; a column
    # whose sketch is far below the row count cannot be unique — early out.
    survivors = [
        c
        for c in columns
        if row[f"__n_{c}"] == 0 and (rows == 0 or row[f"__a_{c}"] >= rows * 0.9)
    ]
    if not survivors or rows == 0:
        return result
    exact = df.agg(
        *[F.countDistinct(c).alias(f"__d_{c}") for c in survivors]
    ).collect()[0]
    for c in survivors:
        result[c] = exact[f"__d_{c}"] == rows
    return result


def discover_uccs(spark: SparkSession, catalog) -> int:
    """The `DiscoverUCCs` user-executable function
    (ucc_discovery_plugin.cpp:76): identify candidates from the statement
    log, validate them, store the validated set on the catalog. Returns the
    number of validated UCCs now known.

    UCC keys are stored with the table name LOWERCASED — the one canonical
    key shared by invalidation (replace/drop lowercase too) and the rewrite
    lookup, so a table registered with uppercase letters cannot keep stale
    entries after DML."""
    # lowercase key -> registered name, for get_table round-trips
    registered = {t.lower(): t for t in catalog.table_names()}
    table_columns = {
        low: catalog.get_table(orig).columns for low, orig in registered.items()
    }
    statements = [e["statement"] for e in catalog.statement_log]
    cands = identify_candidates(statements, table_columns)
    by_table: dict[str, list[str]] = {}
    for t, c in cands:
        by_table.setdefault(t, []).append(c)
    for t, cols in sorted(by_table.items()):
        fresh = [c for c in cols if (t, c) not in catalog.validated_uccs]
        got = validate_uccs(catalog.get_table(registered[t]), sorted(fresh))
        for c, ok in got.items():
            if ok:
                catalog.validated_uccs.add((t, c))
    return len(catalog.validated_uccs)


def invalidate_uccs(catalog, table: str) -> None:
    """DML on `table` voids its validated UCCs — uniqueness is a snapshot
    property; trusting it across writes would corrupt the DISTINCT rewrite."""
    catalog.validated_uccs = {
        (t, c) for (t, c) in catalog.validated_uccs if t != table.lower()
    }


# Rewrite detection: SELECT DISTINCT <cols> FROM <one table> with no join /
# group by / set operation — the only shape where stripping DISTINCT against
# a validated UCC is unconditionally sound.
_DISTINCT_RE = re.compile(
    r"^\s*SELECT\s+DISTINCT\s+(?P<cols>.+?)\s+FROM\s+(?P<table>\w+)"
    r"(?P<rest>\s+WHERE\s+.+?|\s*)$",
    re.IGNORECASE | re.DOTALL,
)
_BLOCKERS_RE = re.compile(r"\b(JOIN|GROUP\s+BY|UNION|INTERSECT|EXCEPT)\b", re.IGNORECASE)

# A select item that is a plain (optionally table-qualified) column reference.
# Anything else — function calls, arithmetic, literals, aliases — disqualifies
# the whole statement from the rewrite: `substr(c, k, 2)` mentions UCC column
# `k` without projecting it, so stripping DISTINCT there would be wrong.
_BARE_COLUMN_RE = re.compile(r"(?:\w+\.)?\w+|\*", re.ASCII)


def maybe_strip_redundant_distinct(stmt: str, catalog) -> str:
    """If `stmt` is `SELECT DISTINCT cols FROM t [WHERE ...]` and the
    selected columns contain a validated UCC of t, DISTINCT is a no-op —
    return the statement without it (saving the HashAggregate + Exchange
    Spark would otherwise plan). Anything non-trivial passes through
    untouched; in particular every select item must be a bare column
    reference (a UCC column appearing only inside an expression does NOT
    make the output unique)."""
    if _BLOCKERS_RE.search(stmt):
        return stmt
    m = _DISTINCT_RE.match(stmt.strip().rstrip(";"))
    if not m:
        return stmt
    table = m["table"].lower()
    items = split_top_level(m["cols"])
    if not all(_BARE_COLUMN_RE.fullmatch(it) for it in items):
        return stmt
    cols = {it.split(".")[-1].lower() for it in items}
    if "*" in cols:
        cols = {c.lower() for c in catalog.get_table(table).columns} if catalog.has_table(table) else set()
    has_ucc = any(
        t == table and c in cols for (t, c) in catalog.validated_uccs
    )
    if not has_ucc:
        return stmt
    return re.sub(r"^(\s*SELECT\s+)DISTINCT\s+", r"\1", stmt, count=1, flags=re.IGNORECASE)
