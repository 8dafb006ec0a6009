"""Registry-wide lint: registered query OUTPUTS must be scalar-typed.

The driver's correctness harness canonicalizes each result with pandas
(sort_values over every column, then value-hash); ArrayType / MapType /
StructType columns arrive as Python lists/dicts, which are unhashable and
break that sort (`TypeError: unhashable type: 'list'` — the one red row in
CORRECTNESS_r09). Complex types are fine INSIDE a plan (collect_set,
sort_array, UNNEST, sketch state); at the output boundary they must be
reduced to scalars (array_join / to_json / element extraction) so every
differential harness — driver, local sweep, DuckDB oracle — can sort and
hash the frame.

Schema inspection is analysis-only (no job runs for pure-DataFrame
builders); a handful of builders execute bounded driver-side work at build
time (recursive-CTE fixpoint probes, BPE merge loop) — the same cost the
oracle sweep already pays.
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import types as T

from hyrise_spark.registry import all_queries
from tests.conftest import SF_DIR

COMPLEX = (T.ArrayType, T.MapType, T.StructType)


@pytest.mark.slow  # full-registry output sweep; full run only (HYRISE_SPARK_FULL_TESTS=1)
def test_no_complex_types_in_registered_outputs(spark):
    offenders = []
    for name, qd in sorted(all_queries().items()):
        df = qd.builder(spark, SF_DIR)
        bad = [
            f"{f.name}: {f.dataType.simpleString()}"
            for f in df.schema.fields
            if isinstance(f.dataType, COMPLEX)
        ]
        if bad:
            offenders.append(f"{name}: {', '.join(bad)}")
    assert not offenders, (
        "registered queries with complex-typed output columns "
        "(stringify with array_join/to_json at the boundary):\n"
        + "\n".join(offenders)
    )


QUERIES = all_queries()
_SQL_QUERIES = sorted(n for n, qd in QUERIES.items() if qd.sql_tables is not None)


@pytest.fixture(scope="module")
def isolated_spark(spark):
    """A session with its own temp-view namespace (same SparkContext): a
    text can only see the views its own builder registered."""
    return spark.newSession()


def _build_without_foreign_views(session, qd):
    """Drop every temp view in `session`, then run the builder there: its
    spark.sql(text) analyzes only if every table the text names is a view
    the builder itself registered."""
    for t in session.catalog.listTables():
        if t.isTemporary:
            session.catalog.dropTempView(t.name)
    return qd.builder(session, SF_DIR)


@pytest.mark.parametrize("name", _SQL_QUERIES)
def test_register_sql_text_reads_only_its_own_views(isolated_spark, duck, name):
    """register_sql builders: every table the text names is a view the
    builder itself registers (never one left over from an earlier builder),
    and Spark's output column names equal DuckDB's for the same text.
    Analysis only on both engines — no job runs."""
    qd = QUERIES[name]
    df = _build_without_foreign_views(isolated_spark, qd)
    assert df.columns == duck.sql(qd.oracle).columns


@pytest.mark.parametrize(
    "text",
    [
        "SELECT supplier_no, total_revenue FROM revenue0",
        "SELECT s_name FROM supplier JOIN revenue0 ON s_suppkey = supplier_no",
    ],
)
def test_own_views_check_catches_a_foreign_view(spark, isolated_spark, monkeypatch, text):
    """The check above catches a text that names a view its builder does not
    load: a `revenue0` view (the CTE name in tpch_q15's text) left over in the
    shared session lets the text run there, and the isolated session raises."""
    from pyspark.errors import AnalysisException

    import hyrise_spark.registry as registry

    monkeypatch.setattr(registry, "_REGISTRY", {})
    registry.register_sql("foreign_view_probe", text)
    qd = registry._REGISTRY["foreign_view_probe"]
    spark.createDataFrame(
        [(1, 2.0)], "supplier_no BIGINT, total_revenue DOUBLE"
    ).createOrReplaceTempView("revenue0")
    try:
        assert qd.builder(spark, SF_DIR).columns
        with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
            _build_without_foreign_views(isolated_spark, qd)
    finally:
        spark.catalog.dropTempView("revenue0")


# Hand builders whose oracle text Spark analyzes, each kept for the measured
# reason written next to its builder (ROADMAP direction 2: the SQL text is
# the builder unless a plan count or an interleaved A/B favours the hand
# builder). name -> where the reason is.
_KEPT_BUILDERS: dict[str, str] = {
    "tpch_q11": "plans/tpch.py: checkpoint hub; text 7 vs 6 Exchange/BNLJ nodes, 1.06x",
    "aggregate_mode_manual": "plans/analytic.py: checkpoint hub; text 6 vs 5 Exchanges, 1.13x",
    "aggregate_percentile_cont": "plans/analytic.py: one-pass form; text 1.44x",
    "skyline_price_size": "plans/analytic.py: text plans a BroadcastNestedLoopJoin",
    "events_trajectory_similarity": "plans/events.py: text 23 vs 7 Exchanges, 1.27x",
    "cte_recursive_nation_chain": "plans/relational.py: native WITH RECURSIVE 1.20x",
    "window_groups_frame_sql": "plans/windows.py: the query under test is GROUPS via Engine",
    "tpcc_new_order": "plans/tpcc.py: the builder is the DML under test",
    "tpcc_payment": "plans/tpcc.py: the builder is the DML under test",
    "tpcc_delivery": "plans/tpcc.py: the builder is the DML under test",
    "dedup_exact": "pipeline/dedup.py: Spark reads regexp_replace's 'g' as a position",
    "text_fingerprint": "pipeline/text.py: Spark reads regexp_replace's 'g' as a position",
    "tpcds_dual_ranking": "plans/tpcds.py: checkpoint hub; SQL top-k form 1.11x",
    "jcch_skewed_group_agg": "plans/jcch.py: the salted plan, checked against the plain text",
    "jcch_skewed_salted_join": "plans/jcch.py: the salted plan, checked against the plain text",
}

_LAYOUT_TAGS = {"bucketed", "datesorted", "datepartitioned", "zordered"}


def test_hand_builders_whose_text_runs_are_kept_on_purpose(isolated_spark):
    """Every hand builder with an oracle (layout variants aside) whose text
    analyzes in Spark over the testdata tables it names must be in
    _KEPT_BUILDERS; otherwise register_sql should replace it. Analysis only —
    no job runs."""
    from pyspark.errors import AnalysisException

    from hyrise_spark.catalog import TESTDATA_TABLES, load_tables

    runs = []
    for name, qd in sorted(QUERIES.items()):
        if qd.sql_tables is not None or not qd.oracle or _LAYOUT_TAGS & set(qd.tags):
            continue
        session = isolated_spark.newSession()
        load_tables(
            session, SF_DIR,
            tuple(t for t in TESTDATA_TABLES if re.search(rf"\b{t}\b", qd.oracle)),
        )
        try:
            session.sql(qd.oracle)
        except AnalysisException:
            continue
        runs.append(name)
    unexplained = sorted(set(runs) - set(_KEPT_BUILDERS))
    assert not unexplained, (
        "hand builders whose text Spark runs (register them with register_sql, "
        f"or write the measured reason next to the builder): {unexplained}"
    )
    stale = sorted(set(_KEPT_BUILDERS) - set(runs))
    assert not stale, f"_KEPT_BUILDERS entries whose text no longer runs: {stale}"


# Spellings that parse in both engines but do not mean the same thing in
# both (or that Spark rejects). Each entry: the pattern, then the portable
# spelling that gives one value in both engines.
_DIALECT_TRAPS = [
    (
        re.compile(r"EXTRACT\s*\(\s*(DOW|DAYOFWEEK|ISODOW)\b", re.I),
        "weekday: write EXTRACT(DAY FROM col - TIMESTAMP '1970-01-04') % 7 "
        "(0 = Sunday); DuckDB's DOW counts 0-6 from Sunday, Spark's 1-7",
    ),
    (
        re.compile(r"\b(dayofweek|weekday)\s*\(", re.I),
        "weekday: write EXTRACT(DAY FROM col - TIMESTAMP '1970-01-04') % 7 "
        "(0 = Sunday); dayofweek() counts 0-6 in DuckDB and 1-7 in Spark",
    ),
    (
        re.compile(r"\bdate_?diff\s*\(\s*'", re.I),
        "day difference: write EXTRACT(DAY FROM b - a); Spark rejects a "
        "quoted date_diff unit",
    ),
    (
        re.compile(r"(?<![\w.])(\d+\.\d*\s*/\s*\d|\d+\s*/\s*\d+\.\d)"),
        "fraction: write CAST(2 AS DOUBLE) / 3; Spark types a decimal-literal "
        "division such as 2.0 / 3.0 as DECIMAL(8,6) = 0.666667, DuckDB as DOUBLE",
    ),
]


def _dialect_trap(text: str) -> str | None:
    for pattern, fix in _DIALECT_TRAPS:
        m = pattern.search(text)
        if m:
            return f"{m.group(0)!r} — {fix}"
    return None


@pytest.mark.parametrize("name", _SQL_QUERIES)
def test_register_sql_text_uses_portable_spellings(name):
    """A register_sql text runs verbatim in both engines, so a spelling
    whose value differs between them breaks the oracle silently (the
    parent TPC-DS oracles hit all four: q2/q43/q46 weekday, q50/q62/q99
    date_diff, q21's 2.0 / 3.0 dropping a boundary row)."""
    trap = _dialect_trap(QUERIES[name].oracle)
    assert trap is None, f"{name}: {trap}"


@pytest.mark.parametrize(
    "text",
    [
        "SELECT EXTRACT(DOW FROM o_orderdate) FROM orders",
        "SELECT extract(isodow from o_orderdate) FROM orders",
        "SELECT dayofweek(o_orderdate) FROM orders",
        "SELECT date_diff('day', o_orderdate, l_shipdate) FROM orders",
        "SELECT * FROM t WHERE a / b >= 2.0 / 3.0",
        "SELECT * FROM t WHERE a / b >= 2 / 3.0",
    ],
)
def test_dialect_lint_catches_each_trap(text):
    assert _dialect_trap(text) is not None


def test_dialect_lint_passes_portable_spellings():
    assert _dialect_trap(
        "SELECT EXTRACT(DAY FROM o_orderdate - TIMESTAMP '1970-01-04') % 7,"
        " EXTRACT(DAY FROM l_shipdate - o_orderdate), CAST(2 AS DOUBLE) / 3,"
        " ROUND(x, 2) / COUNT(*), l_extendedprice * 0.5 FROM lineitem"
    ) is None


def test_portable_spellings_agree_between_engines(spark, duck):
    """The three portable spellings give the same value in Spark and DuckDB
    on every lineitem x orders row, and each equals the engine's own native
    form (DuckDB dayofweek / date_diff, Spark dayofweek - 1 / datediff)."""
    from hyrise_spark.catalog import load_tables

    portable = """
        SELECT l_orderkey, l_linenumber,
               EXTRACT(DAY FROM o_orderdate - TIMESTAMP '1970-01-04') % 7 AS dow,
               EXTRACT(DAY FROM l_shipdate - o_orderdate) AS ship_days,
               CAST(2 AS DOUBLE) / 3 AS frac
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """
    session = spark.newSession()
    load_tables(session, SF_DIR, ("lineitem", "orders"))
    s_rows = sorted(tuple(r) for r in session.sql(portable).collect())
    d_rows = sorted(duck.sql(portable).fetchall())
    assert s_rows and s_rows == d_rows
    assert s_rows[0][4] == 2 / 3

    def native_mismatches(native_dow: str, native_days: str) -> str:
        return f"""
            SELECT CAST(SUM(CASE WHEN
                     EXTRACT(DAY FROM o_orderdate - TIMESTAMP '1970-01-04') % 7 <> {native_dow}
                     OR EXTRACT(DAY FROM l_shipdate - o_orderdate) <> {native_days}
                   THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        """

    assert duck.sql(native_mismatches(
        "dayofweek(o_orderdate)", "date_diff('day', o_orderdate, l_shipdate)"
    )).fetchone()[0] == 0
    assert session.sql(native_mismatches(
        "dayofweek(o_orderdate) - 1", "datediff(l_shipdate, o_orderdate)"
    )).collect()[0][0] == 0
    # the trap itself: Spark's decimal-literal division is not 2/3
    assert float(session.sql("SELECT 2.0 / 3.0 AS f").collect()[0][0]) == 0.666667
