"""Property-based differential fuzzing: random predicate + aggregation
queries executed by BOTH spark.sql and DuckDB over the same tables.

Extends the fixed corpora (test_sql_corpus, test_join_matrix) with generated
cases — the same idea as the reference's configuration-matrix sweeps
(join_test_runner.cpp) but over the predicate/aggregation space.
`derandomize=True` keeps CI deterministic.
"""

from __future__ import annotations

import os

import pytest

# hypothesis fuzz sweep — deselected from the driver-window default run (pytest.ini / conftest);
# runs under HYRISE_SPARK_FULL_TESTS=1.
pytestmark = pytest.mark.slow

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# deep-fuzz knob: HS_FUZZ_EXAMPLES multiplies every fuzz family (default 1x;
# a long-running bug hunt sets e.g. 10)
_FUZZ_X = int(os.environ.get("HS_FUZZ_EXAMPLES", "1"))

from tests.conftest import SF_DIR, TABLES
from tests.oracle_utils import canon

# -- predicate space over `orders` ------------------------------------------
_NUM_COLS = ["o_totalprice", "o_custkey", "o_orderkey"]
_NUM_OPS = ["<", "<=", ">", ">=", "=", "<>"]
_STR_COLS = ["o_orderstatus", "o_orderpriority"]
_STATUS = ["'O'", "'F'", "'P'"]
_PRIO = ["'1-URGENT'", "'2-HIGH'", "'3-MEDIUM'", "'4-NOT SPECIFIED'", "'5-LOW'"]


@st.composite
def predicate(draw) -> str:
    kind = draw(st.integers(0, 3))
    if kind == 0:
        col = draw(st.sampled_from(_NUM_COLS))
        op = draw(st.sampled_from(_NUM_OPS))
        val = draw(st.integers(0, 20000))
        return f"{col} {op} {val}"
    if kind == 1:
        col = draw(st.sampled_from(_STR_COLS))
        vals = _STATUS if col == "o_orderstatus" else _PRIO
        v = draw(st.sampled_from(vals))
        return f"{col} {draw(st.sampled_from(['=', '<>']))} {v}"
    if kind == 2:
        lo = draw(st.integers(0, 10000))
        hi = lo + draw(st.integers(0, 10000))
        return f"o_totalprice BETWEEN {lo} AND {hi}"
    month = draw(st.integers(1, 12))
    year = draw(st.integers(1995, 2001))
    return f"o_orderdate >= DATE '{year}-{month:02d}-01'"


@st.composite
def where_clause(draw) -> str:
    n = draw(st.integers(1, 3))
    preds = [draw(predicate()) for _ in range(n)]
    conj = draw(st.sampled_from([" AND ", " OR "]))
    return conj.join(f"({p})" for p in preds)


@pytest.fixture(scope="module", autouse=True)
def _views(spark):
    from hyrise_spark.catalog import load_tables

    for name, df in load_tables(spark, SF_DIR, TABLES).items():
        df.createOrReplaceTempView(name)


def _run_both(spark, duck, sql: str):
    sdf = spark.sql(sql)
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(sql)
    ocols = [d[0].lower() for d in res.description]
    orows = res.fetchall()
    assert len(srows) == len(orows), f"rowcount {len(srows)} vs {len(orows)}\n{sql}"
    assert canon(scols, srows) == canon(ocols, orows), sql


_SETTINGS = settings(
    max_examples=25 * _FUZZ_X,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_SETTINGS
@given(w=where_clause())
def test_fuzz_filtered_count(spark, duck, w):
    _run_both(spark, duck, f"SELECT COUNT(*) AS n FROM orders WHERE {w}")


@_SETTINGS
@given(w=where_clause(), key=st.sampled_from(_STR_COLS))
def test_fuzz_grouped_agg(spark, duck, w, key):
    _run_both(
        spark,
        duck,
        f"""SELECT {key}, CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(SUM(o_totalprice), 2) AS s
            FROM orders WHERE {w} GROUP BY {key}""",
    )


@_SETTINGS
@given(w=where_clause())
def test_fuzz_join_agg(spark, duck, w):
    _run_both(
        spark,
        duck,
        f"""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE {w} GROUP BY c_mktsegment""",
    )


# -- date-predicate space (round-5 theme: every rewrite family fuzzed) -------
@st.composite
def date_predicate(draw) -> str:
    """Random member of the date-filter families the engine rewrites:
    half-open ranges, exact-month ranges, OR-of-per-year ranges, and the
    boundary cases (empty range, single-day, cross-year)."""
    kind = draw(st.integers(0, 3))
    y = draw(st.integers(1995, 2001))
    m = draw(st.integers(1, 12))
    if kind == 0:  # half-open range, possibly cross-year / empty
        y2 = draw(st.integers(1995, 2002))
        m2 = draw(st.integers(1, 12))
        return (f"o_orderdate >= TIMESTAMP '{y}-{m:02d}-01' "
                f"AND o_orderdate < TIMESTAMP '{y2}-{m2:02d}-01'")
    if kind == 1:  # exact single month
        y2, m2 = (y + 1, 1) if m == 12 else (y, m + 1)
        return (f"o_orderdate >= TIMESTAMP '{y}-{m:02d}-01' "
                f"AND o_orderdate < TIMESTAMP '{y2}-{m2:02d}-01'")
    if kind == 2:  # OR of two per-year month ranges (the _any_year_month shape, tpcds_real.py)
        y2 = draw(st.integers(1995, 2001))
        m_end = f"{y + 1}-01-01" if m == 12 else f"{y}-{m + 1:02d}-01"
        m_end2 = f"{y2 + 1}-01-01" if m == 12 else f"{y2}-{m + 1:02d}-01"
        return (f"((o_orderdate >= TIMESTAMP '{y}-{m:02d}-01' AND o_orderdate < TIMESTAMP '{m_end}')"
                f" OR (o_orderdate >= TIMESTAMP '{y2}-{m:02d}-01' AND o_orderdate < TIMESTAMP '{m_end2}'))")
    d = draw(st.integers(1, 28))  # single-day band
    return (f"o_orderdate >= TIMESTAMP '{y}-{m:02d}-{d:02d}' "
            f"AND o_orderdate < TIMESTAMP '{y}-{m:02d}-{d:02d}' + INTERVAL 1 DAY")


@_SETTINGS
@given(w=date_predicate())
def test_fuzz_date_range_count(spark, duck, w):
    _run_both(spark, duck, f"SELECT COUNT(*) AS n FROM orders WHERE {w}")


@_SETTINGS
@given(w=date_predicate(), extract=st.sampled_from(["YEAR", "MONTH"]))
def test_fuzz_date_range_grouped_by_extract(spark, duck, w, extract):
    """Range filter + EXTRACT grouping — the exact split the rewrites rely
    on (raw column in the filter, function only in the groupBy)."""
    _run_both(
        spark,
        duck,
        f"""SELECT CAST(EXTRACT({extract} FROM o_orderdate) AS INTEGER) AS k,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders WHERE {w} GROUP BY 1""",
    )


# -- round-6 widening: join-type space + scalar-expression space -------------
@st.composite
def join_query(draw) -> str:
    """Random join family between orders and customer: inner/left plus the
    semi/anti forms expressed as [NOT] EXISTS (how the engine's users write
    them; Catalyst turns them into Left(Semi|Anti) — DuckDB must agree on
    NULL semantics too)."""
    kind = draw(st.sampled_from(["inner", "left", "semi", "anti"]))
    w = draw(where_clause())
    if kind in ("inner", "left"):
        jt = "JOIN" if kind == "inner" else "LEFT JOIN"
        return (
            f"SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,"
            f" CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders"
            f" FROM customer {jt} orders ON o_custkey = c_custkey AND ({w})"
            f" GROUP BY c_mktsegment"
        )
    neg = "NOT " if kind == "anti" else ""
    return (
        f"SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n FROM customer"
        f" WHERE {neg}EXISTS (SELECT 1 FROM orders"
        f" WHERE o_custkey = c_custkey AND ({w})) GROUP BY c_mktsegment"
    )


@_SETTINGS
@given(q=join_query())
def test_fuzz_join_types(spark, duck, q):
    _run_both(spark, duck, q)


@st.composite
def scalar_projection(draw) -> str:
    """Random scalar-expression projection over customer strings/numerics —
    the shared SUBSTR/CONCAT/UPPER/LENGTH/arithmetic vocabulary (1-based
    SUBSTR, C++ int division semantics are the engine's documented
    contract)."""
    kind = draw(st.integers(0, 4))
    if kind == 0:
        a = draw(st.integers(1, 10))
        b = draw(st.integers(1, 8))
        return f"SUBSTR(c_name, {a}, {b})"
    if kind == 1:
        return draw(st.sampled_from([
            "UPPER(c_mktsegment)", "LOWER(c_name)",
            "CONCAT(c_mktsegment, '-', c_name)",
        ]))
    if kind == 2:
        return f"CAST(LENGTH(c_name) + {draw(st.integers(0, 5))} AS INTEGER)"
    if kind == 3:
        n = draw(st.integers(2, 9))
        return f"CAST(c_custkey % {n} AS BIGINT)"
    return f"ROUND(c_acctbal * {draw(st.integers(1, 4))}, 2)"


@_SETTINGS
@given(e=scalar_projection(), w=where_clause())
def test_fuzz_scalar_projection_grouped(spark, duck, e, w):
    """Aggregate BY the scalar expression so row order never matters but
    every row's expression value still participates in the hash."""
    _run_both(
        spark,
        duck,
        f"""SELECT {e} AS k, CAST(COUNT(*) AS BIGINT) AS n
            FROM customer JOIN orders ON o_custkey = c_custkey
            WHERE {w} GROUP BY 1""",
    )


# -- window-function space (the §2.5 surface the reference declares but
# cannot execute; here it must match DuckDB on arbitrary shapes) -------------
@st.composite
def window_query(draw) -> str:
    """Random ranking/value window over orders. Determinism rules: the ORDER
    BY inside the window always ends with the unique o_orderkey, so ranks
    and lag/lead values are total-order stable on both engines."""
    part = draw(st.sampled_from(["o_orderstatus", "o_orderpriority"]))
    metric = draw(st.sampled_from(["o_totalprice", "o_custkey"]))
    direction = draw(st.sampled_from(["ASC", "DESC"]))
    fn = draw(st.sampled_from([
        "ROW_NUMBER()", "RANK()", "DENSE_RANK()",
        "LAG(o_orderkey, 1)", "LEAD(o_orderkey, 1)", "NTILE(7)",
    ]))
    w = draw(where_clause())
    k = draw(st.integers(2, 50))
    return (
        f"SELECT CAST(SUM(v) AS BIGINT) AS checksum, CAST(COUNT(*) AS BIGINT) AS n"
        f" FROM (SELECT COALESCE({fn} OVER (PARTITION BY {part}"
        f" ORDER BY {metric} {direction}, o_orderkey), -1) AS v,"
        f" ROW_NUMBER() OVER (PARTITION BY {part}"
        f" ORDER BY {metric} {direction}, o_orderkey) AS rn"
        f" FROM orders WHERE {w})"
        f" WHERE rn <= {k}"
    )


@_SETTINGS
@given(q=window_query())
def test_fuzz_window_functions(spark, duck, q):
    _run_both(spark, duck, q)


# -- frame-clause space: running/windowed SUM with ROWS BETWEEN --------------
@st.composite
def frame_query(draw) -> str:
    lo = draw(st.integers(0, 5))
    hi = draw(st.integers(0, 5))
    start = draw(st.sampled_from([f"{lo} PRECEDING", "UNBOUNDED PRECEDING", "CURRENT ROW"]))
    end = draw(st.sampled_from([f"{hi} FOLLOWING", "CURRENT ROW"]))
    if start == "CURRENT ROW" and end == "CURRENT ROW":
        end = f"{hi} FOLLOWING"
    w = draw(where_clause())
    return (
        f"SELECT CAST(SUM(CAST(rsum AS BIGINT)) AS BIGINT) AS checksum,"
        f" CAST(COUNT(*) AS BIGINT) AS n"
        f" FROM (SELECT SUM(o_custkey) OVER (PARTITION BY o_orderstatus"
        f" ORDER BY o_orderkey ROWS BETWEEN {start} AND {end}) AS rsum"
        f" FROM orders WHERE {w})"
    )


@_SETTINGS
@given(q=frame_query())
def test_fuzz_window_frames(spark, duck, q):
    _run_both(spark, duck, q)


# -- set-operation space -----------------------------------------------------
@st.composite
def setop_query(draw) -> str:
    op = draw(st.sampled_from(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"]))
    w1 = draw(where_clause())
    w2 = draw(where_clause())
    col = draw(st.sampled_from(["o_orderstatus", "o_orderpriority", "o_custkey % 100"]))
    return (
        f"SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ("
        f"SELECT {col} AS k FROM orders WHERE {w1}"
        f" {op} "
        f"SELECT {col} AS k FROM orders WHERE {w2})"
    )


@_SETTINGS
@given(q=setop_query())
def test_fuzz_set_operations(spark, duck, q):
    _run_both(spark, duck, q)


# -- round 9 dialect-rewrite space: frame exclusion + DISTINCT ON ------------
# These forms route through Engine.execute (DuckDB parses them natively;
# spark.sql cannot) — fuzzing the REWRITES, not Spark's executor.
_ENGINE = None


def _run_both_engine(spark, duck, sql: str):
    global _ENGINE
    if _ENGINE is None or _ENGINE.spark is not spark:
        from hyrise_spark.engine import Engine

        _ENGINE = Engine(spark)
    sdf = _ENGINE.execute(sql)
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(sql)
    ocols = [d[0].lower() for d in res.description]
    orows = res.fetchall()
    assert len(srows) == len(orows), f"rowcount {len(srows)} vs {len(orows)}\n{sql}"
    assert canon(scols, srows) == canon(ocols, orows), sql


# the aggregated argument mixes in NULLs so COUNT/SUM null-handling is hit
_FX_ARG = "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END"


@st.composite
def frame_exclude_query(draw) -> str:
    # MIN/MAX (round 12, _minmax_exclusion_expr): segmentation instead of
    # subtraction — CURRENT ROW under ROWS via constant-offset segments,
    # RANGE-mode via per-value frame multisets, ROWS GROUP/TIES via
    # position slices (FINITE bounds only: the generator narrows below)
    fn = draw(st.sampled_from(["SUM", "COUNT", "AVG", "MIN", "MAX"]))
    arg = draw(st.sampled_from([_FX_ARG, "*"])) if fn == "COUNT" else _FX_ARG
    part = draw(st.sampled_from(["", "PARTITION BY o_orderstatus "]))
    mode = draw(st.sampled_from(["ROWS", "RANGE"]))
    ident = "o_orderkey"
    filt = draw(st.sampled_from(["", " FILTER (WHERE o_totalprice > 5000)"]))
    if mode == "ROWS":
        excl = draw(st.sampled_from(["CURRENT ROW", "GROUP", "TIES"]))
        if excl == "CURRENT ROW":
            # unique ORDER BY key: ROWS frames over ties are nondeterministic
            order = "o_orderkey"
        else:
            # ROWS + GROUP/TIES (round 11, _rows_group_exclusion_expr):
            # real peer groups need a NON-unique key, and determinism under
            # tie permutation needs EVERYTHING row-dependent — the
            # aggregated value, the FILTER predicate, and the projected
            # identity — to be a FUNCTION of that key (a ROWS frame
            # straddles group boundaries, so a row's result depends on its
            # engine-assigned position within its peer group; only the
            # per-key result MULTISET is deterministic, which the sorted
            # canon compares). NULLs stay in the lattice for COUNT/SUM.
            k = draw(st.integers(5, 40))
            order = ident = f"o_custkey % {k}"
            if arg != "*":
                arg = (f"CASE WHEN (o_custkey % {k}) % 7 = 0 THEN NULL"
                       f" ELSE (o_custkey % {k}) * 3 + 1 END")
            filt = draw(st.sampled_from(
                ["", f" FILTER (WHERE (o_custkey % {k}) > 3)"]))
        if fn in ("MIN", "MAX") and excl != "CURRENT ROW":
            # ROWS GROUP/TIES MIN/MAX: finite bounds only (the position-
            # slice array must stay O(k1+k2); UNBOUNDED sides raise)
            lo = f"{draw(st.integers(0, 4))} PRECEDING"
            hi = f"{draw(st.integers(0, 4))} FOLLOWING"
        else:
            lo = draw(st.sampled_from(
                [f"{draw(st.integers(0, 4))} PRECEDING",
                 "UNBOUNDED PRECEDING", "CURRENT ROW"]))
            hi = draw(st.sampled_from(
                [f"{draw(st.integers(0, 4))} FOLLOWING",
                 "UNBOUNDED FOLLOWING", "CURRENT ROW"]))
    else:
        # non-unique ORDER BY key: peer groups are real; value-based frames
        # are deterministic regardless of tie order
        order = f"o_custkey % {draw(st.integers(5, 60))}"
        excl = draw(st.sampled_from(["CURRENT ROW", "GROUP", "TIES"]))
        lo = draw(st.sampled_from(
            [f"{draw(st.integers(0, 9))} PRECEDING", "UNBOUNDED PRECEDING",
             "CURRENT ROW"]))
        hi = draw(st.sampled_from(
            [f"{draw(st.integers(0, 9))} FOLLOWING", "UNBOUNDED FOLLOWING",
             "CURRENT ROW"]))
    expr = (f"{fn}({arg}){filt} OVER ({part}ORDER BY {order}"
            f" {mode} BETWEEN {lo} AND {hi} EXCLUDE {excl})")
    if fn == "AVG":
        expr = f"ROUND({expr}, 4)"
    elif fn == "SUM" or arg != "*":
        expr = f"CAST({expr} AS BIGINT)"
    w = draw(where_clause())
    return (
        f"SELECT {ident} AS i, {expr} AS x FROM orders WHERE {w}"
    )


@_SETTINGS
@given(q=frame_exclude_query())
def test_fuzz_frame_exclusion(spark, duck, q):
    _run_both_engine(spark, duck, q)


@st.composite
def distinct_exclude_query(draw) -> str:
    """DISTINCT window aggregates composed with EXCLUDE (round 12,
    _distinct_exclusion_expr). The DISTINCT arg has a SMALL domain
    independent of the sort key, so the same value recurs both inside and
    outside peer groups — the exact case where a set-level ARRAY_EXCEPT
    would be wrong and per-value multiset counts are required. RANGE-mode
    frames keep every projected value a pure function of the row (frames
    and peers are order-VALUE sets), so the sorted canon is deterministic
    under tie permutation; the ROWS variant is limited to EXCLUDE CURRENT
    ROW over the UNIQUE key (no tie ambiguity at all)."""
    fn = draw(st.sampled_from(["COUNT", "SUM", "AVG", "MIN", "MAX"]))
    arg = draw(st.sampled_from([
        f"o_orderkey % {draw(st.integers(3, 9))}",
        f"CASE WHEN o_orderkey % 11 = 0 THEN NULL"
        f" ELSE o_orderkey % {draw(st.integers(3, 7))} END",
    ]))
    excl = draw(st.sampled_from(
        ["CURRENT ROW", "GROUP", "TIES", "NO OTHERS"]))
    part = draw(st.sampled_from(["", "PARTITION BY o_orderstatus "]))
    rows_mode = excl != "NO OTHERS" and draw(st.booleans())
    if rows_mode and excl == "CURRENT ROW":
        key, fm = "o_orderkey", "ROWS"  # unique key: tie-free positions
    elif rows_mode:
        # ROWS GROUP/TIES (round-12 second wave: position-slice kept
        # multiset): non-unique key for REAL straddling peer groups;
        # determinism under tie permutation needs the DISTINCT arg to be
        # a FUNCTION of the key (same argument as frame_exclude_query)
        k = draw(st.integers(5, 40))
        key, fm = f"o_custkey % {k}", "ROWS"
        arg = (f"CASE WHEN (o_custkey % {k}) % 5 = 0 THEN NULL"
               f" ELSE (o_custkey % {k}) % 7 END")
    else:
        key, fm = f"o_custkey % {draw(st.integers(5, 40))}", "RANGE"
    if fm == "ROWS" and excl != "CURRENT ROW":
        # bounded ROWS only — UNBOUNDED sides raise by design
        lo = f"{draw(st.integers(0, 9))} PRECEDING"
        hi = f"{draw(st.integers(0, 9))} FOLLOWING"
    else:
        lo = draw(st.sampled_from(
            [f"{draw(st.integers(0, 9))} PRECEDING", "UNBOUNDED PRECEDING",
             "CURRENT ROW"]))
        hi = draw(st.sampled_from(
            [f"{draw(st.integers(0, 9))} FOLLOWING", "UNBOUNDED FOLLOWING",
             "CURRENT ROW"]))
    expr = (f"{fn}(DISTINCT {arg}) OVER ({part}ORDER BY {key}"
            f" {fm} BETWEEN {lo} AND {hi} EXCLUDE {excl})")
    expr = (f"ROUND({expr}, 4)" if fn == "AVG"
            else f"CAST({expr} AS BIGINT)")
    w = draw(where_clause())
    return (f"SELECT {key} AS i, {arg} AS a, {expr} AS x"
            f" FROM orders WHERE {w}")


@_SETTINGS
@given(q=distinct_exclude_query())
def test_fuzz_distinct_exclusion(spark, duck, q):
    _run_both_engine(spark, duck, q)


@st.composite
def distinct_on_query(draw) -> str:
    keys = draw(
        st.lists(
            st.sampled_from(
                ["o_orderstatus", "o_orderpriority", "o_custkey % 10"]
            ),
            min_size=1, max_size=2, unique=True,
        )
    )
    dirn = draw(st.sampled_from(["ASC", "DESC"]))
    w = draw(where_clause())
    ks = ", ".join(keys)
    # optionally a WINDOW expression in the select list: it must evaluate
    # on the PRE-distinct rows (clause order: windows before DISTINCT ON)
    win = draw(st.sampled_from([
        "",
        ", CAST(COUNT(*) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS grp_n",
        ", CAST(SUM(o_orderkey) FILTER (WHERE o_orderkey % 2 = 0)"
        " OVER (PARTITION BY o_orderpriority) AS BIGINT) AS even_sum",
    ]))
    return (
        f"SELECT DISTINCT ON ({ks}) {ks}, o_orderkey,"
        f" ROUND(o_totalprice, 2) AS price{win}"
        f" FROM orders WHERE {w}"
        f" ORDER BY {ks}, o_totalprice {dirn}, o_orderkey"
    )


@_SETTINGS
@given(q=distinct_on_query())
def test_fuzz_distinct_on(spark, duck, q):
    _run_both_engine(spark, duck, q)


@st.composite
def star_modifier_query(draw) -> str:
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    ex = draw(st.lists(st.sampled_from(cols[1:]), min_size=1, max_size=3,
                       unique=True))
    rep_col = draw(st.sampled_from([None, "o_custkey", "o_orderkey"]))
    rep = ""
    if rep_col and rep_col not in ex:
        rep = f" REPLACE ({rep_col} % 97 AS {rep_col})"
    w = draw(where_clause())
    return (f"SELECT * EXCLUDE ({', '.join(ex)}){rep} FROM orders"
            f" WHERE {w} ORDER BY o_orderkey")


@_SETTINGS
@given(q=star_modifier_query())
def test_fuzz_star_modifiers(spark, duck, q):
    _run_both_engine(spark, duck, q)


@st.composite
def window_distinct_query(draw) -> str:
    """DISTINCT window aggregates (engine rewrite over COLLECT_SET;
    DuckDB native). Partition-only specs plus ROWS frames ordered by the
    UNIQUE o_orderkey (tie-free, so the frame's distinct set is
    deterministic). The argument mixes in NULLs to hit COLLECT_SET's
    NULL-dropping == DISTINCT-aggregate NULL semantics."""
    fn = draw(st.sampled_from(["COUNT", "SUM", "AVG", "MIN", "MAX"]))
    arg = draw(st.sampled_from([_FX_ARG, "o_custkey % 13"]))
    part = draw(st.sampled_from(
        ["PARTITION BY o_orderstatus", "PARTITION BY o_orderpriority"]))
    frame = draw(st.sampled_from(["none", "rows", "range"]))
    if frame == "rows":
        lo = draw(st.sampled_from(
            [f"{draw(st.integers(0, 5))} PRECEDING", "UNBOUNDED PRECEDING"]))
        hi = draw(st.sampled_from(
            [f"{draw(st.integers(0, 5))} FOLLOWING", "CURRENT ROW"]))
        spec = f"{part} ORDER BY o_orderkey ROWS BETWEEN {lo} AND {hi}"
    elif frame == "range":
        # value-based frame over a non-unique key: contents are defined by
        # VALUES, so tie order cannot change the distinct set
        lo = draw(st.sampled_from(
            [f"{draw(st.integers(0, 9))} PRECEDING", "UNBOUNDED PRECEDING"]))
        hi = draw(st.sampled_from(
            [f"{draw(st.integers(0, 9))} FOLLOWING", "CURRENT ROW"]))
        spec = (f"{part} ORDER BY o_custkey % 37"
                f" RANGE BETWEEN {lo} AND {hi}")
    else:
        spec = part
    expr = f"{fn}(DISTINCT {arg}) OVER ({spec})"
    if fn == "AVG":
        expr = f"ROUND({expr}, 4)"
    elif fn == "SUM":
        # DuckDB SUM(DISTINCT bigint) is HUGEINT; the rewrite folds in
        # DOUBLE (exact here: distinct sets of small ints)
        expr = f"CAST({expr} AS DOUBLE)"
    w = draw(where_clause())
    return f"SELECT o_orderkey, {expr} AS x FROM orders WHERE {w}"


@_SETTINGS
@given(q=window_distinct_query())
def test_fuzz_window_distinct(spark, duck, q):
    _run_both_engine(spark, duck, q)


@st.composite
def recursive_union_query(draw) -> str:
    """Recursive UNION fixpoint (engine loop) vs DuckDB native recursion:
    random directed graphs on 8 nodes (cycles welcome — they are the
    point: UNION ALL recursion would not terminate), random seed node.
    The edge set rides inline VALUES so no per-example setup is needed."""
    edges = draw(st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=1, max_size=14, unique=True))
    seed = draw(st.integers(0, 7))
    vals = ", ".join(f"({s}, {d})" for s, d in edges)
    return (
        f"WITH RECURSIVE r AS ("
        f" SELECT {seed} AS n"
        f" UNION"
        f" SELECT e.dst AS n FROM r"
        f" JOIN (VALUES {vals}) AS e(src, dst) ON e.src = r.n"
        f") SELECT * FROM r ORDER BY n"
    )


@_SETTINGS
@given(q=recursive_union_query())
def test_fuzz_recursive_union(spark, duck, q):
    _run_both_engine(spark, duck, q)


# -- composed window-spec space (VERDICT r9 #8): GROUPS/RANGE frame x FILTER
# -- x EXCLUDE in ONE OVER — engine rewrites compose; DuckDB runs FILTER +
# -- EXCLUDE natively but lacks GROUPS mode, so the oracle text hand-derives
# -- GROUPS as RANGE over DENSE_RANK (the same independent derivation the
# -- registered window_groups_frame_sql oracle uses).
@st.composite
def composed_window_query(draw) -> tuple[str, str]:
    fn = draw(st.sampled_from(["SUM(o_custkey)", "COUNT(*)", "COUNT(o_custkey)"]))
    use_groups = draw(st.booleans())
    use_filter = draw(st.booleans())
    exclude = draw(st.sampled_from(
        [None, "EXCLUDE CURRENT ROW", "EXCLUDE GROUP", "EXCLUDE TIES",
         "EXCLUDE NO OTHERS"]))
    lo = draw(st.sampled_from(["UNBOUNDED PRECEDING", "2 PRECEDING",
                               "5 PRECEDING"]))
    hi = draw(st.sampled_from(["CURRENT ROW", "3 FOLLOWING"]))
    mode = "GROUPS" if use_groups else "RANGE"
    filt = " FILTER (WHERE o_totalprice > 100000)" if use_filter else ""
    ex = f" {exclude}" if exclude else ""
    # the engine's exclusion rewrite supports SUM/COUNT/AVG only, frames
    # containing the current row — the generator stays in that envelope
    # (ORDER BY o_custkey % 97 gives real peer groups for GROUP/TIES)
    okey = "o_custkey % 97"
    spark_spec = (f"PARTITION BY o_orderstatus ORDER BY {okey} "
                  f"{mode} BETWEEN {lo} AND {hi}{ex}")
    # per-row output (canon is order-insensitive); the GROUPS rewrite
    # supports top-level windowed SELECTs, so the window stays top-level
    ssql = (
        f"SELECT o_orderkey, CAST({fn}{filt} OVER ({spark_spec}) AS BIGINT)"
        f" AS v FROM orders WHERE o_orderkey < 3000"
    )
    if use_groups:
        duck_inner = (
            f"SELECT *, DENSE_RANK() OVER (PARTITION BY o_orderstatus"
            f" ORDER BY {okey}) AS __dr"
            f" FROM orders WHERE o_orderkey < 3000"
        )
        duck_spec = (f"PARTITION BY o_orderstatus ORDER BY __dr "
                     f"RANGE BETWEEN {lo} AND {hi}{ex}")
        dsql = (
            f"SELECT o_orderkey, CAST({fn}{filt} OVER ({duck_spec}) AS BIGINT)"
            f" AS v FROM ({duck_inner})"
        )
    else:
        dsql = ssql
    return ssql, dsql


@_SETTINGS
@given(q=composed_window_query())
def test_fuzz_composed_window_specs(spark, duck, q):
    from hyrise_spark.engine import Engine

    ssql, dsql = q
    sdf = Engine(spark).execute(ssql)
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(dsql)
    ocols = [d[0].lower() for d in res.description]
    orows = res.fetchall()
    assert len(srows) == len(orows), f"rowcount\n{ssql}\n{dsql}"
    assert canon(scols, srows) == canon(ocols, orows), f"{ssql}\n{dsql}"
