"""Window functions — the surface the reference declares but cannot execute.

Reference: full SQL:2003 window parsing/translation exists
(src/lib/expression/window_expression.hpp:55, frame types at :30;
src/lib/sql/sql_translator.cpp:2010-2060; planned as WindowNode) but physical
translation fails with "Hyrise does not yet support window functions."
(src/lib/logical_query_plan/lqp_translator.cpp:523-526). Functions enumerated
at window_function_expression.hpp:27-33: CUME_DIST, DENSE_RANK, PERCENT_RANK,
RANK, ROW_NUMBER, plus every aggregate as a window function.

Spark executes all of it natively; DuckDB arbitrates correctness
(SURVEY.md §2.5). GROUPS frames have no native Spark mode but are
implemented via the rank-rewrite (`window_groups_frame` below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hyrise_spark.catalog import load_tables
from hyrise_spark.registry import register, register_sql


# All five ranking functions in one pass over a partitioned/ordered window.
register_sql(
    "window_ranking_functions",
    """
    SELECT o_orderkey, o_custkey,
           ROW_NUMBER()   OVER w AS rn,
           RANK()         OVER w AS rnk,
           DENSE_RANK()   OVER w AS drnk,
           ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
           ROUND(CUME_DIST()    OVER w, 6) AS cdist
    FROM orders
    WHERE o_custkey < 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    tags=("window",),
)


# Aggregates over a ROWS frame (running totals / moving averages).
register_sql(
    "window_rows_frame",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(SUM(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty,
           -- ROUND(SUM)/COUNT, not ROUND(AVG): a 3-row avg of 2-decimal money
           -- can sit exactly on a .xx5 boundary where engine summation-order
           -- ULP differences flip the rounding; rounded sums never do.
           ROUND(SUM(l_extendedprice) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                 ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2)
             / COUNT(*) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                 ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS moving_avg_price,
           COUNT(*) OVER (PARTITION BY l_orderkey) AS n_lines
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
    tags=("window", "frame"),
)


# RANGE frame keyed on a numeric ORDER BY (value-based bounds).
register_sql(
    "window_range_frame",
    """
    SELECT o_orderkey, o_custkey,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY CAST(o_totalprice AS DOUBLE)
                 RANGE BETWEEN 50000 PRECEDING AND 50000 FOLLOWING) AS near_price_cnt
    FROM orders
    WHERE o_custkey < 30
    """,
    tags=("window", "frame"),
)


# LAG/LEAD + FIRST_VALUE/LAST_VALUE (value window functions; beyond the
# reference's enumerated five — declared-surface superset).
register_sql(
    "window_value_functions",
    """
    SELECT o_custkey, o_orderkey,
           LAG(o_orderkey)  OVER w AS prev_order,
           LEAD(o_orderkey) OVER w AS next_order,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order
    FROM orders
    WHERE o_custkey < 40
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window",),
)


# Top-K per group via row_number (the reference's Sort+Limit has no per-group
# equivalent; this is the idiomatic Spark pattern).
register_sql(
    "window_topk_per_group",
    """
    SELECT c_nationkey, c_custkey, ROUND(c_acctbal, 2) AS c_acctbal FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
    tags=("window", "topk"),
)


# NTILE bucketing (window_function_expression.hpp aggregate-as-window family).
register_sql(
    "window_ntile",
    """
    SELECT o_orderkey, NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
    FROM orders WHERE o_orderkey < 400
    """,
    tags=("window",),
)


# GROUPS frames (window_expression.hpp:30 FrameType::Groups): Spark has no
# native GROUPS mode, but GROUPS is exactly a RANGE frame over DENSE_RANK —
# peers (rows tied on the ORDER BY key) share one rank, so "N groups
# preceding/following" = rank distance N. Two-pass emulation: dense_rank in
# pass one, numeric RANGE frame over the rank in pass two. DuckDB has no
# GROUPS mode either, so the oracle applies the SAME rank-based rewrite —
# the rewrite is engine-portable, and the differential check proves the two
# implementations of it agree (tie-group sums, running peer-group counts).
register_sql(
    "window_groups_frame",
    """
    WITH ranked AS (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag,
             DENSE_RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS dr
      FROM lineitem WHERE l_orderkey < 300
    )
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROUND(SUM(l_extendedprice) OVER (
             PARTITION BY l_returnflag ORDER BY dr
             RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2) AS grp_sum,
           CAST(COUNT(*) OVER (
             PARTITION BY l_returnflag ORDER BY dr
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp_running_cnt
    FROM ranked
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("window", "groups"),
)


# -- GROUPS frame as actual SQL text (engine.py::_groups_frame_sql) ----------
# The engine routes real `GROUPS BETWEEN` SQL through the dense-rank/RANGE
# rewrite (the same one window_groups_frame builds as a DataFrame plan).
# The sandbox DuckDB does not implement GROUPS mode ("not implemented yet"),
# so the oracle expresses the identical semantics via the rank rewrite in
# plain SQL — an independent hand-derivation of the frame definition.
_GROUPS_SQL = """
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROUND(SUM(l_extendedprice) OVER (PARTITION BY l_returnflag
                 ORDER BY l_quantity
                 GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2) AS grp_sum,
           CAST(COUNT(*) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
                 GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS grp_running_cnt
    FROM lineitem
    WHERE l_orderkey < 300
    ORDER BY l_orderkey, l_linenumber
"""

_GROUPS_ORACLE = """
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROUND(SUM(l_extendedprice) OVER (PARTITION BY l_returnflag
                 ORDER BY __dr RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2)
               AS grp_sum,
           CAST(COUNT(*) OVER (PARTITION BY l_returnflag ORDER BY __dr
                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS grp_running_cnt
    FROM (SELECT *, DENSE_RANK() OVER (PARTITION BY l_returnflag
                                       ORDER BY l_quantity) AS __dr
          FROM lineitem WHERE l_orderkey < 300)
    ORDER BY l_orderkey, l_linenumber
"""


@register(
    "window_groups_frame_sql",
    oracle=_GROUPS_ORACLE,
    tags=("window", "frame", "sql"),
)
def window_groups_frame_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual `GROUPS BETWEEN` SQL text (SQL:2011 frame mode the
    reference declares, window_expression.hpp:30) routed through the
    engine's dense-rank rewrite — closes the declared-surface asymmetry
    where the DataFrame form existed but the SQL text did not parse. The
    builder stays although Spark can run the oracle: the oracle is the rank
    rewrite, and the query under test is the GROUPS text through Engine."""
    from hyrise_spark.engine import Engine

    load_tables(spark, sf_dir, ("lineitem",))
    return Engine(spark).execute(_GROUPS_SQL)


# -- composed window spec: GROUPS frame + FILTER + EXCLUDE in ONE OVER -------
# (round 10: the engine's window-dialect rewrites compose — the GROUPS ->
# RANGE-over-dense-rank pass carries the EXCLUDE clause and hands the result
# to the shared FILTER/exclusion normalization). DuckDB lacks GROUPS mode,
# so the oracle hand-derives the same frame (dense_rank + RANGE) and runs
# FILTER/EXCLUDE natively — an independent derivation of the composition.
_COMPOSED_SQL = """
    SELECT l_orderkey, l_linenumber,
           SUM(l_quantity) FILTER (WHERE l_discount > 0.02)
             OVER (PARTITION BY l_returnflag ORDER BY l_orderkey
                   GROUPS BETWEEN 2 PRECEDING AND CURRENT ROW EXCLUDE TIES)
               AS s
    FROM lineitem
    WHERE l_orderkey < 500
    ORDER BY l_orderkey, l_linenumber
"""

_COMPOSED_ORACLE = """
    SELECT l_orderkey, l_linenumber,
           SUM(l_quantity) FILTER (WHERE l_discount > 0.02)
             OVER (PARTITION BY l_returnflag ORDER BY __dr
                   RANGE BETWEEN 2 PRECEDING AND CURRENT ROW EXCLUDE TIES)
               AS s
    FROM (SELECT *, DENSE_RANK() OVER (PARTITION BY l_returnflag
                                       ORDER BY l_orderkey) AS __dr
          FROM lineitem WHERE l_orderkey < 500)
    ORDER BY l_orderkey, l_linenumber
"""


@register(
    "window_composed_spec",
    oracle=_COMPOSED_ORACLE,
    tags=("window", "frame", "dialect", "sql"),
)
def window_composed_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPS + FILTER + EXCLUDE TIES composed in one OVER, through the
    engine's shared window-dialect normalization (fuzzed across the full
    GROUPS/RANGE x FILTER x EXCLUDE cross in test_differential_fuzz.py)."""
    from hyrise_spark.engine import Engine

    load_tables(spark, sf_dir, ("lineitem",))
    return Engine(spark).execute(_COMPOSED_SQL)


# -- QUALIFY clause (DuckDB/Snowflake dialect; engine.py::_qualify_sql) ------
# The SAME SQL text runs on both engines: DuckDB executes its native
# QUALIFY, this engine its rewrite (outer-wrap or select-list injection) —
# an independent-implementation differential of the clause semantics.
_QUALIFY_SQL = """
    SELECT l_returnflag, l_orderkey, l_linenumber,
           ROUND(l_extendedprice, 2) AS price,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag
                              ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
    FROM lineitem
    QUALIFY rn <= 5
"""


register_sql(
    "window_qualify",
    _QUALIFY_SQL,
    tags=("window", "qualify", "sql"),
    engine=True,
)


# -- named WINDOW clause (SQL:2003; native in both Spark and DuckDB) ---------
_NAMED_WINDOW_SQL = """
    SELECT l_orderkey, l_linenumber,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           ROUND(SUM(l_extendedprice) OVER w, 2) AS running_price
    FROM lineitem
    WHERE l_orderkey < 200
    WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)
    ORDER BY l_orderkey, l_linenumber
"""


# WINDOW w AS (...): one named spec shared by several window functions —
# the IDENTICAL text runs on both engines (independent implementations of
# the name resolution + shared-frame semantics).
register_sql(
    "window_named_clause",
    _NAMED_WINDOW_SQL,
    tags=("window", "sql"),
)


# -- round 9: frame EXCLUDE CURRENT ROW (SQL:2011 frame exclusion) -----------
# Engine rewrite (engine.py::_frame_exclude_sql) — Spark has no frame
# exclusion, so SUM/COUNT/AVG are computed on the un-excluded frame and the
# current row is subtracted out (NULL-safe, empty-frame-safe). DuckDB runs
# the SAME text natively. (l_orderkey, l_linenumber) is NOT unique in the
# synthetic data, so the window ORDER BY ends with l_extendedprice — rows
# that still tie are value-identical, making the ROWS-frame result
# MULTISET deterministic on both engines (same trick as any ROWS frame
# over non-unique keys).
# The aggregated column is an exact integer-cents lattice
# (CAST(ROUND(px*100) AS BIGINT)): SUM/COUNT/AVG over small exact integers
# are IEEE-identical however an engine associates the additions, so the
# subtraction rewrite and DuckDB's native exclusion agree to the last bit
# (double-SUM association order differs between the two execution
# strategies and flips ROUND(x, 2) at half-cent boundaries otherwise).
_FRAME_EXCLUDE_SQL = """
    SELECT l_orderkey, l_linenumber,
           CAST(SUM(cents) OVER (PARTITION BY l_returnflag
                 ORDER BY l_quantity, l_orderkey, l_linenumber, cents
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
                 EXCLUDE CURRENT ROW) AS BIGINT) AS peer_sum_cents,
           CAST(COUNT(*) OVER (PARTITION BY l_returnflag
                 ORDER BY l_quantity, l_orderkey, l_linenumber, cents
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
                 EXCLUDE CURRENT ROW) AS BIGINT) AS peer_cnt,
           ROUND(AVG(cents) OVER (PARTITION BY l_returnflag
                 ORDER BY l_quantity, l_orderkey, l_linenumber, cents
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
                 EXCLUDE CURRENT ROW) / 100.0, 4) AS peer_avg
    FROM (SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem WHERE l_orderkey < 400) t
    ORDER BY l_orderkey, l_linenumber
"""


# Frame EXCLUDE CURRENT ROW (SQL:2011; the reference declares frames
# but cannot execute windows, window_expression.hpp:30): peer-group
# statistics that leave the row itself out — the leave-one-out shape used
# by anomaly scoring. Same text runs natively on DuckDB (the oracle).
register_sql(
    "window_frame_exclude",
    _FRAME_EXCLUDE_SQL,
    tags=("window", "frame", "sql"),
    engine=True,
)


# -- round 9: IGNORE NULLS value functions (SQL:2008 null treatment) ---------
# Native in BOTH engines, different spellings: Spark takes the standard
# postfix `fn(x) IGNORE NULLS OVER ...`, DuckDB the in-parens
# `fn(x IGNORE NULLS)`. Semantics under test are identical: gap-fill /
# last-observation-carried-forward over a sparse column.
_IGNORE_NULLS_SPARK = """
    SELECT l_orderkey, l_linenumber,
           LAST_VALUE(CASE WHEN l_quantity > 40 THEN NULL
                           ELSE ROUND(l_extendedprice, 2) END) IGNORE NULLS
               OVER (PARTITION BY l_returnflag
                     ORDER BY l_orderkey, l_linenumber,
                              l_quantity, l_extendedprice) AS locf_price,
           LAG(CASE WHEN l_quantity > 40 THEN NULL
                    ELSE ROUND(l_extendedprice, 2) END, 1) IGNORE NULLS
               OVER (PARTITION BY l_returnflag
                     ORDER BY l_orderkey, l_linenumber,
                              l_quantity, l_extendedprice) AS prev_observed
    FROM lineitem
    WHERE l_orderkey < 400
    ORDER BY l_orderkey, l_linenumber
"""

_IGNORE_NULLS_ORACLE = """
    SELECT l_orderkey, l_linenumber,
           LAST_VALUE(CASE WHEN l_quantity > 40 THEN NULL
                           ELSE ROUND(l_extendedprice, 2) END IGNORE NULLS)
               OVER (PARTITION BY l_returnflag
                     ORDER BY l_orderkey, l_linenumber,
                              l_quantity, l_extendedprice) AS locf_price,
           LAG(CASE WHEN l_quantity > 40 THEN NULL
                    ELSE ROUND(l_extendedprice, 2) END, 1 IGNORE NULLS)
               OVER (PARTITION BY l_returnflag
                     ORDER BY l_orderkey, l_linenumber,
                              l_quantity, l_extendedprice) AS prev_observed
    FROM lineitem
    WHERE l_orderkey < 400
    ORDER BY l_orderkey, l_linenumber
"""


@register(
    "window_ignore_nulls",
    oracle=_IGNORE_NULLS_ORACLE,
    tags=("window", "sql"),
)
def window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS null treatment (SQL:2008 T619; beyond the reference's
    declared-only window surface): LAST_VALUE gives
    last-observation-carried-forward, LAG the previous non-null — the two
    standard gap-fill primitives. One window shuffle total (both functions
    share the spec); null treatment is evaluated inside the frame walk, no
    extra pass."""
    load_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(_IGNORE_NULLS_SPARK)


# -- round 9: EXCLUDE GROUP / EXCLUDE TIES (rest of SQL:2011 exclusion) ------
# RANGE-mode frames only: a RANGE frame containing the current row contains
# ALL its peers (order-distance 0), so the rewrite subtracts the exact peer
# total — one extra window expression over the SAME partition/order
# (RANGE BETWEEN CURRENT ROW AND CURRENT ROW = the peer group), no extra
# shuffle. ORDER BY l_quantity is deliberately non-unique: real peer groups
# are the point. Integer-cents lattice for bit-exact engine agreement.
_FRAME_EXCLUDE_GROUP_SQL = """
    SELECT l_orderkey, l_linenumber,
           CAST(SUM(cents) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                EXCLUDE GROUP) AS BIGINT) AS below_sum,
           CAST(COUNT(*) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                EXCLUDE GROUP) AS BIGINT) AS below_cnt,
           CAST(SUM(cents) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                EXCLUDE TIES) AS BIGINT) AS below_plus_self,
           ROUND(AVG(cents) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                EXCLUDE GROUP) / 100.0, 4) AS others_avg
    FROM (SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem WHERE l_orderkey < 400) t
    ORDER BY l_orderkey, l_linenumber
"""


# EXCLUDE GROUP / EXCLUDE TIES (SQL:2011 frame exclusion, completing
# the vocabulary beyond EXCLUDE CURRENT ROW): running totals of the
# strictly-lower peer groups (GROUP) and the same keeping the row itself
# (TIES), plus leave-my-peers-out partition average. Same text runs
# natively on DuckDB (the oracle); NULL/0 on the first peer group where
# the excluded frame is empty.
register_sql(
    "window_frame_exclude_group",
    _FRAME_EXCLUDE_GROUP_SQL,
    tags=("window", "frame", "sql"),
    engine=True,
)


# -- round 9: FILTER clause over window functions (SQL:2003 T612) ------------
# Spark runs FILTER natively on GROUP BY aggregates but not over windows;
# the engine rewrites fn(x) FILTER (WHERE p) OVER (...) to
# fn(CASE WHEN p THEN x END) OVER (...) — exact for every null-ignoring
# aggregate, same Window operator. DuckDB runs the SAME text natively.
# Integer lattice (cents) + EXCLUDE composition in the last column.
_WINDOW_FILTER_SQL = """
    SELECT l_orderkey, l_linenumber,
           CAST(SUM(cents) FILTER (WHERE l_quantity > 25)
                OVER (PARTITION BY l_returnflag
                      ORDER BY l_orderkey, l_linenumber, cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS heavy_running_cents,
           CAST(COUNT(*) FILTER (WHERE l_quantity <= 25)
                OVER (PARTITION BY l_returnflag
                      ORDER BY l_orderkey, l_linenumber, cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS light_running_cnt,
           CAST(SUM(cents) FILTER (WHERE l_quantity > 25)
                OVER (PARTITION BY l_returnflag ORDER BY l_quantity
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                      EXCLUDE GROUP) AS BIGINT) AS heavy_below_cents
    FROM (SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem WHERE l_orderkey < 400) t
    ORDER BY l_orderkey, l_linenumber
"""


# FILTER over window functions, incl. composed with EXCLUDE GROUP in
# one expression (the FILTER rewrite runs first, then the exclusion
# arithmetic) — conditional running totals without a self-join.
register_sql(
    "window_filter_clause",
    _WINDOW_FILTER_SQL,
    tags=("window", "filter", "sql"),
    engine=True,
)


# -- round 9: DISTINCT window aggregates (engine rewrite; DuckDB native) -----
# Spark raises DISTINCT_WINDOW_FUNCTION_UNSUPPORTED for every distinct
# window aggregate; the engine rewrites them over the per-frame distinct
# set (engine.py::_rewrite_window_distinct — COLLECT_SET drops NULLs and
# dedups, exactly the DISTINCT input set). DuckDB runs the SAME text
# natively — an independent-implementation differential. The framed
# column orders by (l_linenumber, l_suppkey): rows that tie carry the
# same l_suppkey, so the 2-PRECEDING frame's distinct multiset is
# tie-order-invariant. SUM folds an integer quantity lattice in DOUBLE
# (exact < 2^53); AVG divides two exact values once.
_WINDOW_DISTINCT_SQL = """
    SELECT l_orderkey, l_linenumber,
           COUNT(DISTINCT l_suppkey) OVER (PARTITION BY l_orderkey)
               AS n_supp,
           CAST(SUM(DISTINCT CAST(l_quantity AS BIGINT))
                OVER (PARTITION BY l_orderkey) AS DOUBLE) AS qty_sum,
           ROUND(AVG(DISTINCT CAST(l_quantity AS BIGINT))
                 OVER (PARTITION BY l_orderkey), 4) AS qty_avg,
           COUNT(DISTINCT l_suppkey)
               OVER (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_suppkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
               AS n_supp_recent
    FROM lineitem
    WHERE l_orderkey < 300
    ORDER BY l_orderkey, l_linenumber
"""


# COUNT/SUM/AVG(DISTINCT ...) OVER — partition-wide and framed. One
# Window operator computes all four rewritten expressions (same
# partition key): no shuffle beyond the window's own exchange.
register_sql(
    "window_count_distinct",
    _WINDOW_DISTINCT_SQL,
    tags=("window", "distinct", "sql"),
    engine=True,
)


# -- round 9: MEDIAN as a window aggregate (native in BOTH engines) ----------
# Spark's median() is window-legal for partition-only specs (it is a
# TypedImperativeAggregate: no ORDER BY / frame support); DuckDB runs the
# same text natively. Input is the exact integer-cents lattice, so the
# even-count midpoint interpolation (a+b)/2 is the same IEEE double on
# both sides.
_WINDOW_MEDIAN_SQL = """
    SELECT l_orderkey, l_linenumber,
           CAST(MEDIAN(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                OVER (PARTITION BY l_orderkey) AS DOUBLE) AS median_cents
    FROM lineitem
    WHERE l_orderkey < 300
    ORDER BY l_orderkey, l_linenumber
"""


# Exact per-partition MEDIAN as a window aggregate — same text on
# both engines (independent implementations of the partition-only
# window median).
register_sql(
    "window_median_partition",
    _WINDOW_MEDIAN_SQL,
    tags=("window", "median", "sql"),
)


# -- round 11: EXCLUDE GROUP / TIES under ROWS-mode frames -------------------
# (engine.py::_rows_group_exclusion_expr; completes the SQL:2011 exclusion
# vocabulary the reference declares at window_expression.hpp:11-30). The
# peer group can be PARTIALLY inside a ROWS frame, so the rewrite assembles
# peers-in-frame from constant-offset prefix windows (see the engine
# docstring). Determinism under ties: the ORDER BY key (l_quantity) is
# non-unique — real peer groups — and the aggregated value is a FUNCTION
# of that key (qval = quantity*100+7), so the value sequence BY POSITION is
# engine-independent. A row's result still depends on its position WITHIN
# its peer group (a ROWS frame straddles group boundaries), and engines
# assign tied rows to positions differently — so the output carries NO
# row-identity columns: per (returnflag, quantity) the MULTISET of window
# results is deterministic, and the driver's sorted-hash compares exactly
# that. DuckDB runs the same text natively.
_FRAME_EXCLUDE_ROWS_GROUP_SQL = """
    SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
           CAST(SUM(qval) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING
                EXCLUDE GROUP) AS BIGINT) AS grp_sum,
           CAST(COUNT(*) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING
                EXCLUDE GROUP) AS BIGINT) AS grp_cnt,
           CAST(SUM(qval) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING
                EXCLUDE TIES) AS BIGINT) AS ties_sum,
           ROUND(AVG(qval) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 FOLLOWING
                EXCLUDE GROUP), 4) AS grp_avg
    FROM (SELECT l_returnflag, l_quantity,
                 CAST(l_quantity * 100 + 7 AS BIGINT) AS qval
          FROM lineitem WHERE l_orderkey < 400) t
    ORDER BY l_returnflag, qty
"""


# EXCLUDE GROUP / TIES under ROWS frames (VERDICT r10 task 4): the
# last declared-but-unsupported corner of the reference's frame grammar.
# Exact position arithmetic over prefix windows — every added window
# shares the partition/order, so Spark still plans ONE Window operator
# (pinned in test_plan_quality.py).
register_sql(
    "window_frame_exclude_rows_group",
    _FRAME_EXCLUDE_ROWS_GROUP_SQL,
    tags=("window", "frame", "sql"),
    engine=True,
)


# -- round 12: MIN/MAX under frame exclusion (VERDICT r11 #2) ----------------
# (engine.py::_minmax_exclusion_expr). MIN/MAX are not subtraction-
# invertible, so the engine SEGMENTS instead of subtracting: constant-offset
# ROWS segments for EXCLUDE CURRENT ROW, per-value multiset counts over the
# frame for RANGE-mode GROUP/TIES, position slices of a struct-wrapped frame
# list for ROWS-mode GROUP/TIES. Determinism under ties: qval is a FUNCTION
# of the ORDER key, so each window result is a pure function of the row's
# position and the output multiset per (returnflag, qty) is engine-
# independent (same argument as window_frame_exclude_rows_group). DuckDB
# runs the same text natively.
_FRAME_EXCLUDE_MINMAX_SQL = """
    SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
           CAST(MIN(qval) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING
                EXCLUDE CURRENT ROW) AS BIGINT) AS cur_min,
           CAST(MIN(qval) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 FOLLOWING
                EXCLUDE CURRENT ROW) AS BIGINT) AS cur_min_unb,
           CAST(MAX(qval) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING
                EXCLUDE GROUP) AS BIGINT) AS grp_max,
           CAST(MIN(qval) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
                EXCLUDE TIES) AS BIGINT) AS ties_min,
           CAST(MAX(qval) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                EXCLUDE GROUP) AS BIGINT) AS rng_max,
           CAST(MIN(qval) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                EXCLUDE TIES) AS BIGINT) AS rngties_min,
           CAST(COUNT(DISTINCT qval) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
                EXCLUDE CURRENT ROW) AS BIGINT) AS cdq_cur,
           CAST(COUNT(DISTINCT qval) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING
                EXCLUDE GROUP) AS BIGINT) AS cdq_grp
    FROM (SELECT l_returnflag, l_quantity,
                 CAST(l_quantity * 100 + 7 AS BIGINT) AS qval
          FROM lineitem WHERE l_orderkey < 400) t
    ORDER BY l_returnflag, qty
"""


# MIN/MAX with EXCLUDE CURRENT ROW / GROUP / TIES under both ROWS and
# RANGE frames — the round-11 rewriter rejected MIN/MAX outright; the
# reference declares the full SQL:2011 vocabulary for every window
# function (window_expression.hpp:11-30).
register_sql(
    "window_frame_exclude_minmax",
    _FRAME_EXCLUDE_MINMAX_SQL,
    tags=("window", "frame", "sql"),
    engine=True,
)


# -- round 12: DISTINCT window aggregates composed with EXCLUDE --------------
# (engine.py::_distinct_exclusion_expr; VERDICT r11 #6). pk = l_partkey % 7
# is deliberately INDEPENDENT of the sort key with a tiny domain, so the
# same value recurs both inside and outside peer groups — the case where a
# set-level ARRAY_EXCEPT(frame_set, peer_set) would be WRONG and the
# per-value multiset count comparison is required. RANGE-mode frames ONLY
# here, deliberately: every result is then a pure function of the row's
# (partition, ORDER value, pk) — frames and peer groups are SETS defined
# by the order value, never by tie-order positions — so the output
# multiset is engine-independent even though pk is not a function of the
# sort key. (A position-dependent ROWS variant CANNOT share rows with
# these pk-dependent columns: the joint tuple would couple tie-position
# with row identity, which engines assign differently — that variant
# lives in window_frame_exclude_minmax, where every column is a position
# function.) DuckDB runs the same text natively.
_DISTINCT_EXCLUDE_SQL = """
    SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
           CAST(COUNT(DISTINCT pk) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                EXCLUDE GROUP) AS BIGINT) AS cd_grp,
           CAST(COUNT(DISTINCT pk) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                EXCLUDE CURRENT ROW) AS BIGINT) AS cd_cur_rng,
           CAST(SUM(DISTINCT pk) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                EXCLUDE TIES) AS BIGINT) AS sd_ties,
           CAST(MIN(DISTINCT pk) OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                EXCLUDE GROUP) AS BIGINT) AS md_grp
    FROM (SELECT l_returnflag, l_quantity,
                 CAST(l_partkey % 7 AS BIGINT) AS pk
          FROM lineitem WHERE l_orderkey < 400) t
    ORDER BY l_returnflag, qty
"""


# DISTINCT window aggregates composed with SQL:2011 frame exclusion
# (COUNT/SUM/MIN DISTINCT x EXCLUDE CURRENT ROW/GROUP/TIES) — the
# round-11 exclusion rewriter raised ValueError on DISTINCT args.
register_sql(
    "window_count_distinct_exclude",
    _DISTINCT_EXCLUDE_SQL,
    tags=("window", "frame", "distinct", "sql"),
    engine=True,
)
