"""Relational operator coverage — SURVEY.md §2.2–§2.8 surface, one query per
operator/semantic.

Most queries are ONE SQL text, registered with `register_sql`: DuckDB runs
it as the oracle and Spark runs it through `spark.sql`, so Catalyst's own
planning of each operator (null-aware anti joins, decorrelated subqueries,
TakeOrderedAndProject for ORDER BY + LIMIT) is what gets checked. Hand
builders remain only where the Spark side must differ from the oracle text:
a DataFrame-API surface under test, an engine dialect Spark SQL lacks
(ASOF, DISTINCT ON, star modifiers), or a measured reason written next to
the builder.

Reference parity map (file:line in /root/reference):
- TableScan predicate variants   src/lib/operators/table_scan.cpp + table_scan/*
- Predicate conditions           src/lib/types.hpp:160-178
- Join modes                     src/lib/types.hpp:210 (Inner..AntiNullAsTrue/False)
- AggregateHash functions        src/lib/expression/window_function_expression.hpp:19-33
- Sort modes                     src/lib/types.hpp:219 (Asc/Desc x NullsFirst/Last)
- Set operations                 src/lib/operators/union_all.hpp, difference.hpp,
                                 logical_query_plan/intersect_node.hpp / except_node.hpp
- Expression vocabulary          src/lib/expression/* (CASE, CAST, EXTRACT,
                                 SUBSTR/CONCAT/ABS, arithmetic, unary minus)
- Subqueries                     in_expression.hpp / exists_expression.hpp /
                                 correlated_parameter_expression.hpp

The synthetic tables have no NULLs, so null-semantics queries derive them
with NULLIF — identically on both sides — to pin 3-valued logic, null-aware
anti joins (NOT IN), and NULLS FIRST/LAST ordering.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hyrise_spark.catalog import load_tables
from hyrise_spark.registry import register, register_sql


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    tabs = load_tables(spark, sf_dir, names)
    return [tabs[n] for n in names]


# ---------------------------------------------------------------------------
# §2.2 TableScan predicate variants (one query sweeping all of types.hpp:160-178)
register_sql(
    "scan_predicates",
    """
    SELECT o_orderkey, o_orderstatus, o_orderpriority
    FROM orders
    WHERE o_totalprice BETWEEN 10000 AND 20000          -- BetweenInclusive
      AND o_orderstatus <> 'P'                          -- NotEquals
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')     -- In
      AND o_orderkey % 2 = 0                            -- Modulo + Equals
      AND o_custkey >= 10 AND o_custkey < 1000          -- GreaterThanEquals/LessThan
    """,
    tags=("scan",),
)


# LIKE / NOT LIKE with %/_ wildcards (like_matcher.cpp; LIKE->regex compile)
register_sql(
    "scan_like",
    """
    SELECT p_partkey, p_name FROM part
    WHERE p_name LIKE '%ge_r%' OR (p_name LIKE 'r%' AND p_name NOT LIKE '%bolt')
    """,
    tags=("scan", "like"),
)


# Case-insensitive LIKE (reference LikeCaseInsensitive, types.hpp:172)
register_sql(
    "scan_ilike",
    """
    SELECT p_partkey, p_name FROM part WHERE p_name ILIKE '%GIZMO%'
    """,
    tags=("scan", "like"),
)


# IS NULL / IS NOT NULL (column_is_null_table_scan_impl.cpp) on derived NULLs
register_sql(
    "scan_is_null",
    """
    SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
    FROM customer
    WHERE NULLIF(c_mktsegment, 'BUILDING') IS NULL
       OR (NULLIF(c_mktsegment, 'BUILDING') IS NOT NULL AND c_custkey < 50)
    """,
    tags=("scan", "null"),
)


# ---------------------------------------------------------------------------
# §2.2 Projection / expression vocabulary
@register(
    "projection_expressions",
    oracle="""
    SELECT o_orderkey,
           o_totalprice * 1.1 + 5 - 2            AS arith,
           CAST(TRUNC(o_totalprice) AS BIGINT)   AS price_long,  -- hyrise/C++ cast truncates; DuckDB rounds
           -o_orderkey                           AS neg_key,
           ABS(-o_totalprice)                    AS abs_price,
           SUBSTR(o_orderpriority, 1, 3)         AS prio3,
           CONCAT(o_orderstatus, '-', o_orderpriority) AS status_prio,
           CASE WHEN o_totalprice > 100000 THEN 'big'
                WHEN o_totalprice > 10000 THEN 'mid'
                ELSE 'small' END                 AS bucket,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT)  AS y,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS m,
           CAST(EXTRACT(DAY FROM o_orderdate) AS INT)   AS d
    FROM orders
    WHERE o_orderkey < 100
    """,
    tags=("projection", "expressions"),
)
def projection_expressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") < 100).select(
        "o_orderkey",
        (F.col("o_totalprice") * 1.1 + 5 - 2).alias("arith"),
        F.col("o_totalprice").cast("long").alias("price_long"),
        (-F.col("o_orderkey")).alias("neg_key"),
        F.abs(-F.col("o_totalprice")).alias("abs_price"),
        F.substring("o_orderpriority", 1, 3).alias("prio3"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.when(F.col("o_totalprice") > 100000, "big")
        .when(F.col("o_totalprice") > 10000, "mid")
        .otherwise("small")
        .alias("bucket"),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
    )


# Integer division truncation (hyrise C++ int /; DuckDB // ; Spark div)
@register(
    "projection_int_division",
    oracle="""
    SELECT o_orderkey, o_orderkey // 7 AS div7, o_orderkey % 7 AS mod7,
           o_orderkey / 8.0 AS fdiv
    FROM orders WHERE o_orderkey < 200
    """,
    tags=("projection", "arithmetic"),
)
def projection_int_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") < 200).select(
        "o_orderkey",
        F.expr("o_orderkey div 7").alias("div7"),
        (F.col("o_orderkey") % 7).alias("mod7"),
        (F.col("o_orderkey") / 8.0).alias("fdiv"),
    )


# AliasOperator: reorder + rename output columns (alias_operator.hpp:16)
register_sql(
    "alias_reorder",
    """
    SELECT r_name AS region_name, r_regionkey AS region_id FROM region
    """,
    tags=("projection",),
)


# ---------------------------------------------------------------------------
# §2.3 Join modes (types.hpp:210)
# Multi-predicate join (multi_predicate_join_evaluator.cpp): the equi
# conjunct gives a hash join; the inequality stays a post-join condition.
register_sql(
    "join_inner_multi_predicate",
    """
    SELECT o_orderkey, l_linenumber, l_quantity
    FROM orders JOIN lineitem
      ON o_orderkey = l_orderkey AND l_shipdate > o_orderdate   -- secondary predicate
    WHERE o_orderkey < 500
    """,
    tags=("join",),
)


register_sql(
    "join_left_outer",
    """
    SELECT c_custkey, o_orderkey
    FROM customer LEFT OUTER JOIN orders
      ON c_custkey = o_custkey AND o_totalprice > 400000
    WHERE c_custkey < 200
    """,
    tags=("join", "outer"),
)


register_sql(
    "join_right_outer",
    """
    SELECT o_orderkey, c_custkey
    FROM orders RIGHT OUTER JOIN customer ON o_custkey = c_custkey AND o_totalprice > 400000
    WHERE c_custkey < 200
    """,
    tags=("join", "outer"),
)


register_sql(
    "join_full_outer",
    """
    WITH a AS (SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey % 2 = 0),
         b AS (SELECT s_suppkey AS k2, s_acctbal FROM supplier WHERE s_suppkey % 3 = 0)
    SELECT s_suppkey, s_name, k2, ROUND(s_acctbal, 2) AS s_acctbal
    FROM a FULL OUTER JOIN b ON s_suppkey = k2
    """,
    tags=("join", "outer"),
)


# Product operator (product.hpp:20) == CROSS JOIN.
register_sql(
    "join_cross",
    """
    SELECT r_name, n_name FROM region CROSS JOIN nation WHERE n_nationkey < 5
    """,
    tags=("join", "cross"),
)


register_sql(
    "join_semi",
    """
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem WHERE l_quantity > 49)
    """,
    tags=("join", "semi"),
)


# AntiNullAsFalse == NOT EXISTS (types.hpp:210-214)
register_sql(
    "join_anti_null_as_false",
    """
    SELECT p_partkey, p_name FROM part
    WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_discount > 0.09)
    """,
    tags=("join", "anti"),
)


# AntiNullAsTrue == NOT IN with NULLs in the subquery: any NULL on the right
# empties the result. Pinned with a derived NULL on both sides. Catalyst
# plans NOT IN as a null-aware anti join (BroadcastNestedLoop otherwise).
register_sql(
    "join_anti_null_as_true",
    """
    SELECT c_custkey FROM customer
    WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 7) FROM orders WHERE o_totalprice > 490000)
    """,
    tags=("join", "anti", "null"),
)


# Theta join (JoinSortMerge supports < <= > >= <>, join_sort_merge.cpp:43-47)
register_sql(
    "join_theta_range",
    """
    SELECT n_nationkey, r_regionkey FROM nation JOIN region ON n_regionkey < r_regionkey
    """,
    tags=("join", "theta"),
)


register_sql(
    "join_not_equal",
    """
    SELECT r1.r_regionkey AS a, r2.r_regionkey AS b
    FROM region r1 JOIN region r2 ON r1.r_regionkey <> r2.r_regionkey
    """,
    tags=("join", "theta"),
)


# Column-vs-column scan (column_vs_column_table_scan_impl.cpp)
register_sql(
    "scan_column_vs_column",
    """
    SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_discount > l_tax
    """,
    tags=("scan",),
)


# ---------------------------------------------------------------------------
# §2.4 Aggregates: all functions incl. COUNT(DISTINCT), STDDEV_SAMP, COUNT(*)
register_sql(
    "aggregate_functions",
    """
    SELECT l_returnflag,
           ROUND(MIN(l_extendedprice), 2)        AS min_price,
           ROUND(MAX(l_extendedprice), 2)        AS max_price,
           ROUND(SUM(l_quantity), 2)             AS sum_qty,
           ROUND(SUM(l_quantity), 2) / COUNT(l_quantity) AS avg_qty,
           COUNT(*)                              AS cnt_all,
           COUNT(l_quantity)                     AS cnt_qty,
           COUNT(DISTINCT l_suppkey)             AS distinct_supp,
           ROUND(STDDEV_SAMP(l_quantity), 4)     AS sd_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("aggregate",),
)


# COUNT/aggregate over NULLs (COUNT(col) skips NULLs; SUM all-null -> NULL)
register_sql(
    "aggregate_nulls",
    """
    SELECT o_orderstatus,
           COUNT(NULLIF(o_orderpriority, '1-URGENT'))            AS cnt_non_urgent,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN NULL ELSE 1 END) AS BIGINT)
             AS sum_flag
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("aggregate", "null"),
)


# Multiple COUNT(DISTINCT) in one GROUP BY (expand-based in Spark; SURVEY §7 risk 4)
register_sql(
    "aggregate_multi_distinct",
    """
    SELECT l_linestatus,
           COUNT(DISTINCT l_suppkey) AS d_supp,
           COUNT(DISTINCT l_partkey) AS d_part,
           COUNT(DISTINCT l_orderkey) AS d_ord
    FROM lineitem GROUP BY l_linestatus
    """,
    tags=("aggregate", "count-distinct"),
)


# DISTINCT == group-by-all-columns (sql_translator.cpp:436-439)
register_sql(
    "distinct_rows",
    """
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
    tags=("aggregate", "distinct"),
)


# HAVING (predicate on aggregate output, sql_translator.cpp:1323-1354)
register_sql(
    "aggregate_having",
    """
    SELECT o_custkey, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY o_custkey
    HAVING COUNT(*) > 15 AND SUM(o_totalprice) > 1000000
    """,
    tags=("aggregate", "having"),
)


# Ungrouped aggregate over empty input (returns one row of NULLs/0)
register_sql(
    "aggregate_empty_input",
    """
    SELECT CAST(SUM(o_totalprice) AS DOUBLE) AS s, COUNT(*) AS c, MAX(o_orderdate) AS m
    FROM orders WHERE o_orderkey < 0
    """,
    tags=("aggregate", "edge"),
)


# ---------------------------------------------------------------------------
# §2.6 Sort modes (types.hpp:219) + Limit. Order-sensitive results are pinned
# by projecting a rank derived from the exact sort instead of relying on row
# order (the driver's hash is order-insensitive).
# Only the top 50 in the sort order survive, so instead of a global
# ROW_NUMBER window (a single-task sort of ALL customers at scale) the text
# takes ORDER BY ... LIMIT 50 — TakeOrderedAndProject, which merges
# per-partition top-50s — and numbers the rows over the 50-row result.
register_sql(
    "sort_nulls_first_last",
    """
    SELECT c_custkey, seg,
           ROW_NUMBER() OVER (ORDER BY seg ASC NULLS FIRST,
                              c_acctbal DESC NULLS LAST, c_custkey) AS rn
    FROM (
      SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg, c_acctbal
      FROM customer
      ORDER BY seg ASC NULLS FIRST, c_acctbal DESC NULLS LAST, c_custkey
      LIMIT 50
    )
    """,
    tags=("sort", "null"),
)


# Sort -> Limit fuses to TakeOrderedAndProject in Spark (SURVEY §2.6).
register_sql(
    "sort_limit_topk",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
    tags=("sort", "limit"),
)


# ---------------------------------------------------------------------------
# §2.7 Set operations
register_sql(
    "setop_union_all",
    """
    SELECT c_nationkey AS k FROM customer WHERE c_custkey < 100
    UNION ALL
    SELECT s_nationkey AS k FROM supplier
    """,
    tags=("setop",),
)


register_sql(
    "setop_union_distinct",
    """
    SELECT c_nationkey AS k FROM customer WHERE c_custkey < 100
    UNION
    SELECT s_nationkey AS k FROM supplier
    """,
    tags=("setop",),
)


register_sql(
    "setop_intersect",
    """
    SELECT c_nationkey AS k FROM customer
    INTERSECT
    SELECT s_nationkey AS k FROM supplier
    """,
    tags=("setop",),
)


register_sql(
    "setop_except",
    """
    SELECT c_custkey AS k FROM customer WHERE c_custkey < 100
    EXCEPT
    SELECT o_custkey AS k FROM orders WHERE o_totalprice > 420000
    """,
    tags=("setop",),
)


register_sql(
    "setop_intersect_all",
    """
    SELECT o_custkey AS k FROM orders WHERE o_orderkey < 300
    INTERSECT ALL
    SELECT o_custkey AS k FROM orders WHERE o_orderkey >= 200 AND o_orderkey < 500
    """,
    tags=("setop",),
)


register_sql(
    "setop_except_all",
    """
    SELECT o_custkey AS k FROM orders WHERE o_orderkey < 300
    EXCEPT ALL
    SELECT o_custkey AS k FROM orders WHERE o_orderkey >= 200 AND o_orderkey < 500
    """,
    tags=("setop",),
)


# ---------------------------------------------------------------------------
# Subqueries (in/exists/correlated/scalar — expression/*.hpp)
register_sql(
    "subquery_scalar_uncorrelated",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE o_totalprice > 1.8 * (SELECT AVG(o_totalprice) FROM orders)
    """,
    tags=("subquery",),
)


register_sql(
    "subquery_correlated_scalar",
    """
    SELECT o_orderkey FROM orders o
    WHERE o_totalprice > (SELECT 2 * AVG(o2.o_totalprice) FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
    """,
    tags=("subquery", "correlated"),
)


# CTE / WITH (sql_translator.cpp:502-516)
register_sql(
    "cte_with",
    """
    WITH big_orders AS (
      SELECT o_custkey, COUNT(*) AS n FROM orders WHERE o_totalprice > 300000 GROUP BY o_custkey
    )
    SELECT c_mktsegment, CAST(SUM(n) AS BIGINT) AS big_order_cnt
    FROM customer JOIN big_orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
    tags=("cte",),
)


# IN-list rewrite target (in_expression_rewrite_rule.cpp — large IN lists)
register_sql(
    "scan_large_in_list",
    f"""
    SELECT p_partkey FROM part WHERE p_size IN ({",".join(str(x) for x in range(1, 40, 2))})
    """,
    tags=("scan", "in"),
)


# Recursive CTEs (round 4) — a surface the reference cannot run at all (its
# sql_translator has no recursion support) but Spark 4 executes natively.
# The Spark side is the SAME SQL executed by spark.sql over temp views: a
# recursive plan is genuinely iterative, so SQL is the idiomatic Spark form
# (there is no DataFrame combinator for it).
_RECURSIVE_MONTHS_SQL = """
    WITH RECURSIVE months(m) AS (
      SELECT TIMESTAMP '1997-01-01'
      UNION ALL
      SELECT m + INTERVAL 1 MONTH FROM months WHERE m < TIMESTAMP '1997-12-01'
    )
    SELECT CAST(m AS DATE) AS month_start, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
    FROM months LEFT JOIN orders
      ON o_orderdate >= m AND o_orderdate < m + INTERVAL 1 MONTH
    GROUP BY m ORDER BY month_start
"""


# Gap-filling month dimension: recursion generates the 12 month starts
# of 1997, LEFT JOIN keeps zero-order months (plain GROUP BY cannot).
#
# Scale: the recursive branch generates 12 driver-light rows; only the
# probe side (orders, filtered by the join range) is distributed.
register_sql(
    "cte_recursive_month_series",
    _RECURSIVE_MONTHS_SQL,
    tags=("cte", "recursive"),
)


_RECURSIVE_CHAIN_SQL = """
    WITH RECURSIVE chain(nk, steps, acct) AS (
      SELECT n_nationkey, 0, CAST(0.0 AS DOUBLE)
      FROM nation WHERE n_nationkey = 0
      UNION ALL
      SELECT n.n_nationkey, c.steps + 1,
             CAST(c.acct + agg.total AS DOUBLE)
      FROM chain c
      JOIN nation n ON n.n_nationkey = c.nk + 1
      JOIN (SELECT c_nationkey, ROUND(SUM(c_acctbal), 2) AS total
            FROM customer GROUP BY c_nationkey) agg
        ON agg.c_nationkey = n.n_nationkey
      WHERE c.steps < 8
    )
    SELECT CAST(nk AS INTEGER) AS nk, CAST(steps AS INTEGER) AS steps,
           ROUND(acct, 2) AS running_acct
    FROM chain ORDER BY nk
"""


@register(
    "cte_recursive_nation_chain",
    oracle=_RECURSIVE_CHAIN_SQL,
    tags=("cte", "recursive"),
)
def cte_recursive_nation_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative traversal: walk the first 9 nation keys as a chain,
    accumulating each nation's customer balance — the transitive-closure
    shape (per-step JOIN against the frontier) that windows cannot express
    when the edge relation is data-dependent.

    The per-nation balance aggregate sits INSIDE the recursive term in the
    declarative form, so Spark's recursive execution would re-aggregate all
    of customer on every iteration (9x). It is loop-invariant: compute it
    once, localCheckpoint the 25-row result, and let each iteration join
    the materialized frontier — at 100 TB the difference between one
    customer pass and nine. The DuckDB oracle keeps the single-statement
    declarative form (its optimizer evaluates the subquery once). Spark
    runs that text too (native WITH RECURSIVE), re-aggregating per step:
    1.20x this builder in an interleaved A/B at sf0.1 (3.07 vs 2.56 s).
    """
    import pyspark.sql.functions as F

    nation, cust = _t(spark, sf_dir, "nation", "customer")
    nation.createOrReplaceTempView("nation")
    agg = cust.groupBy("c_nationkey").agg(
        F.round(F.sum("c_acctbal"), 2).alias("total")
    )
    agg.localCheckpoint(eager=True).createOrReplaceTempView("nation_acct_totals")
    return spark.sql("""
        WITH RECURSIVE chain(nk, steps, acct) AS (
          SELECT n_nationkey, 0, CAST(0.0 AS DOUBLE)
          FROM nation WHERE n_nationkey = 0
          UNION ALL
          SELECT n.n_nationkey, c.steps + 1,
                 CAST(c.acct + agg.total AS DOUBLE)
          FROM chain c
          JOIN nation n ON n.n_nationkey = c.nk + 1
          JOIN nation_acct_totals agg ON agg.c_nationkey = n.n_nationkey
          WHERE c.steps < 8
        )
        SELECT CAST(nk AS INTEGER) AS nk, CAST(steps AS INTEGER) AS steps,
               ROUND(acct, 2) AS running_acct
        FROM chain ORDER BY nk
    """)


# LATERAL joins (round 4) — correlated derived tables, another surface with
# no counterpart in the reference's translator. Same SQL on both engines.
_LATERAL_TOPK_SQL = """
    SELECT n_name, t.c_name, t.c_acctbal
    FROM nation, LATERAL (
      SELECT c_name, c_acctbal FROM customer
      WHERE c_nationkey = n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 2
    ) t
    ORDER BY n_name, t.c_acctbal DESC, t.c_name
"""


# Top-2 customers per nation via a correlated LATERAL subquery — the
# SQL-standard form of greatest-per-group (Catalyst decorrelates it to the
# same window/top-k plan the DataFrame form produces).
register_sql(
    "lateral_topk_per_group",
    _LATERAL_TOPK_SQL,
    tags=("lateral", "topk"),
)


_LATERAL_AGG_SQL = """
    SELECT p_name, s.n_ship, s.last_ship
    FROM part, LATERAL (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_ship, MAX(l_shipdate) AS last_ship
      FROM lineitem WHERE l_partkey = p_partkey
    ) s
    WHERE p_size = 1
    ORDER BY p_name, s.n_ship
"""


# Per-part shipment stats through a correlated LATERAL aggregate
# (decorrelates to an outer join against a pre-aggregation — the
# SubqueryToJoinRule shape at LATERAL syntax level).
register_sql(
    "lateral_correlated_agg",
    _LATERAL_AGG_SQL,
    tags=("lateral", "aggregate"),
)


# -- ASOF JOIN SQL dialect (DuckDB/QuestDB syntax; beyond the reference's
# join vocabulary, types.hpp:210). The engine rewrites ASOF [LEFT] JOIN onto
# join+per-left-row window (engine.py::_asof_join_sql); the oracle is
# DuckDB's NATIVE ASOF JOIN — an independent implementation of the same
# semantics. The right side is pre-deduped to one row per (key, time) so
# the asof pick is tie-free on both engines (hash-stable).
def _asof_views(spark: SparkSession, sf_dir: str) -> None:
    events, orders = _t(spark, sf_dir, "events", "orders")
    events.filter(F.col("event_id") < 500).select(
        "event_id", "user_id", (F.col("user_id") % 100).alias("join_key"), "ts"
    ).createOrReplaceTempView("asof_ev")
    (
        orders.groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("okey"),
            F.round(F.max("o_totalprice"), 2).alias("price"),
        )
        .createOrReplaceTempView("asof_od")
    )


_ASOF_ORACLE_CTE = """
    WITH ev AS (
      SELECT event_id, user_id, user_id % 100 AS join_key, ts
      FROM events WHERE event_id < 500
    ), od AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS okey,
             ROUND(MAX(o_totalprice), 2) AS price
      FROM orders GROUP BY o_custkey, o_orderdate
    )
"""


@register(
    "join_asof_sql",
    oracle=_ASOF_ORACLE_CTE + """
    SELECT e.event_id, e.user_id, o.okey AS last_order, o.price AS last_price
    FROM ev e ASOF JOIN od o
      ON e.join_key = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    tags=("join", "asof", "sql"),
)
def join_asof_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hyrise_spark.engine import Engine

    _asof_views(spark, sf_dir)
    return Engine(spark).execute(
        "SELECT e.event_id, e.user_id, o.okey AS last_order, o.price AS last_price"
        " FROM asof_ev e ASOF JOIN asof_od o"
        " ON e.join_key = o.o_custkey AND e.ts >= o.o_orderdate"
    )


@register(
    "join_asof_sql_left",
    oracle=_ASOF_ORACLE_CTE + """
    SELECT e.event_id, e.user_id, o.o_orderdate AS matched_ts
    FROM ev e ASOF LEFT JOIN od o
      ON e.join_key = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    tags=("join", "asof", "sql"),
)
def join_asof_sql_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hyrise_spark.engine import Engine

    _asof_views(spark, sf_dir)
    return Engine(spark).execute(
        "SELECT e.event_id, e.user_id, o.o_orderdate AS matched_ts"
        " FROM asof_ev e ASOF LEFT JOIN asof_od o"
        " ON e.join_key = o.o_custkey AND e.ts >= o.o_orderdate"
    )


@register(
    "join_asof_sql_where",
    oracle=_ASOF_ORACLE_CTE + """
    SELECT e.event_id, e.user_id, o.okey AS last_order
    FROM ev e ASOF JOIN od o
      ON e.join_key = o.o_custkey AND e.ts >= o.o_orderdate
    WHERE o.price > 200.0
    """,
    tags=("join", "asof", "sql"),
)
def join_asof_sql_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-match WHERE: filters the MATCHED row (never re-routes the match
    to an earlier right row) — both engines apply it after the asof pick."""
    from hyrise_spark.engine import Engine

    _asof_views(spark, sf_dir)
    return Engine(spark).execute(
        "SELECT e.event_id, e.user_id, o.okey AS last_order"
        " FROM asof_ev e ASOF JOIN asof_od o"
        " ON e.join_key = o.o_custkey AND e.ts >= o.o_orderdate"
        " WHERE o.price > 200.0"
    )


_GBA_SQL = """
    SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem GROUP BY ALL ORDER BY ALL
"""


# GROUP BY ALL / ORDER BY ALL (DuckDB-origin dialect, native in both
# Spark 4 and DuckDB): the IDENTICAL text runs on both engines — two
# independent implementations of the clause inference.
register_sql(
    "agg_group_by_all",
    _GBA_SQL,
    tags=("aggregate", "sql"),
)


# -- round 9: dialect wave 3 (DISTINCT ON, star modifiers) -------------------
# Engine SQL rewrites (engine.py::_distinct_on_sql / _star_modifiers_sql);
# DuckDB runs the SAME text natively — independent-implementation
# differentials of the postgres/DuckDB dialect semantics.
_DISTINCT_ON_SQL = """
    SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate,
           ROUND(o_totalprice, 2) AS price
    FROM orders
    WHERE o_custkey < 500
    ORDER BY o_custkey, o_orderdate DESC, o_orderkey
"""


# DISTINCT ON (postgres/DuckDB dialect; the reference's DISTINCT is
# group-by-all-columns only, sql_translator.cpp:436): latest order per
# customer. The engine rewrites to ROW_NUMBER()=1, which Spark executes
# as two-stage WindowGroupLimit (partial top-1 per key below the
# exchange) — ~1 row/key/partition crosses the shuffle at any scale.
register_sql(
    "distinct_on_latest",
    _DISTINCT_ON_SQL,
    tags=("distinct", "dialect", "sql"),
    engine=True,
)


_CORR_PROJ_SQL = """
    SELECT n_name,
           (SELECT MAX(p_retailprice) + nation.n_nationkey FROM part)
               AS shifted_max,
           (SELECT CAST(COUNT(*) AS BIGINT) - nation.n_regionkey FROM region)
               AS reg_delta
    FROM nation
    ORDER BY n_name
"""


# Outer column inside a scalar subquery's SELECT list (reference
# corpus sqlite_testrunner_queries.sql:385-386; executed through the
# reference's correlated-parameter path, sql_translator.cpp /
# correlated_parameter_expression.hpp). Spark allows correlation only in
# predicates, so the engine hoists the additive outer terms out of the
# subquery (constant per outer row; the aggregate guarantees one row):
# `(SELECT agg ± outer FROM s)` → `((SELECT agg FROM s) ± outer)`. The
# hoisted form is a plain uncorrelated scalar subquery — Catalyst plans
# it ONCE as a broadcast scalar, not per-outer-row, which is also the
# 100 TB shape (the reference re-executes the subplan per parameter
# binding). DuckDB runs the same text natively.
register_sql(
    "subquery_correlated_projection",
    _CORR_PROJ_SQL,
    tags=("subquery", "dialect", "sql"),
    engine=True,
)


_CORR_PROJ_WHERE_SQL = """
    SELECT n_name
    FROM nation AS r
    WHERE n_nationkey + 1 > (SELECT MIN(p_size) + r.n_nationkey FROM part)
    ORDER BY n_name
"""


# The WHERE-side shape of the correlated-projection hoist (reference
# corpus sqlite_testrunner_queries.sql:390: the outer ALIAS appears
# inside the comparison subquery's SELECT list). Same rewrite, same
# single-broadcast-scalar plan; DuckDB runs the text natively.
register_sql(
    "subquery_correlated_projection_where",
    _CORR_PROJ_WHERE_SQL,
    tags=("subquery", "dialect", "sql"),
    engine=True,
)


_STAR_MOD_SQL = """
    SELECT * EXCLUDE (o_orderpriority, o_orderstatus)
             REPLACE (ROUND(o_totalprice, 2) AS o_totalprice)
    FROM orders
    WHERE o_orderkey < 2000
    ORDER BY o_orderkey
"""


# `* EXCLUDE (...) REPLACE (...)` (DuckDB star modifiers; the reference
# projects explicit lists only, projection.hpp). The engine expands `*`
# against the analyzed schema (LIMIT 0 — no scan) into an explicit
# projection, so column pruning reaches the parquet scan: EXCLUDE'd
# columns are never read.
register_sql(
    "projection_star_modifiers",
    _STAR_MOD_SQL,
    tags=("projection", "dialect", "sql"),
    engine=True,
)


# -- round 9: string-function vocabulary (beyond the reference's expression
# set — SUBSTR/CONCAT/LIKE are its ceiling, expression/*) -------------------
# SAME text on both engines: two independent implementations of
# levenshtein / split_part / translate / lpad / reverse / repeat / POSITION.
_STRING_FNS_SQL = """
    SELECT doc_id,
           CAST(levenshtein(substr(text, 1, 8), 'the quick') AS BIGINT)
               AS lev,
           split_part(text, ' ', 2) AS second_word,
           translate(lang, 'aeiou', 'AEIOU') AS lang_upper_vowels,
           lpad(CAST(n_chars AS VARCHAR(10)), 8, '0') AS padded,
           reverse(lang) AS rlang,
           repeat(lang, 2) AS lang2,
           CAST(POSITION('the' IN text) AS BIGINT) AS pos_the
    FROM documents
    WHERE doc_id < 200
    ORDER BY doc_id
"""


# String-function vocabulary differential: levenshtein, split_part,
# translate, lpad, reverse, repeat, POSITION — all JVM-side built-ins
# inside one whole-stage-codegen projection (no shuffle, no UDF).
register_sql(
    "projection_string_functions",
    _STRING_FNS_SQL,
    tags=("projection", "functions", "sql"),
)


# -- round 9: table-function + array surface ---------------------------------
_RANGE_TVF_SQL = """
    SELECT CAST(x AS BIGINT) AS x, CAST(x * x AS BIGINT) AS x2,
           CAST(SUM(x) OVER (ORDER BY x) AS BIGINT) AS running
    FROM range(1, 101) t(x)
    ORDER BY x
"""


# range() table-valued function (the reference's closest analog is the
# static/dummy table node, static_table_node.hpp): IDENTICAL text on both
# engines incl. the `t(x)` derived-column alias. Spark plans a Range
# operator — a generated, partitioned source with no scan at all.
register_sql(
    "table_function_range",
    _RANGE_TVF_SQL,
    tags=("source", "tvf", "sql"),
)


_UNNEST_ORACLE = """
    SELECT vec_id, CAST(g.pos AS INT) AS pos,
           ROUND(CAST(embedding[g.pos] AS DOUBLE), 6) AS val
    FROM embeddings,
         LATERAL (SELECT UNNEST(generate_series(1, len(embedding))) AS pos) g
    WHERE vec_id < 40
    ORDER BY vec_id, pos
"""


@register(
    "projection_unnest_embedding",
    oracle=_UNNEST_ORACLE,
    tags=("projection", "array", "multimodal"),
)
def projection_unnest_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array flattening (beyond the reference — no nested types,
    all_type_variant.hpp:34): posexplode the embedding column to
    (vec_id, 1-based position, value) rows. A narrow per-row explode — no
    shuffle; the ORDER BY is presentation only. This is the access path
    every array-typed pipeline op builds on (dim-stats, IVF, PQ)."""
    embeddings = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return (
        embeddings.filter(F.col("vec_id") < 40)
        .select("vec_id", F.posexplode("embedding").alias("p", "v"))
        .select(
            "vec_id",
            (F.col("p") + 1).cast("int").alias("pos"),
            F.round(F.col("v").cast("double"), 6).alias("val"),
        )
        .orderBy("vec_id", "pos")
    )
