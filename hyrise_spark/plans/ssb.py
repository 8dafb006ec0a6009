"""Star Schema Benchmark (SSB) query flights, adapted to the driver schema.

The reference ships the 13 SSB queries as a first-class benchmark suite
(/root/reference/resources/benchmark/ssb/queries/, star_schema_benchmark.cpp:93).
SSB's lineorder fact + date/part/supplier/customer dims map onto the driver
testdata as: fact = lineitem (date = l_shipdate, or o_orderdate via orders),
dims = part / supplier / customer each snowflaked through nation -> region.

Flight shapes preserved:
  Q1.x  date-band + discount/quantity band scan -> single SUM (no dim joins)
  Q2.x  part + supplier-region joins, revenue by (year, brand)
  Q3.x  customer-geo x supplier-geo revenue by (c_nation, s_nation, year)
  Q4.x  "profit" across all dims at decreasing granularity

Each query is ONE SQL text, registered with `register_sql`: DuckDB runs it
as the oracle and Spark runs it through `spark.sql`. Date filters are
half-open ranges on the raw column (`col >= TIMESTAMP 'Y-01-01' AND col <
TIMESTAMP 'Y+1-01-01'`), never EXTRACT(YEAR ...) = Y: the raw-column bounds
reach the parquet scan's PushedFilters, as hyrise's ChunkPruningRule needs
the raw column (src/lib/optimizer/strategy/chunk_pruning_rule.cpp), while a
function-wrapped filter reads the whole fact. EXTRACT stays in the GROUP BY
projections, where it prunes nothing. ssb_q1_1_datesorted
(tpch_datesorted.py) reuses the Q1.1 text as its oracle.

Scale notes (100 TB): flight 1 is pure scan+filter+agg — filters push to
parquet (PushedFilters) and the aggregate is a partial+final single pass.
Flights 2-4 join the fact table only against dimensions whose size is
O(parts + suppliers + customers), each pre-filtered before the join so
Catalyst broadcasts them; the fact table is never shuffled except for the
final small groupBy (AQE coalesces post-shuffle partitions).
"""

from __future__ import annotations

from hyrise_spark.registry import register_sql


# --------------------------------------------------------------------------
# Flight 1 — revenue bands (scan + filter + global SUM; no dimension joins).
register_sql(
    "ssb_q1_1",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.01 AND 0.03
      AND l_quantity < 25
    """,
    tags=("ssb", "scan", "aggregate"),
)


register_sql(
    "ssb_q1_2",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-02-01'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity BETWEEN 26 AND 35
    """,
    tags=("ssb", "scan", "aggregate"),
)


register_sql(
    "ssb_q1_3",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1997-02-01' AND l_shipdate < DATE '1997-02-15'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity BETWEEN 26 AND 35
    """,
    tags=("ssb", "scan", "aggregate"),
)


# --------------------------------------------------------------------------
# Flight 2 — part-category x supplier-region revenue by (year, brand).
_FLIGHT2_SQL = """
    SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS d_year, p_brand,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE {part_pred} AND r_name = '{region}'
    GROUP BY 1, 2
"""


register_sql(
    "ssb_q2_1",
    _FLIGHT2_SQL.format(part_pred="p_type = 'SMALL'", region="ASIA"),
    tags=("ssb", "join", "aggregate"),
)


register_sql(
    "ssb_q2_2",
    _FLIGHT2_SQL.format(
        part_pred="p_brand BETWEEN 'Brand#12' AND 'Brand#18'", region="EUROPE"
    ),
    tags=("ssb", "join", "aggregate"),
)


register_sql(
    "ssb_q2_3",
    _FLIGHT2_SQL.format(part_pred="p_brand = 'Brand#14'", region="AMERICA"),
    tags=("ssb", "join", "aggregate"),
)


# --------------------------------------------------------------------------
# Flight 3 — customer-geo x supplier-geo revenue by (c_nation, s_nation, year).
_FLIGHT3_SQL = """
    SELECT cn.n_name AS c_nation, sn.n_name AS s_nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS d_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region cr ON cn.n_regionkey = cr.r_regionkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    WHERE {c_pred} AND {s_pred}
      AND o_orderdate >= TIMESTAMP '{y_lo}-01-01'
      AND o_orderdate < TIMESTAMP '{y_end}-01-01'
    GROUP BY 1, 2, 3
"""


register_sql(
    "ssb_q3_1",
    _FLIGHT3_SQL.format(
        c_pred="cr.r_name = 'ASIA'", s_pred="sr.r_name = 'ASIA'", y_lo=1996, y_end=2000
    ),
    tags=("ssb", "join", "aggregate"),
)


register_sql(
    "ssb_q3_2",
    _FLIGHT3_SQL.format(
        c_pred="cn.n_name IN ('NATION_3', 'NATION_5')",
        s_pred="sn.n_name IN ('NATION_3', 'NATION_5')",
        y_lo=1996, y_end=2000,
    ),
    tags=("ssb", "join", "aggregate"),
)


register_sql(
    "ssb_q3_3",
    _FLIGHT3_SQL.format(
        c_pred="cn.n_name IN ('NATION_7', 'NATION_14')",
        s_pred="sn.n_name IN ('NATION_7', 'NATION_14')",
        y_lo=1997, y_end=1998,
    ),
    tags=("ssb", "join", "aggregate"),
)


# Narrowest flight-3 cut: one month (SSB Q3.4's d_yearmonth = 'Dec1997').
register_sql(
    "ssb_q3_4",
    """
    SELECT cn.n_name AS c_nation, sn.n_name AS s_nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS d_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE cn.n_name IN ('NATION_7', 'NATION_14')
      AND sn.n_name IN ('NATION_7', 'NATION_14')
      AND o_orderdate >= DATE '1997-12-01' AND o_orderdate < DATE '1998-01-01'
    GROUP BY 1, 2, 3
    """,
    tags=("ssb", "join", "aggregate"),
)


# --------------------------------------------------------------------------
# Flight 4 — "profit" (revenue - quantity*retailprice-scaled cost) across all
# dims. SSB's lo_supplycost is absent; cost := l_quantity * p_retailprice / 10
# keeps the shape (fact measure x part attribute) deterministic in both engines.
_PROFIT_SQL = "SUM(l_extendedprice * (1 - l_discount) - l_quantity * p_retailprice / 10)"


register_sql(
    "ssb_q4_1",
    f"""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS d_year,
           cn.n_name AS c_nation,
           ROUND({_PROFIT_SQL}, 2) AS profit
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN part     ON l_partkey = p_partkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region cr ON cn.n_regionkey = cr.r_regionkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    WHERE cr.r_name = 'AMERICA' AND sr.r_name = 'AMERICA'
      AND p_type IN ('SMALL', 'MEDIUM')
    GROUP BY 1, 2
    """,
    tags=("ssb", "join", "aggregate"),
)


register_sql(
    "ssb_q4_2",
    f"""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS d_year,
           sn.n_name AS s_nation, p_type,
           ROUND({_PROFIT_SQL}, 2) AS profit
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN part     ON l_partkey = p_partkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region cr ON cn.n_regionkey = cr.r_regionkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    WHERE cr.r_name = 'AMERICA' AND sr.r_name = 'AMERICA'
      AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      AND p_type IN ('SMALL', 'MEDIUM')
    GROUP BY 1, 2, 3
    """,
    tags=("ssb", "join", "aggregate"),
)


register_sql(
    "ssb_q4_3",
    f"""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS d_year,
           sn.n_name AS s_nation, p_brand,
           ROUND({_PROFIT_SQL}, 2) AS profit
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN part     ON l_partkey = p_partkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE sn.n_name IN ('NATION_2', 'NATION_9')
      AND p_type = 'PROMO'
      AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
    tags=("ssb", "join", "aggregate"),
)
