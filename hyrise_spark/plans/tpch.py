"""TPC-H-style queries, adapted to the driver's testdata schema.

The reference runs all 22 TPC-H queries as SQL text through its pipeline
(BASELINE.md; tpch_benchmark.cpp:55). The driver's synthetic schema
(TESTDATA.md) is TPC-H-ish but omits partsupp and several columns
(l_commitdate/l_receiptdate/l_shipmode, o_shippriority, c_phone/address,
p_mfgr/container, s_address), so each query here keeps the original's
*shape* — join graph, aggregation pattern, subquery structure — on the
available columns.

Each query is ONE SQL text, registered with `register_sql`: DuckDB runs it
as the oracle and Spark runs it through `spark.sql` (Catalyst picks
broadcast vs shuffle joins, decorrelates the subqueries, plans partial
aggregation and pushes the filters to the scan). Q11 keeps a hand builder
that materializes its twice-read CTE once; the measured reason is written
next to it. The layout variants (tpch_bucketed.py, tpch_datesorted.py,
tpch_datepartitioned.py) reuse these texts as their oracles, and the JCC-H
suite (jcch_suite.py) runs them over a skewed copy of the tables.

Scale notes (100 TB): every query here aggregates before or while joining
where possible, keeps filters at the scan (pushdown-visible in .explain),
and joins dimension tables (region/nation/supplier/part/customer) that stay
broadcast-size at any SF on the fact tables (lineitem/orders).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hyrise_spark.catalog import load_tables
from hyrise_spark.registry import register, register_sql

# Money-typed aggregates are rounded to 2 decimals in every text, so double
# summation-order differences between Spark and DuckDB can't flip the hash.

# Exact-decimal money expressions, spliced into the shared query texts
# (round-13 JCC-H determinism audit).
#
# Why: l_extendedprice sits on the cents (1e-2) lattice, so its plain SUM is
# always >= 0.005 away from a ROUND(...,2) boundary and double summation is
# safe. But l_extendedprice*(1-l_discount) sits on the 1e-4 lattice and
# *(1+l_tax) on 1e-6 — group sums CAN land exactly on a x.xx5 boundary, and
# then the two engines' (order-dependent, ±1ulp) double sums coin-flip the
# rounding. Measured at sf0.1 over the JCC-H skewed copy: q1's charge group
# (err 2.5e-5 vs margin 3.7e-5), q8's 1996 volume (exactly on .785), q10's
# customer 5 (exactly on .195), several q11 partkey values (exactly on .xx5),
# and q9's profit groups. These queries compute the product on the exact
# decimal lattice instead: decimal sums are order-independent, ROUND is
# HALF_UP (away from zero) in both engines, and the final CAST back to
# DOUBLE preserves the declared schema bit-for-bit. Precisions are kept
# small so Spark never hits its 38-digit cap (which would silently round).
# Queries left on double sums (q2/q3/q5/q6/q7/q14/q15/q17/q19/q22) were
# measured safe: min boundary distance >= 2e-4 with ordering error <= 6e-8.
_DEC_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
)
_DEC_CHARGE = (
    f"{_DEC_DISC_PRICE} * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))"
)

# q1's full-scan shape pays the decimal form per row (the double->decimal
# cast goes through Double.toString, charge's (16,4)x(3,2) product is
# 20 digits — past Spark's compact-long Decimal range — and the 26-digit
# SUM accumulator is byte-backed in the unsafe aggregation row, so every
# row decodes/re-encodes a BigDecimal; measured 2.86x on tpch_q1). Same
# exact lattice, cheaper route: recover the cent grids as BIGINTs (the
# doubles sit on the cents grid, so ROUND(x*100) is exact in both
# engines), do the products in long arithmetic (disc_price on the 1e-4
# lattice <= ~1e11/row, charge on 1e-6 <= ~2e13/row), and aggregate each
# measure as TWO long sums (hi = u div 1e6, lo = u mod 1e6) so the hot
# loop is pure integer codegen; the halves recombine in decimal once per
# group. Long sums are exact and order-independent while they fit; the
# margin is huge: at 100 TB (~6e11 lineitems) the worst half-sum is
# lo_charge <= 6e17 vs the 9.2e18 long range (~15x headroom; DuckDB sums
# BIGINT into a 128-bit accumulator, so only Spark's bound binds). The
# exact rational value and the HALF_UP rounding are identical to the
# _DEC_* form; only the arithmetic route differs. Rescaling multiplies by
# a decimal literal (never division — DuckDB and Spark disagree on
# decimal-division result scales), and every intermediate precision is
# audited under both engines' 38-digit cap.
# FLOOR(x*100 + 0.5), not ROUND(x*100, 0): Spark's Round on DOUBLE goes
# through BigDecimal.valueOf (a Double.toString per row — the very cost
# this form exists to avoid), while FLOOR is Math.floor. Exact for these
# columns: they are non-negative and sit on the cents grid, so x*100 is
# within ~1e-9 of an integer n and floor(n +- 1e-9 + 0.5) = n in both
# engines (Spark FLOOR(double) is already a LONG; DuckDB's double FLOOR
# casts exactly).
_UL_EXT_CENTS = "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
_UL_DISC_PRICE = (
    f"({_UL_EXT_CENTS}"
    " * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)))"
)
_UL_CHARGE = (
    f"({_UL_DISC_PRICE}"
    " * (100 + CAST(FLOOR(l_tax * 100 + 0.5) AS BIGINT)))"
)


def _split_sum_stages(u: str, scale_lit: str, scale_prec: str) -> dict[str, str]:
    """The stages of `_split_sum_2dp`, innermost first (each one's type is
    audited in tests/test_envelope.py). Spark types them (22,0) for the
    half-sums, (30,0) for hi x 1e6, (31,0) for the sum of the halves, (28,0)
    after the cast that holds the 100 TB charge sum (~1.2e25), and
    (34,4)/(36,6) after the scale factor — all below the 38-digit cap.
    DuckDB types these products one digit narrower (p1 + p2, not
    p1 + p2 + 1); it types any SUM of a decimal as (38, s)."""
    # FLOOR(u / 1e6), not integer division: Spark spells that DIV, DuckDB
    # spells it //, so the shared text uses the double-division form both
    # accept. Exact: u <= ~2.1e13 per row is below 2^53, and the true
    # quotient is >= 1e-6 away from any wrong integer while the division's
    # rounding error is ~4e-9.
    hi = f"CAST(SUM(CAST(FLOOR({u} / 1000000) AS BIGINT)) AS DECIMAL(22,0))"
    lo = f"CAST(SUM({u} % 1000000) AS DECIMAL(22,0))"
    hi_scaled = f"{hi} * CAST(1000000 AS DECIMAL(7,0))"
    total = f"{hi_scaled} + {lo}"
    exact = f"CAST({total} AS DECIMAL(28,0))"
    scaled = f"{exact} * CAST({scale_lit} AS DECIMAL({scale_prec}))"
    return {"hi": hi, "lo": lo, "hi_scaled": hi_scaled, "total": total,
            "exact": exact, "scaled": scaled, "rounded": f"ROUND({scaled}, 2)"}


def _split_sum_2dp(u: str, scale_lit: str, scale_prec: str) -> str:
    """ROUND(SUM(u) * 1e-k, 2) AS DOUBLE via two long half-sums — see the
    lattice note above and `_split_sum_stages` for the width of each step."""
    return f"CAST({_split_sum_stages(u, scale_lit, scale_prec)['rounded']} AS DOUBLE)"


_SUM_DISC_PRICE_2DP = _split_sum_2dp(_UL_DISC_PRICE, "0.0001", "5,4")
_SUM_CHARGE_2DP = _split_sum_2dp(_UL_CHARGE, "0.000001", "7,6")


# --------------------------------------------------------------------------
# Q1 — pricing summary report (scan + filter + 8-agg groupBy)
# Reference parity: AggregateHash (aggregate_hash.cpp), TableScan.
register_sql(
    "tpch_q1",
    f"""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
           -- disc_price/charge on the exact integer lattice (see _UL_* note)
           {_SUM_DISC_PRICE_2DP}                                            AS sum_disc_price,
           {_SUM_CHARGE_2DP}                                                AS sum_charge,
           -- ROUND(SUM)/COUNT (not ROUND(AVG)): deterministic across engines;
           -- see plans/windows.py moving_avg note.
           ROUND(SUM(l_quantity), 2) / COUNT(*)                             AS avg_qty,
           ROUND(SUM(l_extendedprice), 2) / COUNT(*)                        AS avg_price,
           ROUND(SUM(l_discount), 2) / COUNT(*)                             AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("tpch", "aggregate"),
)


# --------------------------------------------------------------------------
# Q3 — shipping priority (3-way join, filter both sides, agg, top-k)
register_sql(
    "tpch_q3",
    """
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(o_orderdate AS DATE) AS o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1998-03-15'
      AND l_shipdate > DATE '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("tpch", "join", "topk"),
)


# --------------------------------------------------------------------------
# Q4 — order priority checking (EXISTS-correlated subquery -> semi join).
# Original correlates on commitdate<receiptdate (absent); adapted to
# "some lineitem shipped more than 60 days after the order date". Catalyst
# decorrelates the EXISTS into a LeftSemi join (reference JoinMode::Semi,
# types.hpp:210) and pushes the date filter to the orders scans. The late
# set joins lineitem to the quarter's orders first: as one EXISTS over
# lineitem, the semi join's build side was all of lineitem, broadcast, and
# ran 1.35x the hand builder in an interleaved A/B at sf0.1 (9 runs,
# 0.760 vs 0.564 s); this form ran 0.90x (0.533 vs 0.594 s).
register_sql(
    "tpch_q4",
    """
    WITH late AS (
      SELECT DISTINCT l_orderkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= DATE '1996-07-01'
        AND o_orderdate < DATE '1996-10-01'
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-07-01'
      AND o_orderdate < DATE '1996-10-01'
      AND EXISTS (SELECT 1 FROM late WHERE l_orderkey = o_orderkey)
    GROUP BY o_orderpriority
    """,
    tags=("tpch", "semi-join", "subquery"),
)


# --------------------------------------------------------------------------
# Q5 — local supplier volume (6-way join incl. region/nation broadcast dims)
register_sql(
    "tpch_q5",
    """
    SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
    GROUP BY n_name
    """,
    tags=("tpch", "join"),
)


# --------------------------------------------------------------------------
# Q6 — forecasting revenue change (pure scan+filter+agg; the M0 slice)
register_sql(
    "tpch_q6",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("tpch", "scan"),
)


# --------------------------------------------------------------------------
# Q7 — volume shipping between two nations (supplier nation x customer nation)
register_sql(
    "tpch_q7",
    """
    SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                    JOIN orders   ON o_orderkey = l_orderkey
                    JOIN customer ON c_custkey = o_custkey
                    JOIN nation n1 ON s_nationkey = n1.n_nationkey
                    JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("tpch", "join"),
)


# --------------------------------------------------------------------------
# Q8 — national market share (conditional aggregation over a 7-way join)
register_sql(
    "tpch_q8",
    f"""
    SELECT o_year,
           -- decimal-lattice volume; divide as DOUBLEs (decimal division
           -- scales differ between engines) — see the _DEC_* note
           CAST(ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                               ELSE CAST(0 AS DECIMAL(3,2)) END), 2) AS DOUBLE)
             / CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
             {_DEC_DISC_PRICE} AS volume,
             n2.n_name AS nation
      FROM part JOIN lineitem ON p_partkey = l_partkey
                JOIN supplier ON s_suppkey = l_suppkey
                JOIN orders   ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation n1 ON c_nationkey = n1.n_nationkey
                JOIN region   ON n1.n_regionkey = r_regionkey
                JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA'
        AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
        AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
    tags=("tpch", "join", "case"),
)


# --------------------------------------------------------------------------
# Q9 — product-type profit (no partsupp: retailprice-based cost proxy)
#
# `amount` is computed on the EXACT decimal lattice in BOTH engines (the
# source doubles sit on the cents grid, so the DECIMAL(12,2) casts recover
# identical exact values; products/differences/sums of decimals are exact
# and therefore summation-ORDER-INDEPENDENT). A plain DOUBLE sum here is
# partition-order-dependent: under the JCC-H skew rewrite (~75% of
# lineitems on one supplier) the hot (nation, o_year) groups grow large
# enough that Spark's and DuckDB's different summation orders diverge past
# the ROUND(..., 2) margin — the bench_jcch_q09 driver-oracle hash mismatch
# in round 12. The final CAST back to DOUBLE keeps the declared schema; a
# 2-dp decimal converts to the same double bit pattern in both engines.
_Q9_AMOUNT = (
    f"{_DEC_DISC_PRICE}"
    " - CAST(p_retailprice AS DECIMAL(12,2)) * 0.6 * CAST(l_quantity AS DECIMAL(4,0))"
)


register_sql(
    "tpch_q9",
    f"""
    SELECT nation, o_year, CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
             {_Q9_AMOUNT} AS amount
      FROM part JOIN lineitem ON p_partkey = l_partkey
                JOIN supplier ON s_suppkey = l_suppkey
                JOIN orders   ON o_orderkey = l_orderkey
                JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    """,
    tags=("tpch", "join", "like"),
)


# --------------------------------------------------------------------------
# Q10 — returned item reporting (top-20 customers by lost revenue)
register_sql(
    "tpch_q10",
    f"""
    SELECT c_custkey, c_name,
           -- decimal-lattice revenue (see the _DEC_* note): the JCC-H hot
           -- customers fatten these groups and customer 5's exact sum lands
           -- ON a rounding boundary
           CAST(ROUND(SUM({_DEC_DISC_PRICE}), 2) AS DOUBLE) AS revenue,
           ROUND(c_acctbal, 2) AS c_acctbal, n_name
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= DATE '1996-10-01' AND o_orderdate < DATE '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("tpch", "join", "topk"),
)


# --------------------------------------------------------------------------
# Q12 — shipping mode / priority classification (CASE aggregation).
# l_shipmode is absent; classify by linestatus with the same CASE pattern.
register_sql(
    "tpch_q12",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH'
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH'
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
    GROUP BY l_linestatus
    """,
    tags=("tpch", "case"),
)


# --------------------------------------------------------------------------
# Q13 — customer order-count distribution (LEFT OUTER join + nested agg)
register_sql(
    "tpch_q13",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
    tags=("tpch", "outer-join"),
)


# --------------------------------------------------------------------------
# Q14 — promo revenue share (conditional agg ratio)
register_sql(
    "tpch_q14",
    """
    SELECT 100.00 * ROUND(SUM(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2)
                 / ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1996-09-01' AND l_shipdate < DATE '1996-10-01'
    """,
    tags=("tpch", "case"),
)


# --------------------------------------------------------------------------
# Q15 — top supplier via revenue view (view + scalar MAX subquery).
# Reference: Q15 runs as CREATE VIEW (tpch_benchmark_item_runner.cpp:103-105);
# here the view is the CTE revenue0, read twice (MAX scalar + supplier join).
# Catalyst plans its lineitem aggregation once per read. The hand builder
# it replaced materialized the view once (lazy localCheckpoint): 4 Exchange
# nodes with the hub's plan counted, the same as this text, and the
# interleaved A/B at sf0.1 read 1.01x (0.610 vs 0.605 s).
register_sql(
    "tpch_q15",
    """
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
    """,
    tags=("tpch", "view", "scalar-subquery"),
)


# --------------------------------------------------------------------------
# Q16 — supplier count by part attributes (NOT IN subquery + count distinct).
# NOT IN over a one-column subquery plans as a null-aware anti join
# (AntiNullAsFalse, types.hpp:210).
register_sql(
    "tpch_q16",
    """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 25)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
    GROUP BY p_brand, p_type, p_size
    """,
    tags=("tpch", "anti-join", "count-distinct"),
)


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated scalar AVG subquery)
register_sql(
    "tpch_q17",
    """
    SELECT ROUND(SUM(l_extendedprice), 2) / 7.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
    tags=("tpch", "correlated-subquery"),
)


# --------------------------------------------------------------------------
# Q18 — large-volume customers (IN over a HAVING subquery, written as a
# join to the big-order keys). The keys are unique (GROUP BY l_orderkey), so
# the join is the semi join. Spelled `o_orderkey IN (...)`, Catalyst infers
# the same IN for l_orderkey through the join key and plans the HAVING
# aggregate twice: 3 shuffle Exchanges at sf0.1, against 1 for this form.
# orders is joined to the big keys before customer, as in the hand builder:
# with broadcasts off (tests/test_jcch_suite.py) customer-first gave AQE no
# skewed join to split over the JCC-H hot customers.
register_sql(
    "tpch_q18",
    """
    SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
           ROUND(o_totalprice, 2) AS o_totalprice, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM orders JOIN (SELECT l_orderkey AS big_orderkey FROM lineitem
                      GROUP BY l_orderkey HAVING SUM(l_quantity) > 150) big
                  ON o_orderkey = big_orderkey
                JOIN customer ON c_custkey = o_custkey
                JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    tags=("tpch", "having", "semi-join"),
)


# --------------------------------------------------------------------------
# Q19 — discounted revenue, disjunctive multi-clause predicate. The
# reference splits the ORs into UnionPositions diamonds
# (union_positions.hpp:10-40); Spark keeps one disjunctive filter and pushes
# its per-table parts into the join inputs.
register_sql(
    "tpch_q19",
    """
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
    tags=("tpch", "or-predicate"),
)


# --------------------------------------------------------------------------
# Q20 — suppliers with excess shipments (nested IN subqueries -> semi joins)
register_sql(
    "tpch_q20",
    """
    SELECT s_name, s_nationkey
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_5'
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        GROUP BY l_suppkey
        HAVING SUM(l_quantity) > 50
      )
    """,
    tags=("tpch", "semi-join", "having"),
)


# --------------------------------------------------------------------------
# Q21 — suppliers who kept waiting (EXISTS + NOT EXISTS correlated on the
# same fact table; adapted from commit/receipt dates to multi-supplier orders)
register_sql(
    "tpch_q21",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
                  JOIN orders ON o_orderkey = l1.l_orderkey
                  JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND n_name = 'NATION_4'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    """,
    tags=("tpch", "exists", "anti-join"),
)


# --------------------------------------------------------------------------
# Q22 — global sales opportunity (scalar AVG subquery + NOT EXISTS anti join)
register_sql(
    "tpch_q22",
    """
    SELECT c_nationkey, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= DATE '1999-01-01')
    GROUP BY c_nationkey
    """,
    tags=("tpch", "anti-join", "scalar-subquery"),
)


# --------------------------------------------------------------------------
# Q2 — minimum-cost supplier (correlated MIN subquery + 5-way join).
# partsupp is absent: "supply cost" = a supplier's avg extended price for the
# part from lineitem; same min-cost + join shape as the original.
# The per-part MIN is a window over supply joined to the qualifying parts
# (every supplier row of those parts survives the join, so the MIN is the
# correlated subquery's): one lineitem aggregation, and the window input is
# |suppliers x matching parts|, not |lineitem|. The correlated-subquery text
# decorrelated into a second aggregation of supply: 8 Exchanges (incl.
# broadcasts) against 6 for this form at sf0.1.
register_sql(
    "tpch_q2",
    """
    WITH supply AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             ROUND(SUM(l_extendedprice), 2) / COUNT(*) AS ps_supplycost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), cheapest AS (
      SELECT p_partkey, p_name, ps_suppkey, ps_supplycost,
             MIN(ps_supplycost) OVER (PARTITION BY ps_partkey) AS min_cost
      FROM supply JOIN part ON p_partkey = ps_partkey
      WHERE p_size = 10
    )
    SELECT s_name, p_partkey, p_name, ROUND(ps_supplycost, 2) AS cost, n_name
    FROM cheapest JOIN supplier ON s_suppkey = ps_suppkey
                  JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    WHERE ps_supplycost = min_cost AND r_name = 'EUROPE'
    """,
    tags=("tpch", "correlated-subquery"),
)


# --------------------------------------------------------------------------
# Q11 — important stock identification (group agg vs global scalar fraction).
@register(
    "tpch_q11",
    oracle=f"""
    WITH supply_value AS (
      -- decimal-lattice value (see the _DEC_* note): several partkey sums
      -- land exactly ON a x.xx5 boundary at sf0.1. The threshold likewise
      -- sums the exact 2-dp values as decimals (order-independent) before
      -- one deterministic double division.
      SELECT l_partkey, CAST(ROUND(SUM({_DEC_DISC_PRICE}), 2) AS DOUBLE) AS value
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                    JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      GROUP BY l_partkey
    )
    SELECT l_partkey, value
    FROM supply_value
    WHERE value > (SELECT 2.0 * CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                         / COUNT(*) FROM supply_value)
    """,
    tags=("tpch", "scalar-subquery", "having"),
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    tabs = load_tables(spark, sf_dir, ("lineitem", "supplier", "nation"))
    li, supp, nation = tabs["lineitem"], tabs["supplier"], tabs["nation"]
    nat = nation.filter(F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
    supply_value = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.round(F.sum(F.expr(_DEC_DISC_PRICE)), 2).cast("double").alias("value"))
        # the CTE is consumed twice (threshold scalar + final filter):
        # materialize the partkey-sized aggregate once instead of running
        # the lineitem⋈supplier⋈nation join+agg twice (2x the fact scan at
        # warehouse scale). Kept over the text, which Catalyst plans with
        # the join+agg per read: 7 Exchange/BNLJ nodes against 6 here
        # (3 final + 3 in the hub) at sf0.01 and sf0.1, and 1.06x the time
        # in an interleaved A/B at sf0.1 (1.094 vs 1.030 s).
        .localCheckpoint(eager=False)
    )
    threshold = supply_value.agg(
        (
            F.lit(2.0)
            * F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("thr")
    )
    return (
        supply_value.join(F.broadcast(threshold))
        .filter(F.col("value") > F.col("thr"))
        .select("l_partkey", "value")
    )
