"""REAL TPC-DS queries adapted to the driver schema — together with
plans/tpcds.py this covers ALL 99: the reference's COMPLETE included set
(all 49 entries of query_excludelist.cfg's `#`-commented list, 48 distinct
+ the 39a/39b pair) PLUS every query it EXCLUDES as unexecutable
(window/ROLLUP/set-op families; batch 5: Q5 12 22 27 36 38 47 51 53 57 59
67 70 74 75 76 86 87 89 98; round-4 batch: Q2 4 8 11 14 18 20 21 23 24 30
33 40 44 46 49 54 56 58 60 61 63 64 66 68 71 72 77 78 80 90) — both halves
of the reference's TPC-DS split, 99/99.

The reference runs ~45 actual TPC-DS queries (the `#`-commented entries in
/root/reference/resources/benchmark/tpcds/query_excludelist.cfg are the
INCLUDED ones; tpcds_benchmark.cpp:22-38 loads the rest from their SQL
files). `plans/tpcds.py` covers the *excluded* families (windows/rollup);
this module adapts the included queries — keeping each query's join graph,
predicate structure and aggregation shape — onto the TPC-H-ish test
schema:

  store_sales      -> lineitem (joined through orders for customer/date)
  store_returns    -> lineitem with l_returnflag = 'R'
  item             -> part  (i_brand->p_brand, i_category->p_type,
                             i_current_price->p_retailprice)
  customer_address -> nation/region via c_nationkey (ca_state->n_name)
  date_dim         -> date ranges / EXTRACT on o_orderdate / l_shipdate
  time_dim         -> events.ts (the schema's only sub-day timestamps)
  household_demographics / store -> customer segment / supplier nation

Mapping per query (canonical TPC-DS number -> here):
  Q1  customers returning > 1.2x their state's average      -> tpcds_q1
  Q3  brand revenue for one manufacturer, one month         -> tpcds_q3
  Q6  states where customers buy above-category-price items -> tpcds_q6
  Q7  per-item averages for one demographic slice           -> tpcds_q7
  Q9  five quantity-band buckets, threshold-picked metric   -> tpcds_q9
  Q13 averages under OR'd demographic x price-band filters  -> tpcds_q13
  Q15 zip revenue with IN/state/price disjunction           -> tpcds_q15
  Q19 brand revenue where buyer and seller differ in locale -> tpcds_q19
  Q42 category revenue by year for one month                -> tpcds_q42
  Q96 count of sales in a half-hour slot for one segment    -> tpcds_q96

Each query is ONE SQL text, registered with `register_sql`: DuckDB runs it
as the oracle and Spark runs it through `spark.sql`, as the reference runs
its TPC-DS files through its SQL pipeline. Catalyst decorrelates the
correlated subqueries (scalar subqueries become aggregations + joins, EXISTS
becomes a semi join — the SubqueryToJoinRule analog, sql_translator.cpp),
and CBO/AQE choose the join order and the join strategies: the texts carry
no broadcast hints, so a dim that outgrows the broadcast limit falls back to
a shuffle join instead of dying at the 8 GB hint cap (SCALE.md §10 dims
probe). Date filters are half-open ranges on the raw column (`col >=
TIMESTAMP 'Y-01-01' AND col < TIMESTAMP 'Y+1-01-01'`), never EXTRACT(YEAR
...) = Y, so the bounds reach the parquet scan's PushedFilters. Spellings
whose value differs between the engines are replaced by portable ones:
weekday is `EXTRACT(DAY FROM col - TIMESTAMP '1970-01-04') % 7` (0 =
Sunday; DuckDB's DOW counts 0-6, Spark's 1-7), a day difference is
`EXTRACT(DAY FROM b - a)` (Spark rejects DuckDB's quoted date_diff unit),
and a fraction is `CAST(2 AS DOUBLE) / 3` (Spark types `2.0 / 3.0` as
DECIMAL(8,6)).
"""

from __future__ import annotations

from hyrise_spark.registry import register_sql

# Year span of the synthetic dataset (TESTDATA.md: 1995..2001) with margin on
# both sides. In production the engine would take min/max from table stats;
# here the span is a dataset property the month-range fragment relies on.
_DATA_YEARS = tuple(range(1994, 2003))


def _any_year_month(col: str, month: int) -> str:
    """SQL for `month(col) = month` in any year, in the hybrid form
    `EXTRACT(MONTH ...) = m AND (<OR of per-year half-open raw-column
    ranges>)`: the OR of ranges reaches the parquet scan (PushedFilters ->
    row-group / partition pruning at 100 TB), while the cheap month term
    short-circuits the surviving rows before the wide OR tree is evaluated
    (measured 0.23 s vs 0.37 s OR-only vs 0.30 s month-only on the sf0.1
    lineitem scan)."""
    def end(y: int) -> str:
        return f"{y + 1}-01-01" if month == 12 else f"{y}-{month + 1:02d}-01"

    ranges = " OR ".join(
        f"{col} >= TIMESTAMP '{y}-{month:02d}-01' AND {col} < TIMESTAMP '{end(y)}'"
        for y in _DATA_YEARS
    )
    return f"EXTRACT(MONTH FROM {col}) = {month} AND ({ranges})"


# --------------------------------------------------------------------------
# Q1: customer_total_return per (customer, state); keep customers whose
# returns exceed 1.2x their state's average. state -> customer nation.
register_sql(
    "tpcds_q1",
    """
    WITH ctr AS (
      SELECT o_custkey AS ctr_custkey, c_nationkey AS ctr_nationkey,
             ROUND(SUM(l_extendedprice), 2) AS ctr_total_return
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY 1, 2
    )
    SELECT c_custkey, c_name, ctr_total_return
    FROM ctr ctr1 JOIN customer ON ctr1.ctr_custkey = c_custkey
    WHERE ctr_total_return > (
      SELECT AVG(ctr_total_return) * 1.2 FROM ctr ctr2
      WHERE ctr1.ctr_nationkey = ctr2.ctr_nationkey
    )
    ORDER BY c_custkey LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q3: brand revenue for one "manufacturer" (p_type) in one calendar month,
# by ship year.
register_sql(
    "tpcds_q3",
    f"""
    SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS d_year,
           p_brand, ROUND(SUM(l_extendedprice), 2) AS sum_agg
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'PROMO' AND {_any_year_month("l_shipdate", 11)}
    GROUP BY 1, 2
    ORDER BY d_year, sum_agg DESC, p_brand
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q6: "states" (customer nations) where >= 10 sold items are priced over
# their category's (p_type) average price. Canonical Q6 uses 1.2x; the
# synthetic price distribution is uniform in [900, 1000] (max/avg ~ 1.05),
# so the adapted constant is 1.04x — same correlated-subquery structure,
# selectivity matched to the data.
register_sql(
    "tpcds_q6",
    """
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN part ON l_partkey = p_partkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      AND p_retailprice > 1.04 * (
        SELECT AVG(p2.p_retailprice) FROM part p2 WHERE p2.p_type = part.p_type
      )
    GROUP BY n_name
    HAVING COUNT(*) >= 10
    ORDER BY cnt, n_name
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q7: per-item (brand) averages for one demographic slice (segment x
# order priority standing in for cd_gender/cd_marital_status).
register_sql(
    "tpcds_q7",
    """
    SELECT p_brand,
           ROUND(AVG(l_quantity), 2) AS agg1,
           ROUND(AVG(l_extendedprice), 2) AS agg2,
           ROUND(AVG(l_discount), 2) AS agg3,
           ROUND(AVG(l_tax), 2) AS agg4
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN part ON l_partkey = p_partkey
    WHERE c_mktsegment = 'BUILDING' AND o_orderpriority = '1-URGENT'
    GROUP BY p_brand ORDER BY p_brand LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q9: five quantity bands; each bucket reports avg discount if the band is
# over-represented (> 1/5 of rows), else avg tax. Canonical Q9 runs 15
# scalar-subquery scans; this text is ONE pass of conditional aggregation —
# same values, 15x less I/O.
_Q9_BANDS = [(1, 10), (11, 20), (21, 30), (31, 40), (41, 50)]


def _q9_text() -> str:
    cols, outs = [], []
    for i, (lo, hi) in enumerate(_Q9_BANDS, 1):
        band = f"l_quantity BETWEEN {lo} AND {hi}"
        cols.append(f"SUM(CASE WHEN {band} THEN 1 ELSE 0 END) AS cnt{i}")
        cols.append(f"ROUND(AVG(CASE WHEN {band} THEN l_discount END), 4) AS avgd{i}")
        cols.append(f"ROUND(AVG(CASE WHEN {band} THEN l_tax END), 4) AS avgt{i}")
        outs.append(f"CASE WHEN cnt{i} * 5 > total THEN avgd{i} ELSE avgt{i} END AS bucket{i}")
    return f"""
    WITH agg AS (SELECT COUNT(*) AS total, {", ".join(cols)} FROM lineitem)
    SELECT {", ".join(outs)} FROM agg
    """


register_sql(
    "tpcds_q9",
    _q9_text(),
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q13: one-row averages under OR'd (demographic x quantity-band x
# order-value-band) composite predicates.
register_sql(
    "tpcds_q13",
    """
    SELECT ROUND(AVG(l_quantity), 2) AS avg_qty,
           ROUND(AVG(l_extendedprice), 2) AS avg_price,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE (c_mktsegment = 'BUILDING' AND o_orderpriority = '1-URGENT'
           AND l_quantity BETWEEN 1 AND 20 AND o_totalprice BETWEEN 50000 AND 150000)
       OR (c_mktsegment = 'MACHINERY' AND o_orderpriority = '2-HIGH'
           AND l_quantity BETWEEN 21 AND 35 AND o_totalprice BETWEEN 100000 AND 250000)
       OR (c_mktsegment = 'AUTOMOBILE' AND o_orderpriority = '3-MEDIUM'
           AND l_quantity BETWEEN 36 AND 50 AND o_totalprice BETWEEN 150000 AND 300000)
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q15: "zip" (nation) revenue for one quarter where nation is in a list, OR
# its region qualifies, OR the order is high-value — the canonical
# zip-list/state-list/price disjunction.
register_sql(
    "tpcds_q15",
    """
    SELECT n_name, ROUND(SUM(l_extendedprice), 2) AS total_sales
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE (n_name IN ('NATION_1', 'NATION_5', 'NATION_9')
           OR r_name = 'ASIA' OR o_totalprice > 200000)
      AND o_orderdate >= TIMESTAMP '1997-04-01' AND o_orderdate < TIMESTAMP '1997-07-01'
    GROUP BY n_name ORDER BY n_name LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q19: brand revenue for one month where the buyer's locale differs from the
# seller's (ca_zip <> s_zip becomes customer nation <> supplier nation).
register_sql(
    "tpcds_q19",
    f"""
    SELECT p_brand, p_type, ROUND(SUM(l_extendedprice), 2) AS ext_price
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN part ON l_partkey = p_partkey
    WHERE {_any_year_month("o_orderdate", 11)} AND c_nationkey <> s_nationkey
    GROUP BY p_brand, p_type
    ORDER BY ext_price DESC, p_brand, p_type LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q42: category (p_type) revenue by ship year for one month, small parts.
register_sql(
    "tpcds_q42",
    f"""
    SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS d_year, p_type,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE {_any_year_month("l_shipdate", 12)} AND p_size < 6
    GROUP BY 1, 2
    ORDER BY revenue DESC, d_year, p_type LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q96: count of events in a half-hour slot for one customer segment
# (time_dim hour/minute predicate + household_demographics join; events.ts
# is the schema's only sub-day time dimension).
register_sql(
    "tpcds_q96",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    JOIN customer ON user_id = c_custkey
    WHERE EXTRACT(HOUR FROM ts) = 20 AND EXTRACT(MINUTE FROM ts) >= 30
      AND event_type = 'click' AND c_mktsegment = 'HOUSEHOLD'
    """,
    tags=("tpcds", "tpcds-real"),
)


# ==========================================================================
# Batch 2 — ten more queries from the reference's included set.
#   Q17 quantity count/avg/stdev split by return status per brand
#   Q28 six quantity bands x (avg price, count, distinct parts)
#   Q31 quarter-over-quarter growth, web channel vs store channel
#   Q37 parts in a price/size band with sales inside a 60-day window
#   Q41 DISTINCT part names whose brand carries qualifying attribute combos
#   Q45 nation revenue where key IN list OR brand IN subquery
#   Q50 ship-latency bucket counts per supplier nation
#   Q79 each customer's single highest-revenue order
#   Q92 excessive discount: rows discounted > 1.3x their part's average
#   Q93 per-customer net sales excluding returned lineitems
# Channel mapping for Q31: "store" = order priorities 1-2, "web" = 4-5.


# --------------------------------------------------------------------------
# Q17: per-brand quantity statistics (count / avg / stddev_samp), kept vs
# returned lineitems in one year. HAVING >= 2 on both sides keeps
# stddev_samp non-NULL and cross-engine stable.
register_sql(
    "tpcds_q17",
    """
    SELECT p_brand,
           CAST(SUM(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS kept_cnt,
           ROUND(AVG(CASE WHEN l_returnflag <> 'R' THEN l_quantity END), 2) AS kept_avg,
           ROUND(STDDEV_SAMP(CASE WHEN l_returnflag <> 'R' THEN l_quantity END), 4) AS kept_std,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ret_cnt,
           ROUND(AVG(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS ret_avg,
           ROUND(STDDEV_SAMP(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 4) AS ret_std
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY p_brand
    HAVING SUM(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) >= 2
       AND SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) >= 2
    ORDER BY p_brand
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q28: six quantity bands, each reporting avg price / row count / distinct
# part count. Canonical Q28 cross-joins six scalar-subquery scans; grouped
# conditional aggregation computes the same measures in ONE pass.
register_sql(
    "tpcds_q28",
    """
    SELECT CAST(FLOOR((l_quantity - 1) / 8) AS INTEGER) AS band,
           ROUND(AVG(l_extendedprice), 2) AS avg_price,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS distinct_parts
    FROM lineitem
    WHERE l_quantity BETWEEN 1 AND 48
    GROUP BY 1 ORDER BY band
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q31: nations where the "web" channel (priorities 4-5) grew faster than the
# "store" channel (priorities 1-2) across consecutive quarters of 1997.
register_sql(
    "tpcds_q31",
    """
    WITH sales AS (
      SELECT n_name,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'store' ELSE 'web' END AS channel,
             CAST(EXTRACT(QUARTER FROM o_orderdate) AS INTEGER) AS q,
             o_totalprice AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        AND o_orderpriority IN ('1-URGENT', '2-HIGH', '4-NOT SPECIFIED', '5-LOW')
    ), pivoted AS (
      SELECT n_name,
             SUM(CASE WHEN channel = 'store' AND q = 1 THEN rev ELSE 0 END) AS ss1,
             SUM(CASE WHEN channel = 'store' AND q = 2 THEN rev ELSE 0 END) AS ss2,
             SUM(CASE WHEN channel = 'web' AND q = 1 THEN rev ELSE 0 END) AS ws1,
             SUM(CASE WHEN channel = 'web' AND q = 2 THEN rev ELSE 0 END) AS ws2
      FROM sales GROUP BY n_name
    )
    SELECT n_name,
           ROUND(ws2 / ws1, 4) AS web_growth,
           ROUND(ss2 / ss1, 4) AS store_growth
    FROM pivoted
    WHERE ws1 > 0 AND ss1 > 0 AND ws2 / ws1 > ss2 / ss1
    ORDER BY n_name
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q37: parts in a price band and size band ("inventory level") that actually
# sold inside a 60-day window — the semi-join-on-window shape.
register_sql(
    "tpcds_q37",
    """
    SELECT p_name, ROUND(p_retailprice, 2) AS p_retailprice
    FROM part
    WHERE p_retailprice BETWEEN 920 AND 960 AND p_size BETWEEN 5 AND 25
      AND p_partkey IN (
        SELECT l_partkey FROM lineitem
        WHERE l_shipdate >= DATE '1997-03-01' AND l_shipdate < DATE '1997-04-30'
      )
    GROUP BY p_name, p_retailprice
    ORDER BY p_name, p_retailprice LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q41: DISTINCT part names in a size band whose BRAND also carries parts
# matching OR'd attribute combos (correlated COUNT > 0 -> semi join on the
# qualifying-brand set).
register_sql(
    "tpcds_q41",
    """
    SELECT DISTINCT p_name
    FROM part p1
    WHERE p_size BETWEEN 10 AND 20
      AND (SELECT COUNT(*) FROM part p2
           WHERE p2.p_brand = p1.p_brand
             AND ((p2.p_type = 'PROMO' AND p2.p_size BETWEEN 1 AND 15)
               OR (p2.p_type = 'ECONOMY' AND p2.p_size BETWEEN 20 AND 35))) > 0
    ORDER BY p_name LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q45: nation revenue for one quarter where the part key is in an explicit
# list OR its brand comes from a subquery (the canonical zip-list OR
# item-subquery disjunction). The subquery is a LEFT JOIN to the distinct
# brand set with an IS NOT NULL flag: with `p_brand IN (subquery)` inside
# the OR, Spark planned the part side (an ExistenceJoin) as a shuffled
# SortMergeJoin input (3 Exchanges vs 2); the flag join keeps it broadcast.
register_sql(
    "tpcds_q45",
    """
    SELECT n_name, ROUND(SUM(l_extendedprice), 2) AS total_sales
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN part ON l_partkey = p_partkey
    LEFT JOIN (SELECT DISTINCT p_brand AS q_brand FROM part WHERE p_size = 1) qb
      ON p_brand = q_brand
    WHERE (l_partkey IN (2, 11, 24, 37, 49) OR q_brand IS NOT NULL)
      AND o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1998-04-01'
    GROUP BY n_name ORDER BY n_name LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q50: ship-latency bucket counts (order date -> ship date) per supplier
# nation — the canonical 30/60/90/120/120+ day histogram.
register_sql(
    "tpcds_q50",
    """
    SELECT n_name,
           CAST(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - o_orderdate) <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
           CAST(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - o_orderdate) BETWEEN 31 AND 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
           CAST(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - o_orderdate) BETWEEN 61 AND 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
           CAST(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - o_orderdate) BETWEEN 91 AND 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120,
           CAST(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - o_orderdate) > 120 THEN 1 ELSE 0 END) AS BIGINT) AS d_over_120
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name ORDER BY n_name
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q79: each customer's single highest-revenue order (greatest-per-group via
# ranked window, deterministic tie-break on orderkey).
register_sql(
    "tpcds_q79",
    """
    WITH per_order AS (
      SELECT c_custkey, c_name, o_orderkey,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS rev
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY c_custkey, c_name, o_orderkey
    ), ranked AS (
      SELECT c_custkey, c_name, o_orderkey, rev,
             ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY rev DESC, o_orderkey) AS rn
      FROM per_order
    )
    SELECT c_custkey, c_name, o_orderkey AS top_orderkey, rev
    FROM ranked WHERE rn = 1
    ORDER BY c_custkey LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q92: excessive discount — total discount amount on lineitems discounted
# more than 1.3x their part's average discount over the period.
register_sql(
    "tpcds_q92",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS excess_discount_amount
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'PROMO'
      AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount > 1.3 * (
        SELECT AVG(l2.l_discount) FROM lineitem l2
        WHERE l2.l_partkey = lineitem.l_partkey
          AND l2.l_shipdate >= TIMESTAMP '1997-01-01' AND l2.l_shipdate < TIMESTAMP '1998-01-01'
      )
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q93: per-customer net sales counting only non-returned lineitems.
register_sql(
    "tpcds_q93",
    """
    SELECT c_custkey,
           ROUND(SUM(CASE WHEN l_returnflag <> 'R' THEN l_quantity * l_extendedprice ELSE 0 END), 2) AS act_sales
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey
    ORDER BY act_sales DESC, c_custkey LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# ==========================================================================
# Batch 3 — thirteen more queries from the reference's included set
# (resources/benchmark/tpcds/query_excludelist.cfg; tpcds_benchmark.cpp:22).
#   Q10 customers active in BOTH channels, counted by segment
#   Q16 orders with a second distinct supplier and no returns (EXISTS/NOT EXISTS)
#   Q25 three-channel join: store buy -> return -> web re-buy per customer
#   Q34 orders with 6-8 lineitems for customers in selected nations
#   Q39 quantity coefficient-of-variation, consecutive-month self-join
#   Q43 revenue by day-of-week per supplier nation
#   Q48 quantity under OR'd segment x price-band x nation x qty-band filters
#   Q65 (supplier, part) revenue at most 30% of the supplier's average
#   Q69 store-channel-only customers (EXISTS + NOT EXISTS), by segment
#   Q88 eight half-hour activity slots in one single-pass conditional agg
#   Q91 returns loss by supplier nation x month for overdrawn customers
#   Q97 store/web customer-item overlap via FULL OUTER JOIN
# Channel mapping (as Q31): "store" = priorities 1-2, "web" = 4-5.
# Q26/Q62/Q94 were considered and skipped as exact shape-duplicates of
# Q7/Q50/Q16 under this schema; Q25/Q35/Q69/Q91 taken instead.


# --------------------------------------------------------------------------
# Q10: customers in selected nations active in the store channel AND the web
# channel in H1/1997, counted by segment (two EXISTS -> two semi joins).
register_sql(
    "tpcds_q10",
    """
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer
    WHERE c_nationkey IN (0, 1, 2, 3, 4, 5)
      AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
                  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01')
      AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
                  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01')
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q16: orders in a 60-day window shipped by >= 2 distinct suppliers with no
# returned lineitem — COUNT(DISTINCT order), SUM(price). The canonical
# EXISTS(other supplier) / NOT EXISTS(return) pair is written as per-order
# window aggregates (MIN <> MAX supplier iff some other row has a different
# supplier) — the TPC-H Q21 decorrelation trick. The date window is an
# order-level predicate, so per-order stats over the filtered join equal
# stats over the whole table: one lineitem scan. The EXISTS text ran 2.38x
# the old DataFrame builder at sf0.1 (q94 2.64x, q95 2.50x); this form ran
# 0.83x (q94 0.89x, q95 0.85x; tools/ab_interleave.py --gc, 5 runs).
register_sql(
    "tpcds_q16",
    """
    SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS order_count,
           ROUND(SUM(l_extendedprice), 2) AS total_price
    FROM (
      SELECT o_orderkey, l_extendedprice,
             MIN(l_suppkey) OVER (PARTITION BY l_orderkey) AS min_supp,
             MAX(l_suppkey) OVER (PARTITION BY l_orderkey) AS max_supp,
             MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               OVER (PARTITION BY l_orderkey) AS has_return
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= DATE '1997-02-01' AND o_orderdate < DATE '1997-04-01'
    ) per_order
    WHERE min_supp <> max_supp AND has_return = 0
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q25: three-channel chain — customers who bought in the store channel in
# April 1997, returned something in Apr-Oct, and bought again on the web
# channel in Apr-Oct; channel revenues summed by customer nation. The
# canonical item+customer correlation is coarsened to customer grain (the
# synthetic data has no correlated re-purchases of the same part).
register_sql(
    "tpcds_q25",
    """
    WITH ss AS (
      SELECT o_custkey AS cust, l_extendedprice AS price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag <> 'R' AND o_orderdate >= TIMESTAMP '1997-04-01' AND o_orderdate < TIMESTAMP '1997-05-01'
        AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    ), sr AS (
      SELECT o_custkey AS cust, l_extendedprice AS ret_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1997-04-01' AND o_orderdate < TIMESTAMP '1997-11-01'
    ), ws AS (
      SELECT o_custkey AS cust, l_extendedprice AS web_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag <> 'R' AND o_orderdate >= TIMESTAMP '1997-04-01' AND o_orderdate < TIMESTAMP '1997-11-01'
        AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
    )
    SELECT n_name,
           ROUND(SUM(price), 2) AS store_sales,
           ROUND(SUM(ret_price), 2) AS return_amt,
           ROUND(SUM(web_price), 2) AS web_sales
    FROM ss JOIN sr USING (cust) JOIN ws USING (cust)
    JOIN customer ON cust = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q34: store-channel orders carrying 6-8 lineitems for customers in selected
# nations (the "big basket" per-ticket count band).
register_sql(
    "tpcds_q34",
    """
    WITH per_order AS (
      SELECT o_orderkey, o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      GROUP BY 1, 2
      HAVING COUNT(*) BETWEEN 6 AND 8
    )
    SELECT c_custkey, c_name, o_orderkey, cnt
    FROM per_order JOIN customer ON o_custkey = c_custkey
    WHERE c_nationkey IN (0, 3, 7, 11, 15, 19, 23)
    ORDER BY c_custkey, o_orderkey LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q35: customers active in both channels in 1997, with count / avg / max /
# sum of account balance per nation (the demographic-stats sibling of Q10).
register_sql(
    "tpcds_q35",
    """
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(ROUND(SUM(c_acctbal), 2) / COUNT(*), 2) AS avg_bal,
           ROUND(MAX(c_acctbal), 2) AS max_bal,
           ROUND(SUM(c_acctbal), 2) AS sum_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
                  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
      AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
                  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
    GROUP BY n_name ORDER BY n_name
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q39: quantity coefficient of variation per (supplier, month); keep
# suppliers whose cov stays > 0.5 across consecutive months (the inventory
# volatility self-join). Filter uses the ROUNDED cov on both engines so the
# threshold compare is bit-stable cross-engine.
register_sql(
    "tpcds_q39",
    """
    WITH inv AS (
      SELECT l_suppkey, CAST(EXTRACT(MONTH FROM l_shipdate) AS INTEGER) AS m,
             ROUND(STDDEV_SAMP(l_quantity) / AVG(l_quantity), 4) AS cov
      FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT i1.l_suppkey AS suppkey, i1.m AS m1, i1.cov AS cov1,
           i2.m AS m2, i2.cov AS cov2
    FROM inv i1 JOIN inv i2 ON i1.l_suppkey = i2.l_suppkey AND i2.m = i1.m + 1
    WHERE i1.cov > 0.5 AND i2.cov > 0.5
    ORDER BY suppkey, m1 LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q43: 1997 revenue by day-of-week per supplier nation, pivoted to seven
# columns (weekday 0 = Sunday, in the portable spelling of the module
# docstring).
register_sql(
    "tpcds_q43",
    """
    SELECT n_name,
           ROUND(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - TIMESTAMP '1970-01-04') % 7 = 0 THEN l_extendedprice ELSE 0 END), 2) AS sun_sales,
           ROUND(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - TIMESTAMP '1970-01-04') % 7 = 1 THEN l_extendedprice ELSE 0 END), 2) AS mon_sales,
           ROUND(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - TIMESTAMP '1970-01-04') % 7 = 2 THEN l_extendedprice ELSE 0 END), 2) AS tue_sales,
           ROUND(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - TIMESTAMP '1970-01-04') % 7 = 3 THEN l_extendedprice ELSE 0 END), 2) AS wed_sales,
           ROUND(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - TIMESTAMP '1970-01-04') % 7 = 4 THEN l_extendedprice ELSE 0 END), 2) AS thu_sales,
           ROUND(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - TIMESTAMP '1970-01-04') % 7 = 5 THEN l_extendedprice ELSE 0 END), 2) AS fri_sales,
           ROUND(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - TIMESTAMP '1970-01-04') % 7 = 6 THEN l_extendedprice ELSE 0 END), 2) AS sat_sales
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name ORDER BY n_name
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q48: total quantity under OR'd (segment x price band) AND OR'd
# (nation-set x quantity band) disjunctions — the canonical
# demographic/address double-disjunction scan.
register_sql(
    "tpcds_q48",
    """
    SELECT ROUND(SUM(l_quantity), 2) AS total_qty
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      AND ((c_mktsegment = 'BUILDING' AND l_extendedprice BETWEEN 1000 AND 20000)
        OR (c_mktsegment = 'MACHINERY' AND l_extendedprice BETWEEN 5000 AND 40000)
        OR (c_mktsegment = 'AUTOMOBILE' AND l_extendedprice BETWEEN 10000 AND 50000))
      AND ((c_nationkey IN (0, 1, 2) AND l_quantity BETWEEN 0 AND 25)
        OR (c_nationkey IN (5, 6, 7) AND l_quantity BETWEEN 10 AND 40)
        OR (c_nationkey IN (10, 11, 12) AND l_quantity BETWEEN 20 AND 50))
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q65: (supplier, part) pairs whose revenue is at most 30% of that
# supplier's average per-part revenue — two-level aggregation joined back to
# the tiny per-supplier averages.
register_sql(
    "tpcds_q65",
    """
    WITH sp AS (
      SELECT l_suppkey, l_partkey, SUM(l_extendedprice) AS rev
      FROM lineitem GROUP BY 1, 2
    ), sa AS (
      SELECT l_suppkey, AVG(rev) AS avg_rev FROM sp GROUP BY 1
    )
    SELECT s_name, p_name, ROUND(rev, 2) AS rev
    FROM sp
    JOIN sa USING (l_suppkey)
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN part ON l_partkey = p_partkey
    WHERE rev <= 0.3 * avg_rev
    ORDER BY s_name, p_name, rev LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q69: store-channel-only customers — bought in the store channel in 1997
# but never in the web channel that year (EXISTS + NOT EXISTS -> semi +
# anti join), counted by segment with average balance.
register_sql(
    "tpcds_q69",
    """
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(AVG(c_acctbal), 2) AS avg_bal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
                  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
                      AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q88: eight half-hour activity slots (8:00-12:00) for two segments.
# Canonical Q88 cross-joins eight scalar COUNT(*) subqueries; this text is
# ONE pass of conditional counts over events.
register_sql(
    "tpcds_q88",
    """
    SELECT CAST(SUM(CASE WHEN h = 8 AND m < 30 THEN 1 ELSE 0 END) AS BIGINT) AS h8_00,
           CAST(SUM(CASE WHEN h = 8 AND m >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS h8_30,
           CAST(SUM(CASE WHEN h = 9 AND m < 30 THEN 1 ELSE 0 END) AS BIGINT) AS h9_00,
           CAST(SUM(CASE WHEN h = 9 AND m >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS h9_30,
           CAST(SUM(CASE WHEN h = 10 AND m < 30 THEN 1 ELSE 0 END) AS BIGINT) AS h10_00,
           CAST(SUM(CASE WHEN h = 10 AND m >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS h10_30,
           CAST(SUM(CASE WHEN h = 11 AND m < 30 THEN 1 ELSE 0 END) AS BIGINT) AS h11_00,
           CAST(SUM(CASE WHEN h = 11 AND m >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS h11_30
    FROM (
      SELECT EXTRACT(HOUR FROM ts) AS h, EXTRACT(MINUTE FROM ts) AS m
      FROM events JOIN customer ON user_id = c_custkey
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    )
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q91: returns loss by supplier nation ("call center") x month for
# overdrawn customers (c_acctbal < 0), 1997.
register_sql(
    "tpcds_q91",
    """
    SELECT n_name, CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS m,
           ROUND(SUM(l_extendedprice), 2) AS returns_loss
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE l_returnflag = 'R' AND c_acctbal < 0
      AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2
    ORDER BY returns_loss DESC, n_name, m LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q97: store/web customer-item overlap — DISTINCT (customer, part) sets per
# channel, FULL OUTER joined, counted into store-only / web-only / both.
register_sql(
    "tpcds_q97",
    """
    WITH ssci AS (
      SELECT DISTINCT o_custkey AS cust, l_partkey AS pk
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    ), wsci AS (
      SELECT DISTINCT o_custkey AS cust, l_partkey AS pk
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
    )
    SELECT CAST(SUM(CASE WHEN s.cust IS NOT NULL AND w.cust IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS store_only,
           CAST(SUM(CASE WHEN s.cust IS NULL AND w.cust IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS web_only,
           CAST(SUM(CASE WHEN s.cust IS NOT NULL AND w.cust IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS store_and_web
    FROM ssci s FULL OUTER JOIN wsci w ON s.cust = w.cust AND s.pk = w.pk
    """,
    tags=("tpcds", "tpcds-real"),
)


# ==========================================================================
# Batch 4 — the FINAL 16 queries: with these, every entry in the
# reference's included set (the 49 `#`-commented lines of
# resources/benchmark/tpcds/query_excludelist.cfg, 48 distinct queries +
# the 39a/39b pair) has an adapted, oracle-checked counterpart here.
#   Q26 catalog-channel per-brand averages (Q7's web sibling)
#   Q29 store buy -> return -> re-buy quantity chain
#   Q32 excessive discount inside a 90-day window, web channel
#   Q39b Q39's stricter-volatility variant
#   Q52 brand revenue by year for one month (Q42 sibling, year grain)
#   Q55 flat brand revenue for one month/year
#   Q62 ship-latency buckets by "ship mode" (order priority)
#   Q73 small-basket ticket counts (2-4 items)
#   Q81 customers returning > 1.2x their nation's average, 1998 supplier view
#   Q82 low-account-supplier parts in a size band that actually sold
#   Q83 per-part return counts across three month windows, joined
#   Q84 customer directory lookup by nation + balance band
#   Q85 banded web-return statistics per nation
#   Q94 web orders, >= 2 suppliers, nothing returned (Q16's web sibling)
#   Q95 web orders, >= 2 suppliers, WITH a returned item (Q94's dual)
#   Q99 latency buckets per (nation, priority, month-bucket)


# --------------------------------------------------------------------------
# Q26: per-brand averages for the web channel (priorities 4-5) and the
# FURNITURE segment — the catalog_sales sibling of Q7.
register_sql(
    "tpcds_q26",
    """
    SELECT p_brand,
           ROUND(AVG(l_quantity), 2) AS agg1,
           ROUND(AVG(l_extendedprice), 2) AS agg2,
           ROUND(AVG(l_discount), 2) AS agg3,
           ROUND(AVG(l_tax), 2) AS agg4
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN part ON l_partkey = p_partkey
    WHERE c_mktsegment = 'FURNITURE'
      AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
    GROUP BY p_brand ORDER BY p_brand LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q29: quantity chain — customers who bought (store, month 4/1997),
# returned (months 4-7), and re-bought (web, months 4-10); quantity sums
# per customer nation. Q25's quantity-grain sibling.
register_sql(
    "tpcds_q29",
    """
    WITH ss AS (
      SELECT o_custkey AS cust, l_quantity AS q
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag <> 'R' AND o_orderdate >= TIMESTAMP '1997-04-01' AND o_orderdate < TIMESTAMP '1997-05-01'
        AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    ), sr AS (
      SELECT o_custkey AS cust, l_quantity AS rq
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1997-04-01' AND o_orderdate < TIMESTAMP '1997-08-01'
    ), ws AS (
      SELECT o_custkey AS cust, l_quantity AS wq
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag <> 'R' AND o_orderdate >= TIMESTAMP '1997-04-01' AND o_orderdate < TIMESTAMP '1997-11-01'
        AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
    )
    SELECT n_name,
           ROUND(SUM(q), 2) AS store_qty,
           ROUND(SUM(rq), 2) AS return_qty,
           ROUND(SUM(wq), 2) AS web_qty
    FROM ss JOIN sr USING (cust) JOIN ws USING (cust)
    JOIN customer ON cust = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q32: excessive discount in a 90-day window on the web channel — lineitems
# discounted > 1.3x their part's window average.
register_sql(
    "tpcds_q32",
    """
    WITH win AS (
      SELECT l_partkey, l_discount, l_extendedprice
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= DATE '1997-03-01' AND o_orderdate < DATE '1997-05-30'
        AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
    )
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS excess_discount
    FROM win w1
    WHERE l_discount > 1.3 * (
      SELECT AVG(w2.l_discount) FROM win w2 WHERE w2.l_partkey = w1.l_partkey
    )
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q39b: Q39's stricter variant — the FIRST month must exceed a higher
# volatility bar (canonical 39b raises the cov floor on the first month).
register_sql(
    "tpcds_q39b",
    """
    WITH inv AS (
      SELECT l_suppkey, CAST(EXTRACT(MONTH FROM l_shipdate) AS INTEGER) AS m,
             ROUND(STDDEV_SAMP(l_quantity) / AVG(l_quantity), 4) AS cov
      FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT i1.l_suppkey AS suppkey, i1.m AS m1, i1.cov AS cov1,
           i2.m AS m2, i2.cov AS cov2
    FROM inv i1 JOIN inv i2 ON i1.l_suppkey = i2.l_suppkey AND i2.m = i1.m + 1
    WHERE i1.cov > 0.56 AND i2.cov > 0.5
    ORDER BY suppkey, m1 LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q52: brand revenue by ship year for one month (Q42's year-grain sibling).
register_sql(
    "tpcds_q52",
    f"""
    SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS d_year,
           p_brand, ROUND(SUM(l_extendedprice), 2) AS ext_price
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE {_any_year_month("l_shipdate", 12)} AND p_type = 'ECONOMY'
    GROUP BY 1, 2
    ORDER BY d_year, ext_price DESC, p_brand LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q55: flat brand revenue for one (month, year).
register_sql(
    "tpcds_q55",
    """
    SELECT p_brand, ROUND(SUM(l_extendedprice), 2) AS ext_price
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-08-01' AND l_shipdate < TIMESTAMP '1997-09-01'
    GROUP BY p_brand
    ORDER BY ext_price DESC, p_brand LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q62: ship-latency buckets per "ship mode" (order priority) — Q50 buckets
# by supplier nation; Q62's grouping column is the mode.
register_sql(
    "tpcds_q62",
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - o_orderdate) <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
           CAST(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - o_orderdate) BETWEEN 31 AND 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
           CAST(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - o_orderdate) BETWEEN 61 AND 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
           CAST(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - o_orderdate) BETWEEN 91 AND 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120,
           CAST(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - o_orderdate) > 120 THEN 1 ELSE 0 END) AS BIGINT) AS d_over_120
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q73: small-basket tickets — orders with 2-4 lineitems (Q34's low band).
register_sql(
    "tpcds_q73",
    """
    WITH per_order AS (
      SELECT o_orderkey, o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
      GROUP BY 1, 2
      HAVING COUNT(*) BETWEEN 2 AND 4
    )
    SELECT c_custkey, c_name, o_orderkey, cnt
    FROM per_order JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')
    ORDER BY c_custkey, o_orderkey LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q81: customers whose 1998 returns exceed 1.2x their nation's average
# (Q1's 1998 sibling, returning balance too).
register_sql(
    "tpcds_q81",
    """
    WITH ctr AS (
      SELECT o_custkey AS ctr_custkey, c_nationkey AS ctr_nationkey,
             ROUND(SUM(l_extendedprice), 2) AS ctr_total_return
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      GROUP BY 1, 2
    )
    SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal, ctr_total_return
    FROM ctr ctr1 JOIN customer ON ctr1.ctr_custkey = c_custkey
    WHERE ctr_total_return > (
      SELECT AVG(ctr_total_return) * 1.2 FROM ctr ctr2
      WHERE ctr1.ctr_nationkey = ctr2.ctr_nationkey
    )
    ORDER BY c_custkey LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q82: parts in a size band supplied by overdrawn suppliers that actually
# sold (Q37 with the supplier-side constraint instead of price).
register_sql(
    "tpcds_q82",
    """
    SELECT p_name, ROUND(p_retailprice, 2) AS p_retailprice
    FROM part
    WHERE p_size BETWEEN 30 AND 45
      AND p_partkey IN (
        SELECT l_partkey FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE s_acctbal < 0
          AND l_shipdate >= DATE '1998-01-01' AND l_shipdate < DATE '1998-03-02'
      )
    GROUP BY p_name, p_retailprice
    ORDER BY p_name, p_retailprice LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q83: per-part return counts across three month windows, joined on part —
# each channel CTE must see the same part for it to appear.
register_sql(
    "tpcds_q83",
    """
    WITH r1 AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c1
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
      GROUP BY 1
    ), r2 AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c2
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1997-04-01' AND o_orderdate < TIMESTAMP '1997-07-01'
      GROUP BY 1
    ), r3 AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c3
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1997-07-01' AND o_orderdate < TIMESTAMP '1997-10-01'
      GROUP BY 1
    )
    SELECT p_name, c1, c2, c3, CAST(c1 + c2 + c3 AS BIGINT) AS total
    FROM r1 JOIN r2 USING (l_partkey) JOIN r3 USING (l_partkey)
    JOIN part ON l_partkey = p_partkey
    ORDER BY total DESC, p_name LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q84: customer directory lookup — nation + balance band, formatted name.
register_sql(
    "tpcds_q84",
    """
    SELECT c_custkey, c_name || ' (' || n_name || ')' AS customer_id,
           ROUND(c_acctbal, 2) AS c_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE' AND c_acctbal BETWEEN 1000 AND 3000
    ORDER BY c_custkey LIMIT 100
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q85: banded web-return statistics per nation — OR'd (segment x quantity
# band) filters over returned web-channel lineitems.
register_sql(
    "tpcds_q85",
    """
    SELECT n_name,
           ROUND(AVG(l_quantity), 2) AS avg_qty,
           ROUND(AVG(l_extendedprice), 2) AS avg_price,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
      AND ((c_mktsegment = 'BUILDING' AND l_quantity BETWEEN 1 AND 20)
        OR (c_mktsegment = 'MACHINERY' AND l_quantity BETWEEN 10 AND 35)
        OR (c_mktsegment = 'FURNITURE' AND l_quantity BETWEEN 25 AND 50))
    GROUP BY n_name
    HAVING COUNT(*) >= 3
    ORDER BY n_name
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q94: web orders in a 60-day window with >= 2 distinct suppliers and no
# returned lineitem (Q16's web-channel sibling; same per-order window form).
register_sql(
    "tpcds_q94",
    """
    SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS order_count,
           ROUND(SUM(l_extendedprice), 2) AS total_price
    FROM (
      SELECT o_orderkey, l_extendedprice,
             MIN(l_suppkey) OVER (PARTITION BY l_orderkey) AS min_supp,
             MAX(l_suppkey) OVER (PARTITION BY l_orderkey) AS max_supp,
             MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               OVER (PARTITION BY l_orderkey) AS has_return
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= DATE '1998-05-01' AND o_orderdate < DATE '1998-07-01'
        AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
    ) per_order
    WHERE min_supp <> max_supp AND has_return = 0
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q95: Q94's dual — same window and channel, >= 2 suppliers AND at least one
# returned lineitem (canonical Q95 requires presence in web_returns).
register_sql(
    "tpcds_q95",
    """
    SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS order_count,
           ROUND(SUM(l_extendedprice), 2) AS total_price
    FROM (
      SELECT o_orderkey, l_extendedprice,
             MIN(l_suppkey) OVER (PARTITION BY l_orderkey) AS min_supp,
             MAX(l_suppkey) OVER (PARTITION BY l_orderkey) AS max_supp,
             MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               OVER (PARTITION BY l_orderkey) AS has_return
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= DATE '1998-05-01' AND o_orderdate < DATE '1998-07-01'
        AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
    ) per_order
    WHERE min_supp <> max_supp AND has_return = 1
    """,
    tags=("tpcds", "tpcds-real"),
)


# --------------------------------------------------------------------------
# Q99: latency buckets per (supplier nation, priority, half-year) — Q62's
# fully-crossed grouping.
register_sql(
    "tpcds_q99",
    """
    SELECT n_name, o_orderpriority,
           CAST(CASE WHEN EXTRACT(MONTH FROM o_orderdate) <= 6 THEN 1 ELSE 2 END AS INTEGER) AS half,
           CAST(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - o_orderdate) <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
           CAST(SUM(CASE WHEN EXTRACT(DAY FROM l_shipdate - o_orderdate) > 60 THEN 1 ELSE 0 END) AS BIGINT) AS d_over_60
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3 ORDER BY n_name, o_orderpriority, half
    """,
    tags=("tpcds", "tpcds-real"),
)


# ==========================================================================
# Batch 5 — ten REAL queries from the reference's EXCLUDED set (the 54
# queries hyrise cannot execute: window functions, ROLLUP/GROUPING,
# channel-union rollups — query_excludelist.cfg's uncommented lines).
# Spark runs all of them natively; each is adapted with the same schema
# mapping as batches 1-4 and oracle-checked. Together with the 49 included
# queries above, the engine covers BOTH halves of the reference's TPC-DS
# split — the half the reference runs, and the half it cannot.
#   Q5  multi-channel profit union rollup
#   Q12 revenue share within type over a 30-day window
#   Q36 gross-margin ROLLUP hierarchy with GROUPING() lochierarchy
#   Q47 monthly brand sales vs yearly average + neighbor months (windows)
#   Q51 cumulative store/web comparison via running sums + FULL OUTER
#   Q67 ROLLUP + per-group top-k ranking
#   Q70 state/nation ranking inside ROLLUP levels
#   Q86 rollup with RANK() within parent grouping
#   Q89 monthly category deviation from the year average
#   Q98 revenue share of each part within its type


# --------------------------------------------------------------------------
# Q5: profit-and-loss per channel (store/web = priority split, returns as
# loss), UNION ALL'd then rolled up by channel.
register_sql(
    "tpcds_q5",
    """
    WITH per AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'store channel'
                  ELSE 'web channel' END AS channel,
             CASE WHEN l_returnflag = 'R' THEN 0.0 ELSE l_extendedprice END AS sales,
             CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END AS returns_amt
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        AND o_orderpriority IN ('1-URGENT', '2-HIGH', '4-NOT SPECIFIED', '5-LOW')
    )
    SELECT channel,
           ROUND(SUM(sales), 2) AS sales,
           ROUND(SUM(returns_amt), 2) AS returns_amt,
           ROUND(SUM(sales) - SUM(returns_amt), 2) AS profit
    FROM per
    GROUP BY ROLLUP (channel)
    ORDER BY channel NULLS FIRST
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q12: each part's share of its type's revenue inside a 30-day window
# (SUM OVER PARTITION ratio — the canonical revenueratio query).
register_sql(
    "tpcds_q12",
    """
    WITH win AS (
      SELECT p_name, p_type, l_extendedprice
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= DATE '1997-05-01' AND l_shipdate < DATE '1997-05-31'
    ), per_part AS (
      SELECT p_name, p_type, SUM(l_extendedprice) AS itemrevenue
      FROM win GROUP BY p_name, p_type
    )
    SELECT p_name, p_type, ROUND(itemrevenue, 2) AS itemrevenue,
           ROUND(itemrevenue * 100.0 / SUM(itemrevenue) OVER (PARTITION BY p_type), 4) AS revenueratio
    FROM per_part
    ORDER BY p_type, revenueratio DESC, p_name LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q36: gross margin ROLLUP over (type, brand) with GROUPING()-derived
# hierarchy level — the lochierarchy query.
register_sql(
    "tpcds_q36",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount) / SUM(l_extendedprice), 6) AS gross_margin,
           p_type, p_brand,
           CAST(GROUPING(p_type) + GROUPING(p_brand) AS INTEGER) AS lochierarchy
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY ROLLUP (p_type, p_brand)
    ORDER BY lochierarchy DESC, p_type NULLS FIRST, p_brand NULLS FIRST
    LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q47: monthly brand sales vs the brand's yearly average, with the
# neighboring months' sales (LAG/LEAD + AVG OVER) — kept where deviation
# exceeds 10%.
register_sql(
    "tpcds_q47",
    """
    WITH monthly AS (
      SELECT p_brand, CAST(EXTRACT(MONTH FROM l_shipdate) AS INTEGER) AS m,
             ROUND(SUM(l_extendedprice), 2) AS sum_sales
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY 1, 2
    ), win AS (
      SELECT p_brand, m, sum_sales,
             ROUND(AVG(sum_sales) OVER (PARTITION BY p_brand), 2) AS avg_monthly_sales,
             LAG(sum_sales) OVER (PARTITION BY p_brand ORDER BY m) AS psum,
             LEAD(sum_sales) OVER (PARTITION BY p_brand ORDER BY m) AS nsum
      FROM monthly
    )
    SELECT p_brand, m, sum_sales, avg_monthly_sales, psum, nsum
    FROM win
    WHERE avg_monthly_sales > 0
      AND ABS(sum_sales - avg_monthly_sales) / avg_monthly_sales > 0.1
    ORDER BY p_brand, m LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q51: running store vs web revenue per nation by month; rows where the
# store's cumulative total overtakes the web's (running MAX/SUM + FULL
# OUTER between channels).
register_sql(
    "tpcds_q51",
    """
    WITH store AS (
      SELECT n_name, CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS m,
             SUM(o_totalprice) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      GROUP BY 1, 2
    ), web AS (
      SELECT n_name, CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS m,
             SUM(o_totalprice) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
      GROUP BY 1, 2
    ), joined AS (
      SELECT COALESCE(s.n_name, w.n_name) AS n_name,
             COALESCE(s.m, w.m) AS m,
             SUM(COALESCE(s.rev, 0)) OVER (PARTITION BY COALESCE(s.n_name, w.n_name)
                                           ORDER BY COALESCE(s.m, w.m)) AS store_cum,
             SUM(COALESCE(w.rev, 0)) OVER (PARTITION BY COALESCE(s.n_name, w.n_name)
                                           ORDER BY COALESCE(s.m, w.m)) AS web_cum
      FROM store s FULL OUTER JOIN web w ON s.n_name = w.n_name AND s.m = w.m
    )
    SELECT n_name, m, ROUND(store_cum, 2) AS store_cum, ROUND(web_cum, 2) AS web_cum
    FROM joined WHERE store_cum > web_cum
    ORDER BY n_name, m LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q67: ROLLUP over (type, brand, size-band) + RANK within type by revenue,
# keep top 5 per type — rollup feeding a ranked window.
register_sql(
    "tpcds_q67",
    """
    WITH rolled AS (
      SELECT p_type, p_brand, CAST(FLOOR(p_size / 10) AS INTEGER) AS size_band,
             ROUND(SUM(l_extendedprice), 2) AS sumsales
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY ROLLUP (p_type, p_brand, CAST(FLOOR(p_size / 10) AS INTEGER))
    ), ranked AS (
      SELECT p_type, p_brand, size_band, sumsales,
             RANK() OVER (PARTITION BY p_type ORDER BY sumsales DESC) AS rk
      FROM rolled
    )
    SELECT p_type, p_brand, size_band, sumsales, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    ORDER BY p_type NULLS FIRST, rk, p_brand NULLS FIRST, size_band NULLS FIRST
    LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q70: nation revenue ranking inside ROLLUP levels (region > nation), with
# RANK over the grouping level.
register_sql(
    "tpcds_q70",
    """
    WITH rolled AS (
      SELECT r_name, n_name,
             ROUND(SUM(o_totalprice), 2) AS total_sum,
             CAST(GROUPING(r_name) + GROUPING(n_name) AS INTEGER) AS lochierarchy
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      GROUP BY ROLLUP (r_name, n_name)
    )
    SELECT total_sum, r_name, n_name, lochierarchy,
           CAST(RANK() OVER (PARTITION BY lochierarchy, CASE WHEN lochierarchy = 0 THEN r_name END
                             ORDER BY total_sum DESC) AS BIGINT) AS rank_within_parent
    FROM rolled
    ORDER BY lochierarchy DESC, CASE WHEN lochierarchy = 0 THEN r_name END NULLS FIRST,
             rank_within_parent, n_name NULLS FIRST
    LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q86: two-level rollup (type > brand) of web-channel revenue with RANK
# within parent — Q70's item-side sibling.
register_sql(
    "tpcds_q86",
    """
    WITH rolled AS (
      SELECT p_type, p_brand,
             ROUND(SUM(l_extendedprice), 2) AS total_sum,
             CAST(GROUPING(p_type) + GROUPING(p_brand) AS INTEGER) AS lochierarchy
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
      WHERE o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
        AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY ROLLUP (p_type, p_brand)
    )
    SELECT total_sum, p_type, p_brand, lochierarchy,
           CAST(RANK() OVER (PARTITION BY lochierarchy, CASE WHEN lochierarchy = 0 THEN p_type END
                             ORDER BY total_sum DESC) AS BIGINT) AS rank_within_parent
    FROM rolled
    ORDER BY lochierarchy DESC, CASE WHEN lochierarchy = 0 THEN p_type END NULLS FIRST,
             rank_within_parent, p_brand NULLS FIRST
    LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q89: monthly (type, brand) sales vs that pair's yearly monthly average —
# kept where the deviation ratio is largest.
register_sql(
    "tpcds_q89",
    """
    WITH monthly AS (
      SELECT p_type, p_brand, CAST(EXTRACT(MONTH FROM l_shipdate) AS INTEGER) AS m,
             ROUND(SUM(l_extendedprice), 2) AS sum_sales
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
      GROUP BY 1, 2, 3
    ), win AS (
      SELECT p_type, p_brand, m, sum_sales,
             ROUND(AVG(sum_sales) OVER (PARTITION BY p_type, p_brand), 2) AS avg_monthly_sales
      FROM monthly
    )
    SELECT p_type, p_brand, m, sum_sales, avg_monthly_sales
    FROM win
    WHERE avg_monthly_sales <> 0
      AND ABS(sum_sales - avg_monthly_sales) / avg_monthly_sales > 0.3
    ORDER BY sum_sales - avg_monthly_sales, p_type, p_brand, m
    LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q98: each part's revenue share within its type, whole year (Q12 without
# the window constraint — the store-channel revenueratio).
register_sql(
    "tpcds_q98",
    """
    WITH per_part AS (
      SELECT p_name, p_type, SUM(l_extendedprice) AS itemrevenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
      GROUP BY p_name, p_type
    )
    SELECT p_name, p_type, ROUND(itemrevenue, 2) AS itemrevenue,
           ROUND(itemrevenue * 100.0 / SUM(itemrevenue) OVER (PARTITION BY p_type), 4) AS revenueratio
    FROM per_part
    ORDER BY p_type, p_name LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q22 (excluded set): average quantity ROLLUP over the part hierarchy
# (brand > type > size band) — the inventory-rollup query.
register_sql(
    "tpcds_q22",
    """
    SELECT p_brand, p_type, CAST(FLOOR(p_size / 10) AS INTEGER) AS size_band,
           ROUND(AVG(l_quantity), 4) AS qoh
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY ROLLUP (p_brand, p_type, CAST(FLOOR(p_size / 10) AS INTEGER))
    ORDER BY qoh, p_brand NULLS FIRST, p_type NULLS FIRST, size_band NULLS FIRST
    LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q53 (excluded set): quarterly manufacturer (brand) sales vs the brand's
# average quarter — kept where the ratio deviates.
register_sql(
    "tpcds_q53",
    """
    WITH quarterly AS (
      SELECT p_brand, CAST(EXTRACT(QUARTER FROM l_shipdate) AS INTEGER) AS q,
             ROUND(SUM(l_extendedprice), 2) AS sum_sales
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' AND p_type IN ('PROMO', 'ECONOMY')
      GROUP BY 1, 2
    ), win AS (
      SELECT p_brand, q, sum_sales,
             ROUND(AVG(sum_sales) OVER (PARTITION BY p_brand), 2) AS avg_quarterly_sales
      FROM quarterly
    )
    SELECT p_brand, q, sum_sales, avg_quarterly_sales
    FROM win
    WHERE avg_quarterly_sales > 0
      AND ABS(sum_sales - avg_quarterly_sales) / avg_quarterly_sales > 0.05
    ORDER BY avg_quarterly_sales, sum_sales, p_brand, q LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q57 (excluded set): Q47's sibling at supplier-nation grain — monthly
# nation sales vs yearly average with neighbor months.
register_sql(
    "tpcds_q57",
    """
    WITH monthly AS (
      SELECT n_name, CAST(EXTRACT(MONTH FROM l_shipdate) AS INTEGER) AS m,
             ROUND(SUM(l_extendedprice), 2) AS sum_sales
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
      GROUP BY 1, 2
    ), win AS (
      SELECT n_name, m, sum_sales,
             ROUND(AVG(sum_sales) OVER (PARTITION BY n_name), 2) AS avg_monthly_sales,
             LAG(sum_sales) OVER (PARTITION BY n_name ORDER BY m) AS psum,
             LEAD(sum_sales) OVER (PARTITION BY n_name ORDER BY m) AS nsum
      FROM monthly
    )
    SELECT n_name, m, sum_sales, avg_monthly_sales, psum, nsum
    FROM win
    WHERE avg_monthly_sales > 0
      AND ABS(sum_sales - avg_monthly_sales) / avg_monthly_sales > 0.1
    ORDER BY n_name, m LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q74 (excluded set): customers whose web-channel year-over-year growth
# beats their store-channel growth (per-customer two-year two-channel
# pivot + ratio compare — the year-over-year self-join family). The pivot
# aggregates the order rows once; a pre-aggregation by (customer, channel,
# year) adds an Exchange and sums nothing the pivot does not (same in q31).
register_sql(
    "tpcds_q74",
    """
    WITH totals AS (
      SELECT o_custkey,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'store' ELSE 'web' END AS channel,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS y,
             o_totalprice AS total
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
        AND o_orderpriority IN ('1-URGENT', '2-HIGH', '4-NOT SPECIFIED', '5-LOW')
    ), piv AS (
      SELECT o_custkey,
             SUM(CASE WHEN channel = 'store' AND y = 1997 THEN total ELSE 0 END) AS s1,
             SUM(CASE WHEN channel = 'store' AND y = 1998 THEN total ELSE 0 END) AS s2,
             SUM(CASE WHEN channel = 'web' AND y = 1997 THEN total ELSE 0 END) AS w1,
             SUM(CASE WHEN channel = 'web' AND y = 1998 THEN total ELSE 0 END) AS w2
      FROM totals GROUP BY o_custkey
    )
    SELECT p.o_custkey AS c_custkey, c_name,
           ROUND(w2 / w1, 4) AS web_growth, ROUND(s2 / s1, 4) AS store_growth
    FROM piv p JOIN customer ON p.o_custkey = c_custkey
    WHERE s1 > 0 AND w1 > 0 AND s2 > 0 AND w2 > 0 AND w2 / w1 > s2 / s1
    ORDER BY c_custkey LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q27 (excluded set): demographic-slice averages rolled up over customer
# nation (ROLLUP variant of Q7's shape).
register_sql(
    "tpcds_q27",
    """
    SELECT n_name,
           ROUND(AVG(l_quantity), 2) AS agg1,
           ROUND(AVG(l_extendedprice), 2) AS agg2,
           ROUND(AVG(l_discount), 2) AS agg3
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_mktsegment = 'BUILDING' AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY ROLLUP (n_name)
    ORDER BY n_name NULLS FIRST
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q38 (excluded set): customers active in ALL THREE priority channels in
# one year — INTERSECT chain.
register_sql(
    "tpcds_q38",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      SELECT o_custkey FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      INTERSECT
      SELECT o_custkey FROM orders
      WHERE o_orderpriority = '3-MEDIUM' AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      INTERSECT
      SELECT o_custkey FROM orders
      WHERE o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW') AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q59 (excluded set): weekly revenue per supplier nation, 1997 vs 1998
# pivoted into per-week ratio columns (the week-over-week YoY query).
register_sql(
    "tpcds_q59",
    """
    WITH ship AS (
      SELECT n_name, l_shipdate, l_extendedprice
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
    ), w1997 AS (
      SELECT n_name, CAST(EXTRACT(WEEK FROM l_shipdate) AS INTEGER) AS wk,
             SUM(l_extendedprice) AS rev
      FROM ship
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY 1, 2
    ), w1998 AS (
      SELECT n_name, CAST(EXTRACT(WEEK FROM l_shipdate) AS INTEGER) AS wk,
             SUM(l_extendedprice) AS rev
      FROM ship
      WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
      GROUP BY 1, 2
    )
    SELECT a.n_name, a.wk, ROUND(a.rev, 2) AS rev_1997, ROUND(b.rev, 2) AS rev_1998,
           ROUND(b.rev / a.rev, 4) AS yoy
    FROM w1997 a JOIN w1998 b ON a.n_name = b.n_name AND a.wk = b.wk
    WHERE a.rev > 0
    ORDER BY a.n_name, a.wk LIMIT 200
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q75 (excluded set): year-over-year net sales (returns negated) per brand;
# brands whose 1998 net fell below 90% of 1997.
register_sql(
    "tpcds_q75",
    """
    WITH sales AS (
      SELECT p_brand, o_orderdate,
             CASE WHEN l_returnflag = 'R' THEN -l_extendedprice ELSE l_extendedprice END AS net
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
    ), cur AS (
      SELECT p_brand, SUM(net) AS amt FROM sales
      WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      GROUP BY p_brand
    ), prev AS (
      SELECT p_brand, SUM(net) AS amt FROM sales
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY p_brand
    )
    SELECT cur.p_brand,
           ROUND(prev.amt, 2) AS prev_amt, ROUND(cur.amt, 2) AS cur_amt,
           ROUND(cur.amt - prev.amt, 2) AS sales_delta
    FROM cur JOIN prev ON cur.p_brand = prev.p_brand
    WHERE prev.amt > 0 AND cur.amt < prev.amt * 0.9
    ORDER BY sales_delta, cur.p_brand LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q76 (excluded set): UNION ALL of channel slices with a literal channel
# column, counted per (channel, year, quarter) — the all-channels census.
register_sql(
    "tpcds_q76",
    """
    WITH unioned AS (
      SELECT 'store' AS channel, o_orderdate, l_extendedprice
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      UNION ALL
      SELECT 'web' AS channel, o_orderdate, l_extendedprice
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
      UNION ALL
      SELECT 'catalog' AS channel, o_orderdate, l_extendedprice
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '3-MEDIUM'
    )
    SELECT channel, CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS y,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS INTEGER) AS q,
           CAST(COUNT(*) AS BIGINT) AS sales_cnt,
           ROUND(SUM(l_extendedprice), 2) AS sales_amt
    FROM unioned
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3 ORDER BY channel, y, q
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q87 (excluded set): store customers NOT in the catalog channel and NOT in
# the web channel — EXCEPT chain (Q38's dual).
register_sql(
    "tpcds_q87",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      EXCEPT
      SELECT o_custkey FROM orders
      WHERE o_orderpriority = '3-MEDIUM' AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      EXCEPT
      SELECT o_custkey FROM orders
      WHERE o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW') AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# ==========================================================================
# Round-4 batch: the remaining 31 excluded-set queries -> TPC-DS 99/99.
# Channel convention throughout (established by Q10/Q74/Q76): store =
# priorities 1-URGENT/2-HIGH, catalog = 3-MEDIUM, web = 4-NOT SPECIFIED/5-LOW
# (tpcds_benchmark.cpp loads the real channels; query_excludelist.cfg marks
# these queries as unexecutable in the reference).
# ==========================================================================

# --------------------------------------------------------------------------
# Q2 (excluded set): web+catalog revenue per (year, week) pivoted to the
# seven weekdays; 1998-over-1997 ratio per weekday, week-aligned. One CTE
# per year, each with its own date range: a shared CTE grouped by year and
# self-joined on `y = 1997` / `y = 1998` pushes only year() = Y into each
# side (no scan bound) and adds an Exchange per side (same for q59, q64,
# q75).
register_sql(
    "tpcds_q2",
    """
    WITH sales AS (
      SELECT o_orderdate, EXTRACT(WEEK FROM o_orderdate) AS w,
             EXTRACT(DAY FROM o_orderdate - TIMESTAMP '1970-01-04') % 7 AS dow,
             l_extendedprice AS price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority IN ('3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')
    ), wk1997 AS (
      SELECT w, SUM(CASE WHEN dow = 0 THEN price ELSE 0 END) AS sun,
             SUM(CASE WHEN dow = 1 THEN price ELSE 0 END) AS mon,
             SUM(CASE WHEN dow = 2 THEN price ELSE 0 END) AS tue,
             SUM(CASE WHEN dow = 3 THEN price ELSE 0 END) AS wed,
             SUM(CASE WHEN dow = 4 THEN price ELSE 0 END) AS thu,
             SUM(CASE WHEN dow = 5 THEN price ELSE 0 END) AS fri,
             SUM(CASE WHEN dow = 6 THEN price ELSE 0 END) AS sat
      FROM sales
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY w
    ), wk1998 AS (
      SELECT w, SUM(CASE WHEN dow = 0 THEN price ELSE 0 END) AS sun,
             SUM(CASE WHEN dow = 1 THEN price ELSE 0 END) AS mon,
             SUM(CASE WHEN dow = 2 THEN price ELSE 0 END) AS tue,
             SUM(CASE WHEN dow = 3 THEN price ELSE 0 END) AS wed,
             SUM(CASE WHEN dow = 4 THEN price ELSE 0 END) AS thu,
             SUM(CASE WHEN dow = 5 THEN price ELSE 0 END) AS fri,
             SUM(CASE WHEN dow = 6 THEN price ELSE 0 END) AS sat
      FROM sales
      WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      GROUP BY w
    )
    SELECT CAST(a.w AS INTEGER) AS wk,
           ROUND(b.sun / NULLIF(a.sun, 0), 4) AS sun_r,
           ROUND(b.mon / NULLIF(a.mon, 0), 4) AS mon_r,
           ROUND(b.tue / NULLIF(a.tue, 0), 4) AS tue_r,
           ROUND(b.wed / NULLIF(a.wed, 0), 4) AS wed_r,
           ROUND(b.thu / NULLIF(a.thu, 0), 4) AS thu_r,
           ROUND(b.fri / NULLIF(a.fri, 0), 4) AS fri_r,
           ROUND(b.sat / NULLIF(a.sat, 0), 4) AS sat_r
    FROM wk1997 a JOIN wk1998 b ON a.w = b.w
    ORDER BY wk
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q4 (excluded set): customers whose catalog-channel year-over-year growth
# beats BOTH their store and web growth (three-channel Q74 extension; net
# lineitem revenue, not order totals).
register_sql(
    "tpcds_q4",
    """
    WITH yt AS (
      SELECT o_custkey AS ck,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'store'
                  WHEN o_orderpriority = '3-MEDIUM' THEN 'catalog' ELSE 'web' END AS channel,
             EXTRACT(YEAR FROM o_orderdate) AS y,
             SUM(l_extendedprice * (1 - l_discount)) AS total
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      GROUP BY 1, 2, 3
    ), p AS (
      SELECT ck,
             SUM(CASE WHEN channel = 'store' AND y = 1997 THEN total ELSE 0 END) AS s1,
             SUM(CASE WHEN channel = 'store' AND y = 1998 THEN total ELSE 0 END) AS s2,
             SUM(CASE WHEN channel = 'catalog' AND y = 1997 THEN total ELSE 0 END) AS c1,
             SUM(CASE WHEN channel = 'catalog' AND y = 1998 THEN total ELSE 0 END) AS c2,
             SUM(CASE WHEN channel = 'web' AND y = 1997 THEN total ELSE 0 END) AS w1,
             SUM(CASE WHEN channel = 'web' AND y = 1998 THEN total ELSE 0 END) AS w2
      FROM yt GROUP BY ck
    )
    SELECT c_custkey, c_name
    FROM p JOIN customer ON ck = c_custkey
    WHERE s1 > 0 AND c1 > 0 AND w1 > 0
      AND c2 / c1 > s2 / s1 AND c2 / c1 > w2 / w1
    ORDER BY c_custkey LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q8 (excluded set): supplier-nation revenue restricted to nations that are
# BOTH in a literal list AND have >= 10 preferred (high-balance) customers —
# the zip-list INTERSECT preferred-customer-zips shape.
register_sql(
    "tpcds_q8",
    """
    WITH pref AS (
      SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE c_acctbal > 5000 GROUP BY n_name HAVING COUNT(*) >= 3
    ), chosen AS (
      SELECT n_name FROM (VALUES ('NATION_1'), ('NATION_3'), ('NATION_5'), ('NATION_7'),
                                 ('NATION_9'), ('NATION_11'), ('NATION_13'), ('NATION_15'),
                                 ('NATION_17'), ('NATION_19'), ('NATION_21'), ('NATION_23')) v(n_name)
      INTERSECT SELECT n_name FROM pref
    )
    SELECT nation.n_name, ROUND(SUM(l_extendedprice), 2) AS net_profit
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN chosen ON nation.n_name = chosen.n_name
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
    GROUP BY nation.n_name ORDER BY nation.n_name
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q11 (excluded set): customers whose web-channel year-over-year NET-revenue
# growth beats their store growth (Q74 at order-total grain; this one at
# discounted lineitem grain, reporting names).
register_sql(
    "tpcds_q11",
    """
    WITH yt AS (
      SELECT o_custkey AS ck,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'store'
                  WHEN o_orderpriority = '3-MEDIUM' THEN 'catalog' ELSE 'web' END AS channel,
             EXTRACT(YEAR FROM o_orderdate) AS y,
             SUM(l_extendedprice * (1 - l_discount)) AS total
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      GROUP BY 1, 2, 3
    ), p AS (
      SELECT ck,
             SUM(CASE WHEN channel = 'store' AND y = 1997 THEN total ELSE 0 END) AS s1,
             SUM(CASE WHEN channel = 'store' AND y = 1998 THEN total ELSE 0 END) AS s2,
             SUM(CASE WHEN channel = 'web' AND y = 1997 THEN total ELSE 0 END) AS w1,
             SUM(CASE WHEN channel = 'web' AND y = 1998 THEN total ELSE 0 END) AS w2
      FROM yt GROUP BY ck
    )
    SELECT c_custkey, c_name, c_mktsegment
    FROM p JOIN customer ON ck = c_custkey
    WHERE s1 > 0 AND w1 > 0 AND w2 / w1 > s2 / s1
    ORDER BY c_custkey LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q14 (excluded set): cross_items = parts sold through ALL THREE channels in
# 1997; 1998 per-(channel, brand) sales of those parts kept only above the
# 1997 all-channel average sale (scalar subquery threshold). The canonical
# INTERSECT chain of three per-channel DISTINCT sets is written as ONE
# GROUP BY over the 1997 lineitem x orders join with a per-channel MAX flag in
# HAVING (same part set): the INTERSECT form re-ran that join for each of its
# four consumers, 18 Exchanges and 1.26x the time of the old DataFrame
# builder's checkpoint hub; this form plans 6 Exchanges and ran 0.81x that
# builder (tools/ab_interleave.py --gc, sf0.1, 5 runs, 4 cores).
register_sql(
    "tpcds_q14",
    """
    WITH lo97 AS (
      SELECT o_orderpriority, l_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    ), cross_items AS (
      SELECT l_partkey AS pk FROM lo97 GROUP BY l_partkey
      HAVING MAX(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) = 1
         AND MAX(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) = 1
         AND MAX(CASE WHEN o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW') THEN 1 ELSE 0 END) = 1
    ), avg_sales AS (
      SELECT AVG(l_quantity * l_extendedprice) AS average_sales FROM lo97
    ), ch AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'store'
                  WHEN o_orderpriority = '3-MEDIUM' THEN 'catalog' ELSE 'web' END AS channel,
             p_brand, SUM(l_quantity * l_extendedprice) AS sales,
             COUNT(*) AS number_sales
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
      WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
        AND l_partkey IN (SELECT pk FROM cross_items)
      GROUP BY 1, 2
    )
    SELECT channel, p_brand, ROUND(sales, 2) AS sales,
           CAST(number_sales AS BIGINT) AS number_sales
    FROM ch, avg_sales WHERE sales > average_sales
    ORDER BY channel, p_brand LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q18 (excluded set): catalog-channel averages (quantity, price, discount,
# account balance) ROLLUP'd over region > nation > segment.
register_sql(
    "tpcds_q18",
    """
    -- averages computed as exact-decimal SUM -> double -> /COUNT, truncated
    -- with FLOOR(x*100)/100: every step is IEEE double arithmetic on
    -- identical inputs, so both engines agree bit-for-bit. (ROUND diverges:
    -- a count=2 average of 2-decimal values lands on exact .005 midpoints,
    -- where DuckDB's scaled-multiply rounds down and Spark's BigDecimal
    -- rounds up.)
    SELECT r_name, n_name, c_mktsegment AS segment,
           FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) * 100) / 100 AS agg1,
           FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) * 100) / 100 AS agg2,
           FLOOR(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) * 100) / 100 AS agg3,
           FLOOR(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) * 100) / 100 AS agg4
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE o_orderpriority = '3-MEDIUM' AND o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY ROLLUP (r_name, n_name, c_mktsegment)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST, segment NULLS FIRST
    LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q20 (excluded set): catalog-channel revenue share of each part within its
# type over a 30-day ship window (Q12/Q98's catalog sibling).
register_sql(
    "tpcds_q20",
    """
    WITH s AS (
      SELECT p_name, p_type, p_retailprice, SUM(l_extendedprice) AS rev
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '3-MEDIUM'
        AND p_type IN ('ECONOMY', 'PROMO', 'STANDARD')
        AND l_shipdate >= TIMESTAMP '1997-02-01' AND l_shipdate < TIMESTAMP '1997-03-03'
      GROUP BY 1, 2, 3
    )
    SELECT p_name, p_type, p_retailprice, ROUND(rev, 2) AS itemrevenue,
           ROUND(rev * 100.0 / SUM(rev) OVER (PARTITION BY p_type), 4) AS revenueratio
    FROM s ORDER BY p_type, revenueratio DESC, p_name LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q21 (excluded set): per (supplier-nation "warehouse", brand) shipped
# quantity in the 30 days before vs after a pivot date; keep ratios within
# [2/3, 3/2] — the inventory before/after balance check.
register_sql(
    "tpcds_q21",
    """
    WITH m AS (
      SELECT n_name, p_brand,
             SUM(CASE WHEN l_shipdate < TIMESTAMP '1997-06-15' THEN l_quantity ELSE 0 END) AS inv_before,
             SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-06-15' THEN l_quantity ELSE 0 END) AS inv_after
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-05-16' AND l_shipdate < TIMESTAMP '1997-07-15'
      GROUP BY 1, 2
    )
    SELECT n_name, p_brand, ROUND(inv_before, 2) AS inv_before, ROUND(inv_after, 2) AS inv_after
    FROM m
    WHERE inv_before > 0 AND inv_after / inv_before >= CAST(2 AS DOUBLE) / 3
      AND inv_after / inv_before <= CAST(3 AS DOUBLE) / 2
    ORDER BY n_name, p_brand LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q23 (excluded set): frequent parts (sold on > 4 distinct ship days in
# 1997) x best customers (total sales > half the max customer) -> their
# February-1998 revenue. The CTE-ladder shape with two semi-join filters
# and a scalar MAX threshold.
register_sql(
    "tpcds_q23",
    """
    WITH frequent AS (
      SELECT l_partkey AS pk FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_partkey HAVING COUNT(DISTINCT CAST(l_shipdate AS DATE)) > 4
    ), best AS (
      SELECT o_custkey AS ck, SUM(l_quantity * l_extendedprice) AS sales
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1
    ), best_cut AS (
      SELECT ck FROM best WHERE sales > (SELECT 0.5 * MAX(sales) FROM best)
    )
    SELECT ROUND(SUM(l_extendedprice), 2) AS total
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1998-02-01' AND o_orderdate < TIMESTAMP '1998-03-01'
      AND l_partkey IN (SELECT pk FROM frequent)
      AND o_custkey IN (SELECT ck FROM best_cut)
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q24 (excluded set): returned lineitems paired with a NON-returned lineitem
# of the same (order, part) — the store_returns-matched-to-store_sales
# ticket+item join — netpaid per (customer, brand) kept above 5% of the
# all-pairs average.
register_sql(
    "tpcds_q24",
    """
    WITH pairs AS (
      SELECT c_name, p_brand, SUM(ret.l_extendedprice) AS netpaid
      FROM lineitem ret
      JOIN lineitem sold ON sold.l_orderkey = ret.l_orderkey
                        AND sold.l_partkey = ret.l_partkey
                        AND sold.l_linenumber <> ret.l_linenumber
      JOIN orders ON ret.l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN part ON ret.l_partkey = p_partkey
      WHERE ret.l_returnflag = 'R' AND sold.l_returnflag <> 'R'
      GROUP BY 1, 2
    )
    SELECT c_name, p_brand, ROUND(netpaid, 2) AS paid
    FROM pairs
    WHERE netpaid > (SELECT 0.05 * AVG(netpaid) FROM pairs)
    ORDER BY c_name, p_brand
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q30 (excluded set): web-channel returns per customer vs 1.2x their
# nation's average (Q1's web sibling, reporting customer detail).
register_sql(
    "tpcds_q30",
    """
    WITH ctr AS (
      SELECT o_custkey AS ck, c_nationkey AS nk, SUM(l_extendedprice) AS total_return
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE l_returnflag = 'R' AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
        AND o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      GROUP BY 1, 2
    )
    SELECT c_custkey, c_name, c_mktsegment, ROUND(total_return, 2) AS return_amt
    FROM ctr JOIN customer ON ck = c_custkey
    WHERE total_return > (
      SELECT AVG(total_return) * 1.2 FROM ctr c2 WHERE c2.nk = ctr.nk
    )
    ORDER BY c_custkey LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q33 (excluded set): per-brand revenue summed across all three channels
# (UNION ALL of channel aggregations) for one part type, one month.
register_sql(
    "tpcds_q33",
    """
    WITH ch AS (
      SELECT p_brand, SUM(l_extendedprice) AS total_sales
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN part ON l_partkey = p_partkey
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1998-03-01' AND o_orderdate < TIMESTAMP '1998-04-01'
      GROUP BY p_brand
      UNION ALL
      SELECT p_brand, SUM(l_extendedprice) AS total_sales
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN part ON l_partkey = p_partkey
      WHERE o_orderpriority = '3-MEDIUM' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1998-03-01' AND o_orderdate < TIMESTAMP '1998-04-01'
      GROUP BY p_brand
      UNION ALL
      SELECT p_brand, SUM(l_extendedprice) AS total_sales
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN part ON l_partkey = p_partkey
      WHERE o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW') AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1998-03-01' AND o_orderdate < TIMESTAMP '1998-04-01'
      GROUP BY p_brand
    )
    SELECT p_brand, ROUND(SUM(total_sales), 2) AS total_sales
    FROM ch GROUP BY p_brand ORDER BY p_brand
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q40 (excluded set): catalog net sales (returns negated) per (supplier
# nation, brand) split before/after a pivot date, for a retail-price band.
register_sql(
    "tpcds_q40",
    """
    SELECT n_name, p_brand,
           ROUND(SUM(CASE WHEN l_shipdate < TIMESTAMP '1997-06-15'
                          THEN CASE WHEN l_returnflag = 'R' THEN -l_extendedprice ELSE l_extendedprice END
                          ELSE 0 END), 2) AS sales_before,
           ROUND(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-06-15'
                          THEN CASE WHEN l_returnflag = 'R' THEN -l_extendedprice ELSE l_extendedprice END
                          ELSE 0 END), 2) AS sales_after
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN part ON l_partkey = p_partkey
    WHERE o_orderpriority = '3-MEDIUM'
      AND l_shipdate >= TIMESTAMP '1997-05-16' AND l_shipdate < TIMESTAMP '1997-07-15'
      AND p_retailprice BETWEEN 905 AND 995
    GROUP BY 1, 2 ORDER BY n_name, p_brand LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q44 (excluded set): ten best and ten worst parts by average net revenue,
# paired rank-to-rank (the ascending/descending ROW_NUMBER self-join).
register_sql(
    "tpcds_q44",
    """
    WITH perf AS (
      SELECT l_partkey AS pk, AVG(l_extendedprice * (1 - l_discount)) AS avg_net
      FROM lineitem GROUP BY 1
    ), ranked AS (
      SELECT pk,
             ROW_NUMBER() OVER (ORDER BY avg_net DESC, pk) AS rnk_best,
             ROW_NUMBER() OVER (ORDER BY avg_net ASC, pk) AS rnk_worst
      FROM perf
    )
    SELECT CAST(b.rnk_best AS INTEGER) AS rnk, bp.p_name AS best_performing,
           wp.p_name AS worst_performing
    FROM ranked b
    JOIN ranked w ON b.rnk_best = w.rnk_worst
    JOIN part bp ON b.pk = bp.p_partkey
    JOIN part wp ON w.pk = wp.p_partkey
    WHERE b.rnk_best <= 10
    ORDER BY rnk
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q46 (excluded set): weekend orders by customers in two segments buying
# from suppliers OUTSIDE their own nation ("bought in another city"), with
# per-order amount and tax sums.
register_sql(
    "tpcds_q46",
    """
    SELECT c_name, o_orderkey, ROUND(SUM(l_extendedprice), 2) AS amt,
           ROUND(SUM(l_tax), 2) AS tax_amt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')
      AND EXTRACT(DAY FROM o_orderdate - TIMESTAMP '1970-01-04') % 7 IN (0, 6)
      AND c_nationkey <> s_nationkey
    GROUP BY 1, 2 ORDER BY c_name, o_orderkey LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q49 (excluded set): worst return ratios per channel — top 10 by quantity
# ratio OR by amount ratio (dual ROW_NUMBER), one month.
register_sql(
    "tpcds_q49",
    """
    WITH per AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'store'
                  WHEN o_orderpriority = '3-MEDIUM' THEN 'catalog' ELSE 'web' END AS channel,
             l_partkey AS pk,
             SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) AS ret_qty,
             SUM(l_quantity) AS qty,
             SUM(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END) AS ret_amt,
             SUM(l_extendedprice) AS amt
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1998-02-01'
      GROUP BY 1, 2
    ), ranked AS (
      SELECT channel, pk, ROUND(ret_qty / qty, 4) AS return_ratio,
             CAST(ROW_NUMBER() OVER (PARTITION BY channel ORDER BY ret_qty / qty DESC, pk) AS INTEGER) AS return_rank,
             CAST(ROW_NUMBER() OVER (PARTITION BY channel ORDER BY ret_amt / amt DESC, pk) AS INTEGER) AS currency_rank
      FROM per
    )
    SELECT channel, pk AS item, return_ratio, return_rank, currency_rank
    FROM ranked WHERE return_rank <= 10 OR currency_rank <= 10
    ORDER BY channel, return_rank, pk
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q54 (excluded set): customers who bought in catalog/web in March 1997,
# bucketed by their store-channel revenue in the following quarter
# ($5000-wide revenue segments, count per segment).
register_sql(
    "tpcds_q54",
    """
    WITH my_customers AS (
      SELECT DISTINCT o_custkey AS ck FROM orders
      WHERE o_orderpriority IN ('3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')
        AND o_orderdate >= TIMESTAMP '1997-03-01' AND o_orderdate < TIMESTAMP '1997-04-01'
    ), rev AS (
      SELECT ck, SUM(l_extendedprice) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN my_customers ON o_custkey = ck
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        AND o_orderdate >= TIMESTAMP '1997-04-01' AND o_orderdate < TIMESTAMP '1997-07-01'
      GROUP BY ck
    )
    SELECT CAST(FLOOR(revenue / 5000) AS INTEGER) AS segment,
           CAST(COUNT(*) AS BIGINT) AS num_customers
    FROM rev GROUP BY 1 ORDER BY segment
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q56 (excluded set): Q33's sibling at part-name grain for the color-prefixed
# parts (p_name = '<color> <noun>'), February 1998, three channels summed.
register_sql(
    "tpcds_q56",
    """
    WITH ch AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'store'
                  WHEN o_orderpriority = '3-MEDIUM' THEN 'catalog' ELSE 'web' END AS channel,
             p_name, SUM(l_extendedprice) AS total_sales
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN part ON l_partkey = p_partkey
      WHERE (p_name LIKE 'red %' OR p_name LIKE 'blue %' OR p_name LIKE 'green %')
        AND o_orderdate >= TIMESTAMP '1998-02-01' AND o_orderdate < TIMESTAMP '1998-03-01'
      GROUP BY 1, 2
    )
    SELECT p_name, ROUND(SUM(total_sales), 2) AS total_sales
    FROM ch GROUP BY p_name ORDER BY p_name
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q58 (excluded set): parts whose revenue is BALANCED across all three
# channels over 1997 — each channel within 90%-110% of the three-channel
# average (a single month is too sparse at test SFs to balance).
register_sql(
    "tpcds_q58",
    """
    WITH per AS (
      SELECT l_partkey AS pk,
             SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN l_extendedprice ELSE 0 END) AS ss_rev,
             SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN l_extendedprice ELSE 0 END) AS cs_rev,
             SUM(CASE WHEN o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW') THEN l_extendedprice ELSE 0 END) AS ws_rev
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY 1
    )
    SELECT pk AS item, ROUND(ss_rev, 2) AS ss_rev, ROUND(cs_rev, 2) AS cs_rev,
           ROUND(ws_rev, 2) AS ws_rev
    FROM per
    WHERE ss_rev BETWEEN 0.9 * (ss_rev + cs_rev + ws_rev) / 3 AND 1.1 * (ss_rev + cs_rev + ws_rev) / 3
      AND cs_rev BETWEEN 0.9 * (ss_rev + cs_rev + ws_rev) / 3 AND 1.1 * (ss_rev + cs_rev + ws_rev) / 3
      AND ws_rev BETWEEN 0.9 * (ss_rev + cs_rev + ws_rev) / 3 AND 1.1 * (ss_rev + cs_rev + ws_rev) / 3
    ORDER BY item
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q60 (excluded set): Q33/Q56's sibling — per part-name revenue summed over
# the three channels for one part type, September 1997.
register_sql(
    "tpcds_q60",
    """
    WITH ch AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'store'
                  WHEN o_orderpriority = '3-MEDIUM' THEN 'catalog' ELSE 'web' END AS channel,
             p_name, SUM(l_extendedprice) AS total_sales
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN part ON l_partkey = p_partkey
      WHERE p_type = 'MEDIUM'
        AND o_orderdate >= TIMESTAMP '1997-09-01' AND o_orderdate < TIMESTAMP '1997-10-01'
      GROUP BY 1, 2
    )
    SELECT p_name, ROUND(SUM(total_sales), 2) AS total_sales
    FROM ch GROUP BY p_name ORDER BY total_sales DESC, p_name LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q61 (excluded set): promotional share of revenue — PROMO-part sales vs all
# sales for one region, one month (the two-scalar ratio report).
register_sql(
    "tpcds_q61",
    """
    SELECT ROUND(SUM(CASE WHEN p_type = 'PROMO' THEN l_extendedprice ELSE 0 END), 2) AS promotions,
           ROUND(SUM(l_extendedprice), 2) AS total,
           ROUND(SUM(CASE WHEN p_type = 'PROMO' THEN l_extendedprice ELSE 0 END) * 100.0
                 / SUM(l_extendedprice), 4) AS promo_pct
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1998-11-01' AND o_orderdate < TIMESTAMP '1998-12-01'
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q63 (excluded set): monthly sales per part-size band ("manager") vs that
# band's yearly monthly average; keep months deviating by more than 10%.
register_sql(
    "tpcds_q63",
    """
    WITH m AS (
      SELECT CAST(FLOOR((p_size - 1) / 10) AS INTEGER) AS mgr,
             CAST(EXTRACT(MONTH FROM l_shipdate) AS INTEGER) AS mo,
             SUM(l_extendedprice) AS sales
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        AND p_type IN ('ECONOMY', 'STANDARD', 'PROMO')
      GROUP BY 1, 2
    ), w AS (
      SELECT mgr, mo, sales, AVG(sales) OVER (PARTITION BY mgr) AS avg_monthly
      FROM m
    )
    SELECT mgr, mo, ROUND(sales, 2) AS sum_sales, ROUND(avg_monthly, 2) AS avg_monthly_sales
    FROM w
    WHERE avg_monthly > 0 AND ABS(sales - avg_monthly) / avg_monthly > 0.1
    ORDER BY mgr, mo
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q64 (excluded set): two-year (part, supplier-nation) store-channel net
# revenue for parts that were returned at least once — the same-item
# cross-year self-join where the later year must not grow.
register_sql(
    "tpcds_q64",
    """
    WITH returned_pk AS (
      SELECT DISTINCT l_partkey AS rpk FROM lineitem WHERE l_returnflag = 'R'
    ), sales AS (
      SELECT l_partkey AS pk, s_nationkey AS nk, o_orderdate,
             l_extendedprice * (1 - l_discount) AS amt
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN returned_pk ON l_partkey = rpk
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    ), s1 AS (
      SELECT pk, nk, SUM(amt) AS rev FROM sales
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY 1, 2
    ), s2 AS (
      SELECT pk, nk, SUM(amt) AS rev FROM sales
      WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      GROUP BY 1, 2
    )
    SELECT p_name, n_name, ROUND(s1.rev, 2) AS rev_1997, ROUND(s2.rev, 2) AS rev_1998
    FROM s1
    JOIN s2 ON s1.pk = s2.pk AND s1.nk = s2.nk
    JOIN part ON s1.pk = p_partkey
    JOIN nation ON s1.nk = n_nationkey
    WHERE s2.rev <= s1.rev
    ORDER BY p_name, n_name LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q66 (excluded set): supplier-nation ("warehouse") shipped quantity pivoted
# into 12 monthly columns, web + store channels combined (UNION ALL), 1997.
register_sql(
    "tpcds_q66",
    """
    WITH both_ch AS (
      SELECT n_name, EXTRACT(MONTH FROM l_shipdate) AS mo, l_quantity AS qty
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      UNION ALL
      SELECT n_name, EXTRACT(MONTH FROM l_shipdate) AS mo, l_quantity AS qty
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
        AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    )
    SELECT n_name,
           ROUND(SUM(CASE WHEN mo = 1 THEN qty ELSE 0 END), 2) AS jan,
           ROUND(SUM(CASE WHEN mo = 2 THEN qty ELSE 0 END), 2) AS feb,
           ROUND(SUM(CASE WHEN mo = 3 THEN qty ELSE 0 END), 2) AS mar,
           ROUND(SUM(CASE WHEN mo = 4 THEN qty ELSE 0 END), 2) AS apr,
           ROUND(SUM(CASE WHEN mo = 5 THEN qty ELSE 0 END), 2) AS may,
           ROUND(SUM(CASE WHEN mo = 6 THEN qty ELSE 0 END), 2) AS jun,
           ROUND(SUM(CASE WHEN mo = 7 THEN qty ELSE 0 END), 2) AS jul,
           ROUND(SUM(CASE WHEN mo = 8 THEN qty ELSE 0 END), 2) AS aug,
           ROUND(SUM(CASE WHEN mo = 9 THEN qty ELSE 0 END), 2) AS sep,
           ROUND(SUM(CASE WHEN mo = 10 THEN qty ELSE 0 END), 2) AS oct,
           ROUND(SUM(CASE WHEN mo = 11 THEN qty ELSE 0 END), 2) AS nov,
           ROUND(SUM(CASE WHEN mo = 12 THEN qty ELSE 0 END), 2) AS dec
    FROM both_ch GROUP BY n_name ORDER BY n_name
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q68 (excluded set): Q46's sibling — month-start orders for two other
# segments with out-of-nation suppliers, reporting price and tax per order.
# The day-of-month filter stays function-wrapped on purpose. Pushing it needs
# an OR of 108 per-month ranges, measured on sf0.1 at ~8 us/row (1.35 s vs
# 0.13 s on the orders scan; q68 0.39 s -> 1.5 s end to end), and it buys
# nothing on this data: TIMESTAMP_NTZ columns get no parquet row-group
# filtering in Spark 4.1 (tests/test_layout.py::
# test_date_sorted_layout_skips_row_groups). The scale path for day-of-month
# scans is the `layout.write_date_sorted` DATE relayout, where days 1-N of
# each month cluster into skippable row groups. Lint exception recorded in
# test_plan_quality._DATE_FN_FILTER_ALLOWLIST.
register_sql(
    "tpcds_q68",
    """
    SELECT c_name, o_orderkey, ROUND(SUM(l_extendedprice), 2) AS extended_price,
           ROUND(SUM(l_extendedprice * l_tax), 2) AS extended_tax
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      AND EXTRACT(DAY FROM o_orderdate) <= 3
      AND c_nationkey <> s_nationkey
    GROUP BY 1, 2 ORDER BY c_name, o_orderkey LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q71 (excluded set): revenue by hour inside the breakfast and dinner
# dayparts, per "brand" (event type) — on events, the only sub-day
# timestamps in the schema (time_dim analog; Q88/Q96 use the same mapping).
register_sql(
    "tpcds_q71",
    """
    SELECT event_type, CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS hr,
           CASE WHEN EXTRACT(HOUR FROM ts) BETWEEN 7 AND 8 THEN 'breakfast' ELSE 'dinner' END AS meal,
           ROUND(SUM(value), 2) AS ext_price
    FROM events
    WHERE EXTRACT(HOUR FROM ts) BETWEEN 7 AND 8 OR EXTRACT(HOUR FROM ts) BETWEEN 17 AND 18
    GROUP BY 1, 2, 3 ORDER BY event_type, hr
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q72 (excluded set): store-channel lineitems whose quantity exceeds 1.5x
# the supplier's average shipped quantity (the inventory-shortfall join),
# counted per (supplier nation, week).
register_sql(
    "tpcds_q72",
    """
    WITH sup_avg AS (
      SELECT l_suppkey AS sk, AVG(l_quantity) AS avg_qty FROM lineitem GROUP BY 1
    )
    SELECT n_name, CAST(EXTRACT(WEEK FROM o_orderdate) AS INTEGER) AS wk,
           CAST(COUNT(*) AS BIGINT) AS shortfall_cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN sup_avg ON l_suppkey = sk
    WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND l_quantity > 1.5 * avg_qty
    GROUP BY 1, 2 ORDER BY n_name, wk LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q77 (excluded set): per-channel sales / returns / profit by supplier
# nation with a ROLLUP total over (channel, nation) — the channel census
# with grand totals.
register_sql(
    "tpcds_q77",
    """
    WITH per AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'store'
                  WHEN o_orderpriority = '3-MEDIUM' THEN 'catalog' ELSE 'web' END AS channel,
             s_nationkey AS nk,
             SUM(CASE WHEN l_returnflag <> 'R' THEN l_extendedprice ELSE 0 END) AS sales,
             SUM(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END) AS returns
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY 1, 2
    )
    SELECT channel, nk AS id, ROUND(SUM(sales), 2) AS sales,
           ROUND(SUM(returns), 2) AS returns,
           ROUND(SUM(sales) - SUM(returns), 2) AS profit
    FROM per GROUP BY ROLLUP (channel, nk)
    ORDER BY channel NULLS FIRST, id NULLS FIRST LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q78 (excluded set): store vs web quantity per (year, customer) counting
# only never-returned lineitems; store/web ratio per customer-year.
register_sql(
    "tpcds_q78",
    """
    WITH nr AS (SELECT * FROM lineitem WHERE l_returnflag <> 'R'),
    ss AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS y, o_custkey AS ck,
             SUM(l_quantity) AS qty, SUM(l_extendedprice) AS amt
      FROM nr JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      GROUP BY 1, 2
    ), ws AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS y, o_custkey AS ck,
             SUM(l_quantity) AS qty, SUM(l_extendedprice) AS amt
      FROM nr JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
      GROUP BY 1, 2
    )
    SELECT ss.y AS y, ss.ck AS ck, ROUND(ss.qty, 2) AS ss_qty, ROUND(ws.qty, 2) AS ws_qty,
           ROUND(ss.qty / ws.qty, 4) AS ratio
    FROM ss JOIN ws ON ss.y = ws.y AND ss.ck = ws.ck
    WHERE ws.qty > 0
    ORDER BY y, ck LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q80 (excluded set): Q77's item-grain sibling — per-channel sales / returns
# / profit ROLLUP'd over (channel, brand) for high-price parts, one quarter.
register_sql(
    "tpcds_q80",
    """
    WITH per AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'store'
                  WHEN o_orderpriority = '3-MEDIUM' THEN 'catalog' ELSE 'web' END AS channel,
             p_brand,
             SUM(CASE WHEN l_returnflag <> 'R' THEN l_extendedprice ELSE 0 END) AS sales,
             SUM(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END) AS returns
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
      WHERE o_orderdate >= TIMESTAMP '1998-04-01' AND o_orderdate < TIMESTAMP '1998-07-01'
        AND p_retailprice > 910
      GROUP BY 1, 2
    )
    SELECT channel, p_brand, ROUND(SUM(sales), 2) AS sales,
           ROUND(SUM(returns), 2) AS returns,
           ROUND(SUM(sales) - SUM(returns), 2) AS profit
    FROM per GROUP BY ROLLUP (channel, p_brand)
    ORDER BY channel NULLS FIRST, p_brand NULLS FIRST LIMIT 100
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)


# --------------------------------------------------------------------------
# Q90 (excluded set): morning-vs-evening activity ratio — the am/pm count
# ratio over the sub-day event stream (web_page analog).
register_sql(
    "tpcds_q90",
    """
    SELECT ROUND(CAST(am.cnt AS DOUBLE) / pm.cnt, 4) AS am_pm_ratio
    FROM (SELECT COUNT(*) AS cnt FROM events
          WHERE EXTRACT(HOUR FROM ts) BETWEEN 8 AND 9 AND event_type = 'view') am,
         (SELECT COUNT(*) AS cnt FROM events
          WHERE EXTRACT(HOUR FROM ts) BETWEEN 19 AND 20 AND event_type = 'view') pm
    WHERE pm.cnt > 0
    """,
    tags=("tpcds", "tpcds-excluded-real"),
)
