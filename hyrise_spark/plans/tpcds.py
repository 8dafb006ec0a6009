"""TPC-DS-style query shapes, adapted to the driver schema.

The reference runs ~45 of 99 TPC-DS queries and EXCLUDES 54 — mostly the
window/ROLLUP-dependent ones (/root/reference/resources/benchmark/tpcds/
query_excludelist.cfg; tpcds_benchmark.cpp:22-38) because its window operator
never executes (lqp_translator.cpp:523-526). This module implements exactly
those excluded *shapes* on the driver schema — the superset claim: every
query family the reference's benchmark suite skips runs here.

Each shape is one SQL text registered with `register_sql` (the DuckDB
oracle and the Spark builder), except `tpcds_dual_ranking`, whose hand
builder keeps a measured win (see its comment).

  tpcds_moving_avg_deviation   Q47/Q57: windowed moving average vs actual
  tpcds_rollup_hierarchy       Q36/Q67: ROLLUP + GROUPING() hierarchy level
  tpcds_cumulative_compare     Q51: two cumulative series, full-outer compare
  tpcds_time_buckets           Q88: N independent bucket counts in one row
  tpcds_frequent_buyers        Q34/Q73: HAVING count-band + dimension join
  tpcds_dual_ranking           Q49: union of two independent rankings
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hyrise_spark.catalog import load_tables
from hyrise_spark.registry import register, register_sql


# --------------------------------------------------------------------------
# Q47/Q57 shape: monthly revenue per brand; flag months deviating >20% from
# the 3-month moving average (window aggregate over an aggregate).
register_sql(
    "tpcds_moving_avg_deviation",
    """
    WITH monthly AS (
      SELECT p_brand,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS y,
             CAST(EXTRACT(MONTH FROM l_shipdate) AS INTEGER) AS m,
             ROUND(SUM(l_extendedprice), 2) AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
      GROUP BY 1, 2, 3
    ), win AS (
      SELECT p_brand, y, m, rev,
             ROUND(AVG(rev) OVER (PARTITION BY p_brand ORDER BY y, m
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS mavg,
             ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY y, m) AS rn
      FROM monthly
    )
    SELECT p_brand, y, m, rev, mavg
    FROM win
    WHERE rn >= 3 AND ABS(rev - mavg) / mavg > 0.2
    """,
    tags=("tpcds", "window"),
)


# --------------------------------------------------------------------------
# Q36/Q67 shape: profitability hierarchy via ROLLUP + GROUPING() level.
register_sql(
    "tpcds_rollup_hierarchy",
    """
    SELECT p_type, p_brand,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(GROUPING(p_type) + GROUPING(p_brand) AS INTEGER) AS lochierarchy
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size <= 5
    GROUP BY ROLLUP (p_type, p_brand)
    """,
    tags=("tpcds", "rollup"),
)


# --------------------------------------------------------------------------
# Q51 shape: two cumulative series (urgent vs low priority monthly revenue),
# full-outer aligned on month, keep months where one overtakes the other.
register_sql(
    "tpcds_cumulative_compare",
    """
    WITH urgent AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) * 100 + EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS ym,
             ROUND(SUM(o_totalprice), 2) AS rev
      FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
    ), low AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) * 100 + EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS ym,
             ROUND(SUM(o_totalprice), 2) AS rev
      FROM orders WHERE o_orderpriority = '5-LOW' GROUP BY 1
    ), cum AS (
      SELECT COALESCE(u.ym, l.ym) AS ym,
             ROUND(SUM(COALESCE(u.rev, 0)) OVER (ORDER BY COALESCE(u.ym, l.ym)), 2) AS cum_urgent,
             ROUND(SUM(COALESCE(l.rev, 0)) OVER (ORDER BY COALESCE(u.ym, l.ym)), 2) AS cum_low
      FROM urgent u FULL JOIN low l ON u.ym = l.ym
    )
    SELECT ym, cum_urgent, cum_low FROM cum WHERE cum_urgent > cum_low
    """,
    tags=("tpcds", "window", "full-outer"),
)


# --------------------------------------------------------------------------
# Q88 shape: independent bucket counts assembled into ONE row (the reference
# would run 8 scalar subqueries; here 4 conditional aggregations in one scan —
# the Spark-first form: one pass, no repeated scans).
register_sql(
    "tpcds_time_buckets",
    """
    SELECT CAST(SUM(CASE WHEN EXTRACT(HOUR FROM ts) < 6 THEN 1 ELSE 0 END) AS BIGINT) AS h_night,
           CAST(SUM(CASE WHEN EXTRACT(HOUR FROM ts) BETWEEN 6 AND 11 THEN 1 ELSE 0 END) AS BIGINT) AS h_morning,
           CAST(SUM(CASE WHEN EXTRACT(HOUR FROM ts) BETWEEN 12 AND 17 THEN 1 ELSE 0 END) AS BIGINT) AS h_afternoon,
           CAST(SUM(CASE WHEN EXTRACT(HOUR FROM ts) >= 18 THEN 1 ELSE 0 END) AS BIGINT) AS h_evening
    FROM events WHERE event_type = 'click'
    """,
    tags=("tpcds", "conditional-agg"),
)


# --------------------------------------------------------------------------
# Q34/Q73 shape: customers whose order count falls in a band.
register_sql(
    "tpcds_frequent_buyers",
    """
    SELECT c_custkey, c_name, CAST(cnt AS BIGINT) AS cnt
    FROM customer JOIN (
      SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
    ) o ON c_custkey = o_custkey
    WHERE cnt BETWEEN 15 AND 20
    ORDER BY cnt DESC, c_custkey
    """,
    tags=("tpcds", "having-band"),
)


# --------------------------------------------------------------------------
# Q49 shape: union of two independent top-10 rankings (by revenue, by qty).
# The one hand builder left in the TPC-DS suite. The oracle text's two global
# ROW_NUMBER windows fail the plan-hygiene lint (a single-task sort at
# scale). Its scale-safe SQL form (two ORDER BY ... LIMIT 10 candidate sets,
# ranks as 1 + |predecessors| over a cross join) re-aggregates lineitem for
# each of its three consumers: 4 Exchanges against this builder's 1, and
# 0.698 s vs 0.627 s (1.11x; tools/ab_interleave.py --gc, sf0.1, 5 runs,
# 4 cores). The builder's localCheckpoint aggregates lineitem once.
@register(
    "tpcds_dual_ranking",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS rev,
             ROUND(SUM(l_quantity), 2) AS qty
      FROM lineitem GROUP BY l_partkey
    ), ranked AS (
      SELECT l_partkey, rev, qty,
             ROW_NUMBER() OVER (ORDER BY rev DESC, l_partkey) AS rev_rank,
             ROW_NUMBER() OVER (ORDER BY qty DESC, l_partkey) AS qty_rank
      FROM per_part
    )
    SELECT l_partkey, rev, qty,
           CAST(rev_rank AS INT) AS rev_rank, CAST(qty_rank AS INT) AS qty_rank
    FROM ranked WHERE rev_rank <= 10 OR qty_rank <= 10
    """,
    tags=("tpcds", "window", "topk"),
)
def tpcds_dual_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The oracle's two GLOBAL row_number windows would sort every distinct part
    # in a single task at 100 TB. Scale-safe plan: each top-10 comes from
    # orderBy().limit(10) (TakeOrderedAndProject — per-partition top-k merge),
    # and each selected row's global rank on BOTH metrics is recovered exactly
    # as 1 + |predecessors| via one broadcast pass over the per-part aggregate:
    # the ≤20 candidate rows broadcast against per_part (BroadcastNestedLoop
    # with a constant-bounded build side), conditional partial-agg map-side, so
    # the shuffle carries ≤20 groups regardless of part count.
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    per_part = li.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("rev"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    # the aggregate feeds FOUR consumers (two TakeOrdered passes, the
    # candidate union, the predecessor-count scan) — materialize it once on
    # the executors instead of re-aggregating lineitem per consumer
    ).localCheckpoint(eager=False)
    top_rev = per_part.orderBy(F.col("rev").desc(), "l_partkey").limit(10)
    top_qty = per_part.orderBy(F.col("qty").desc(), "l_partkey").limit(10)
    cands = top_rev.unionByName(top_qty).distinct()
    c = cands.select(
        F.col("l_partkey").alias("c_pk"), F.col("rev").alias("c_rev"), F.col("qty").alias("c_qty")
    )
    r = per_part
    rev_before = (F.col("rev") > F.col("c_rev")) | (
        (F.col("rev") == F.col("c_rev")) & (F.col("l_partkey") < F.col("c_pk"))
    )
    qty_before = (F.col("qty") > F.col("c_qty")) | (
        (F.col("qty") == F.col("c_qty")) & (F.col("l_partkey") < F.col("c_pk"))
    )
    ranked = (
        r.crossJoin(F.broadcast(c))
        .groupBy("c_pk", "c_rev", "c_qty")
        .agg(
            (F.sum(rev_before.cast("long")) + 1).cast("int").alias("rev_rank"),
            (F.sum(qty_before.cast("long")) + 1).cast("int").alias("qty_rank"),
        )
        .select(
            F.col("c_pk").alias("l_partkey"),
            F.col("c_rev").alias("rev"),
            F.col("c_qty").alias("qty"),
            "rev_rank",
            "qty_rank",
        )
    )
    return ranked.filter((F.col("rev_rank") <= 10) | (F.col("qty_rank") <= 10))
