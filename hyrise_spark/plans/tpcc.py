"""TPC-C — the reference's OLTP benchmark, adapted to the driver schema.

The reference ships TPC-C as a first-class suite
(src/benchmark/tpcc_benchmark.cpp; procedures in
src/benchmarklib/tpcc/procedures/*). Its five transactions split into:

  read-only  : OrderStatus, StockLevel      -> registered queries below
  read-write : NewOrder, Payment, Delivery  -> Engine DML sequences,
               exercised in tests/test_tpcc.py (BEGIN/COMMIT wrapped,
               the reference's transaction_manager.hpp surface)

Schema mapping (no warehouse/district/stock tables in the driver data):

  district        -> customer nation (the per-locality grouping unit)
  customer        -> customer
  orders / order_line -> orders / lineitem
  item            -> part
  stock s_quantity    -> p_size (the only per-part integer "level")

Like the reference ("we do not claim to report correctly calculated tpmC",
tpcc_benchmark.cpp:30), these preserve each procedure's *query shape* —
greatest-per-group latest order, last-20-orders low-stock distinct count —
not official tpmC semantics.

Scale note: OrderStatus is a per-customer window (shuffle by o_custkey,
then per-key top-1 — no global sort); StockLevel's "last 20 orders" window
partitions by nation (25 partitions at any SF — the window never sees more
than one nation's orders per partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hyrise_spark.catalog import load_tables
from hyrise_spark.registry import register, register_sql


# --------------------------------------------------------------------------
# OrderStatus (tpcc/procedures/tpcc_order_status.cpp): a customer's most
# recent order, with its line count and total amount. Run for every
# BUILDING-segment customer (the procedure's by-last-name variant selects a
# customer set, not a single key).
register_sql(
    "tpcc_order_status",
    """
    WITH latest AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    )
    SELECT c_custkey, c_name, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice,
           CAST(COUNT(l_linenumber) AS BIGINT) AS line_count,
           ROUND(SUM(l_extendedprice), 2) AS amount_sum
    FROM latest
    JOIN customer ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE rn = 1 AND c_mktsegment = 'BUILDING'
    GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
    ORDER BY c_custkey LIMIT 200
    """,
    tags=("tpcc",),
)


# --------------------------------------------------------------------------
# StockLevel (tpcc/procedures/tpcc_stock_level.cpp): distinct items in the
# district's last 20 orders whose stock is below a threshold. District ->
# customer nation, stock level -> p_size, threshold 15. `recent` carries
# n_name through the window; joining nation again after it added a
# BroadcastExchange (9 Exchanges against 8 at sf0.1).
register_sql(
    "tpcc_stock_level",
    """
    WITH recent AS (
      SELECT n_name, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY n_nationkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    )
    SELECT n_name, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS low_stock
    FROM recent
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN part ON l_partkey = p_partkey
    WHERE rn <= 20 AND p_size < 15
    GROUP BY n_name ORDER BY n_name
    """,
    tags=("tpcc",),
)


# --------------------------------------------------------------------------
# Read-write procedures as REGISTERED, oracle-checked queries (VERDICT r6
# task #4). Each builder runs its DML sequence through the Engine (the same
# statements tests/test_tpcc.py fuzzes) against scratch tables derived from
# the sf_dir parquet, then returns the procedure's post-state verification
# SELECT. The DuckDB oracle computes the identical post-state declaratively
# from the base tables, so the differential checks the whole sequence —
# routing, DML semantics, and the final read.
#
# Scale note: Engine DML is lazy snapshot-derivation (each statement derives
# a new DataFrame and re-registers the view), so the returned verification
# plan is an ordinary distributed plan over the base parquet + literal rows;
# nothing is materialized driver-side by the builders.
#
# These three keep their builders although Spark can run the oracle texts:
# the builder is the DML sequence under test and the text is its declared
# post-state, so running the text through spark.sql would check the text
# against itself. (tpcc_new_order's text also types o_totalprice as
# DECIMAL(5,2), where the builder's table holds a DOUBLE.)


def _engine_with(spark: SparkSession, sf_dir: str, *names: str):
    from hyrise_spark.engine import Engine

    load_tables(spark, sf_dir, tuple(names))  # registers temp views
    return Engine(spark)


# NewOrder (tpcc/procedures/tpcc_new_order.cpp): insert one order header +
# its order lines in a single transaction; the item set here is the 3
# cheapest parts (deterministic at any SF), the header a literal total.
@register(
    "tpcc_new_order",
    oracle="""
    WITH top3 AS (
      SELECT p_partkey FROM part ORDER BY p_retailprice, p_partkey LIMIT 3
    )
    SELECT CAST((SELECT MAX(o_orderkey) + 1 FROM orders) AS BIGINT) AS o_orderkey,
           CAST(1 AS BIGINT)      AS o_custkey,
           123.45                 AS o_totalprice,
           CAST(3 AS BIGINT)      AS line_count,
           CAST((SELECT SUM(p_partkey) FROM top3) AS BIGINT) AS part_sum
    """,
    tags=("tpcc", "dml"),
)
def tpcc_new_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine_with(spark, sf_dir, "orders", "lineitem", "part")
    eng.execute(
        """
        DROP TABLE IF EXISTS tpcc_no_orders;
        DROP TABLE IF EXISTS tpcc_no_lines;
        CREATE TABLE tpcc_no_orders AS
          SELECT o_orderkey, o_custkey, o_totalprice FROM orders;
        CREATE TABLE tpcc_no_lines AS
          SELECT l_orderkey AS ol_orderkey, l_linenumber AS ol_linenumber,
                 l_partkey AS ol_partkey
          FROM lineitem;
        BEGIN;
        INSERT INTO tpcc_no_orders
          SELECT (SELECT MAX(o_orderkey) + 1 FROM tpcc_no_orders), 1, 123.45;
        INSERT INTO tpcc_no_lines
          SELECT (SELECT MAX(o_orderkey) FROM tpcc_no_orders),
                 ROW_NUMBER() OVER (ORDER BY p_retailprice, p_partkey),
                 p_partkey
          FROM (SELECT p_partkey, p_retailprice FROM part
                ORDER BY p_retailprice, p_partkey LIMIT 3);
        COMMIT
        """
    )
    return eng.execute(
        """
        SELECT CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
               CAST(o.o_custkey AS BIGINT)  AS o_custkey,
               o.o_totalprice               AS o_totalprice,
               CAST(COUNT(l.ol_linenumber) AS BIGINT) AS line_count,
               CAST(SUM(l.ol_partkey) AS BIGINT)      AS part_sum
        FROM tpcc_no_orders o JOIN tpcc_no_lines l ON l.ol_orderkey = o.o_orderkey
        WHERE o.o_orderkey = (SELECT MAX(o_orderkey) FROM tpcc_no_orders)
        GROUP BY o.o_orderkey, o.o_custkey, o.o_totalprice
        """
    )


# Payment (tpcc/procedures/tpcc_payment.cpp): decrement the customer's
# balance, increment the year-to-date payment, in one transaction. Customer
# 42 pays 250.00; neighbors verify isolation of the predicate.
@register(
    "tpcc_payment",
    oracle="""
    SELECT c_custkey, c_name,
           ROUND(CASE WHEN c_custkey = 42
                      THEN ROUND(c_acctbal, 2) - 250.0
                      ELSE ROUND(c_acctbal, 2) END, 2)         AS c_balance,
           CAST(CASE WHEN c_custkey = 42 THEN 250.0 ELSE 0.0 END AS DOUBLE) AS c_ytd_payment
    FROM customer WHERE c_custkey IN (41, 42, 43)
    ORDER BY c_custkey
    """,
    tags=("tpcc", "dml"),
)
def tpcc_payment(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine_with(spark, sf_dir, "customer")
    eng.execute(
        """
        DROP TABLE IF EXISTS tpcc_pay_customer;
        CREATE TABLE tpcc_pay_customer AS
          SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_balance,
                 CAST(0.0 AS DOUBLE) AS c_ytd_payment
          FROM customer;
        BEGIN;
        UPDATE tpcc_pay_customer
           SET c_balance = ROUND(c_balance - 250.0, 2),
               c_ytd_payment = c_ytd_payment + 250.0
         WHERE c_custkey = 42;
        COMMIT
        """
    )
    return eng.execute(
        """
        SELECT c_custkey, c_name, c_balance, c_ytd_payment
        FROM tpcc_pay_customer WHERE c_custkey IN (41, 42, 43)
        ORDER BY c_custkey
        """
    )


# Delivery (tpcc/procedures/tpcc_delivery.cpp): take the customer's oldest
# open order, mark it delivered, credit its total to the customer balance —
# the reference's delete+insert composite (update.hpp:17-27) as two UPDATEs.
@register(
    "tpcc_delivery",
    oracle="""
    WITH oldest AS (
      SELECT MIN(o_orderkey) AS k FROM orders WHERE o_custkey = 7
    )
    SELECT CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
           'F' AS o_orderstatus,
           CAST(7 AS BIGINT) AS c_custkey,
           ROUND(ROUND(c.c_acctbal, 2) + ROUND(o.o_totalprice, 2), 2) AS c_balance
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_orderkey = (SELECT k FROM oldest)
    """,
    tags=("tpcc", "dml"),
)
def tpcc_delivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine_with(spark, sf_dir, "orders", "customer")
    eng.execute(
        """
        DROP TABLE IF EXISTS tpcc_del_orders;
        DROP TABLE IF EXISTS tpcc_del_customer;
        CREATE TABLE tpcc_del_orders AS
          SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice,
                 'O' AS o_orderstatus
          FROM orders;
        CREATE TABLE tpcc_del_customer AS
          SELECT c_custkey, ROUND(c_acctbal, 2) AS c_balance FROM customer;
        BEGIN;
        UPDATE tpcc_del_orders SET o_orderstatus = 'F'
         WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM tpcc_del_orders
                             WHERE o_custkey = 7);
        UPDATE tpcc_del_customer
           SET c_balance = ROUND(c_balance + (
                 SELECT o_totalprice FROM tpcc_del_orders
                 WHERE o_orderstatus = 'F' AND o_custkey = 7), 2)
         WHERE c_custkey = 7;
        COMMIT
        """
    )
    return eng.execute(
        """
        SELECT CAST(o.o_orderkey AS BIGINT) AS o_orderkey, o.o_orderstatus,
               CAST(c.c_custkey AS BIGINT) AS c_custkey, c.c_balance
        FROM tpcc_del_orders o JOIN tpcc_del_customer c ON c.c_custkey = o.o_custkey
        WHERE o.o_orderstatus = 'F'
        """
    )
