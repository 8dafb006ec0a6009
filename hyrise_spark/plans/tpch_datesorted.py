"""Date-sorted-layout variants of TPC-H Q6 / SSB Q1.1 — the row-group-skip
demo grounding the round-5 NTZ finding.

TIMESTAMP_NTZ columns get no parquet stats filtering in Spark 4.1 (pinned in
tests/test_layout.py), so every date-banded scan in the plain suites decodes
the whole fact. `layout.write_date_sorted` (DATE cast + range-partition +
sort) is the fix; these registered variants run the exact tpch_q6 / ssb_q1_1
plans against the relaid table — same oracle SQL, same results, actual
row-group/file skipping. bench.py builds the layout during its uncounted
warm-up (the amortized ingest-time cost), so the timings measure the
query-time win.

At 100 TB: fact tables are ingested through this relayout (or
date-partitioned); every time-banded scan then reads only its band.
"""

from __future__ import annotations

import hashlib
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

import hyrise_spark.plans.ssb  # noqa: F401  (registers the oracles we reuse)
import hyrise_spark.plans.tpch  # noqa: F401
from hyrise_spark.catalog import load_tables, read_parquet
from hyrise_spark.registry import _REGISTRY, register

R2 = 2


def ensure_date_sorted(spark: SparkSession, sf_dir: str) -> str:
    """Create (once per warehouse x sf_dir) the date-sorted lineitem copy;
    returns its path. Idempotent: an existing layout is reused as-is."""
    from hyrise_spark.layout import write_date_sorted

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    path = os.path.join(warehouse.removeprefix("file:"), f"ds_{tag}_lineitem")
    # _SUCCESS is Spark's job-completion marker: a crashed/partial write
    # leaves the dir without it and must be rewritten, not silently reused
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
        write_date_sorted(li, path, "l_shipdate", n_files=8)
    return path


@register("tpch_q6_datesorted", oracle=_REGISTRY["tpch_q6"].oracle, tags=("tpch", "datesorted"))
def tpch_q6_datesorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet(spark, ensure_date_sorted(spark, sf_dir))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), R2).alias("revenue"))
    )


@register("ssb_q1_1_datesorted", oracle=_REGISTRY["ssb_q1_1"].oracle, tags=("ssb", "datesorted"))
def ssb_q1_1_datesorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet(spark, ensure_date_sorted(spark, sf_dir))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & F.col("l_discount").between(0.01, 0.03)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), R2).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# Z-order layout variant: multi-dimensional clustering (lakehouse
# OPTIMIZE ZORDER analog; layout.write_zordered). A conjunctive band on
# (l_partkey, l_suppkey) prunes row groups on BOTH dimensions — a
# single-column sort can only skip on its own column
# (tests/test_layout.py::test_zorder_layout_skips_on_both_dimensions pins
# the decode-count gap). Bands are low absolute ranges so they stay valid
# at every SF (keys start at 0 in the driver's testdata).


def ensure_zordered(spark: SparkSession, sf_dir: str) -> str:
    """Create (once per warehouse x sf_dir) the z-ordered lineitem copy on
    (l_partkey, l_suppkey); returns its path."""
    from hyrise_spark.layout import write_zordered

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    path = os.path.join(warehouse.removeprefix("file:"), f"zo_{tag}_lineitem")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
        write_zordered(li, path, ["l_partkey", "l_suppkey"], bits=8, n_files=8)
    return path


@register(
    "scan_multidim_zordered",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE l_partkey BETWEEN 50 AND 120 AND l_suppkey BETWEEN 2 AND 6
    GROUP BY l_returnflag
    """,
    tags=("scan", "zordered"),
)
def scan_multidim_zordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet(spark, ensure_zordered(spark, sf_dir))
    return (
        li.filter(
            F.col("l_partkey").between(50, 120) & F.col("l_suppkey").between(2, 6)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
    )
