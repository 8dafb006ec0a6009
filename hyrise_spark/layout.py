"""Physical layout optimization — bucketed/sorted tables for co-located joins.

Reference analog: per-chunk sort metadata + binary-searchable sorted segments
(/root/reference/src/lib/storage/chunk.hpp:156-158, sorted_segment_search.hpp)
and chunk pruning statistics (chunk_pruning_rule.cpp). On Spark the same wins
come from table layout:

- **Bucketing** co-locates join keys: two tables bucketed by the same key
  into the same bucket count join WITHOUT a shuffle (the reference's radix
  partitioning done once at write time instead of per query).
- **sortBy within buckets** gives parquet row-group min/max that prune like
  the reference's sorted-segment binary search.

At 100 TB this is the difference between re-shuffling 100 TB per join and
shuffling nothing: fact tables bucketed by their join key amortize ONE
write-time shuffle across every subsequent query.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from hyrise_spark.catalog import read_parquet


def _drop_managed(spark: SparkSession, table_name: str) -> None:
    """Drop a managed table AND its warehouse directory.

    The in-memory catalog forgets tables between sessions but leaves their
    warehouse dirs behind; a later saveAsTable then fails with
    LOCATION_ALREADY_EXISTS. (A metastore-backed deployment doesn't hit this.)
    """
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    path = os.path.join(warehouse.removeprefix("file:"), table_name.lower())
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)


def create_analyzed_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = ("region", "nation", "customer", "orders", "lineitem"),
    prefix: str = "st_",
) -> dict[str, str]:
    """Persist parquet inputs as managed tables with FULL column statistics.

    This is the reference's attribute-statistics generation
    (src/lib/statistics/generate_pruning_statistics.hpp + histogram build in
    cardinality_estimator.hpp) done at layout time: `ANALYZE TABLE ... FOR ALL
    COLUMNS` computes row counts, per-column NDV/min/max/null counts and
    equi-height histograms (spark.sql.statistics.histogram.enabled), which the
    CBO uses for join reordering. Returns {logical_name: stats_table_name}.
    """
    from hyrise_spark.catalog import load_tables

    tabs = load_tables(spark, sf_dir, names)
    out: dict[str, str] = {}
    for name in names:
        tname = f"{prefix}{name}"
        _drop_managed(spark, tname)
        tabs[name].write.mode("overwrite").format("parquet").saveAsTable(tname)
        spark.sql(f"ANALYZE TABLE {tname} COMPUTE STATISTICS FOR ALL COLUMNS")
        out[name] = tname
    return out


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed + sorted managed table with ONE FILE PER BUCKET.

    The single-file-per-bucket repartition matters: Spark only propagates the
    bucket files' sort order into the plan (skipping the per-query Sort under
    a sort-merge join) when each bucket is exactly one file. Repartitioning by
    the bucket column uses the same hash as bucketBy, so every write task
    holds exactly one bucket's rows. Without this, every SMJ over the
    "sorted" table re-sorts both sides per query — at 100 TB that is the
    whole amortization lost.
    """
    import pyspark.sql.functions as F

    _drop_managed(df.sparkSession, table_name)
    (
        df.repartition(n_buckets, F.col(bucket_col))
        .write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(sort_col or bucket_col)
        .format("parquet")
        .saveAsTable(table_name)
    )


def bucketize_star_schema(
    spark: SparkSession, sf_dir: str, n_buckets: int = 16, prefix: str = "b_"
) -> dict[str, str]:
    """Bucket the fact tables on their join keys (lineitem/orders by orderkey).

    Returns {logical_name: bucketed_table_name}. Dimensions stay unbucketed —
    they broadcast.
    """
    from hyrise_spark.catalog import load_tables

    tabs = load_tables(spark, sf_dir, ("lineitem", "orders"))
    out: dict[str, str] = {}
    for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        tname = f"{prefix}{name}"
        write_bucketed(tabs[name], tname, key, n_buckets)
        out[name] = tname
    return out


def write_date_partitioned(
    df: DataFrame,
    table_name: str,
    ts_col: str,
    granularity: str = "month",
) -> None:
    """Persist with a date-derived PARTITION column (Hive-style directory
    partitioning) — the warehouse layout lever the reference approximates
    with per-chunk pruning statistics (chunk_pruning_rule.cpp): a time-band
    predicate prunes whole directories before any file is opened
    (PartitionFilters in the scan, vs row-group min/max which still lists
    and opens files). At 100 TB, date-partitioning the event/fact tables is
    the difference between listing ~3k day-directories and listing every
    file in the warehouse."""
    import pyspark.sql.functions as F

    _drop_managed(df.sparkSession, table_name)
    part = F.date_trunc(granularity, F.col(ts_col)).cast("date").alias("__pdate")
    (
        df.withColumn("__pdate", part)
        .write.mode("overwrite")
        .partitionBy("__pdate")
        .format("parquet")
        .saveAsTable(table_name)
    )


def write_date_sorted(
    df: DataFrame,
    path: str,
    ts_col: str,
    n_files: int = 8,
    block_size: int = 128 * 1024 * 1024,
) -> None:
    """Rewrite a fact range-partitioned + sorted by its time column, with the
    (day-aligned) timestamp column cast to DATE.

    Why the DATE cast: Spark 4.1 creates NO parquet FilterPredicate for
    TIMESTAMP_NTZ columns — `PushedFilters` in the plan lists the candidate
    data filters, but the parquet reader never uses row-group/page min-max
    stats for NTZ, so a date-range scan decodes EVERY row regardless of
    layout (measured: 15000/15000 rows decoded on a 12-row-group
    date-sorted NTZ file vs 1327/15000 after casting to a stats-supported
    type; tests/test_layout.py::test_date_sorted_layout_skips_row_groups
    pins both numbers). DATE (and plain TIMESTAMP/INT64) columns prune
    normally. The engine's fact timestamps are day-aligned, so the cast is
    lossless; at 100 TB this layout is the row-group-skip analog of the
    reference's sorted-segment binary search (chunk.hpp:156,
    sorted_segment_search.hpp), worth ~10x I/O on time-banded scans.

    `repartitionByRange` + `sortWithinPartitions` is the cluster-correct
    form: each output file owns a contiguous time band (file-level skip via
    min/max), rows inside are sorted (row-group-level skip).
    """
    import pyspark.sql.functions as F

    (
        df.withColumn(ts_col, F.col(ts_col).cast("date"))
        .repartitionByRange(n_files, F.col(ts_col))
        .sortWithinPartitions(ts_col)
        .write.option("parquet.block.size", block_size)
        .mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction (net-new warehouse maintenance, the lakehouse
    OPTIMIZE analog): rewrite a parquet directory into ceil(bytes/target)
    right-sized files. At 100 TB, streaming ingest and small-batch appends
    leave thousands of KB-scale files per table; scan cost then goes to task
    scheduling + footer reads instead of IO. One periodic compaction pass
    restores ~target-size files. Returns the output file count."""
    import glob
    import math

    total = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(src, "*.parquet"))
    ) or 1
    n = max(1, math.ceil(total / target_file_bytes))
    read_parquet(spark, src).repartition(n).write.mode("overwrite").parquet(dst)
    return n


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    n_files: int = 8,
    block_size: int = 128 * 1024 * 1024,
) -> None:
    """Rewrite a fact clustered on a Z-order (Morton) curve over `cols` —
    the multi-dimensional analog of write_date_sorted (lakehouse
    OPTIMIZE ZORDER BY).

    A single-column sort gives row-group skipping on one dimension and
    nothing on the others. Interleaving the bits of min-max-normalized
    keys makes rows that are close in EVERY dimension land in the same
    row groups, so parquet min/max stats prune banded predicates on ANY
    of the clustered columns (measured in
    tests/test_layout.py::test_zorder_layout_skips_on_both_dimensions).

    Mechanics: each column is normalized to [0, 2^bits) with one scalar
    min/max aggregate (ingest-time, one collect of 2*len(cols) values —
    not a query path), then the z-value interleaves bit b of column i at
    position b*ncols + i; the write range-partitions + sorts on z and
    drops it (clustering survives in the row-group stats of the original
    columns). Min-max normalization is the standard cheap rank proxy —
    uniform-ish keys (surrogate ids, dates) spread evenly; a heavily
    skewed key would want a rank-based variant.
    """
    import pyspark.sql.functions as F

    m = len(cols)
    # top interleaved bit position must stay below the long sign bit
    if bits * m > 63:
        raise ValueError(f"bits*len(cols) = {bits * m} exceeds 63 (long sign bit)")

    # Integer key expression per column; temporal keys normalize on the
    # epoch-day ordinal (day-grain clustering — the grain row-group stats
    # prune on). The min/max aggregate runs over the SAME key expressions
    # the z-value uses, entirely engine-side — collecting raw datetime
    # min/max and ordinal-izing them driver-side would re-interpret them in
    # the driver's system timezone, off-by-one-day vs the session-tz cast.
    dtypes = dict(df.dtypes)
    keys = {
        c: (
            F.datediff(
                F.col(c).cast("date"), F.lit("1970-01-01").cast("date")
            ).cast("long")
            if dtypes[c].startswith(("date", "timestamp"))
            else F.col(c).cast("long")
        )
        for c in cols
    }
    aggs = []
    for c in cols:
        aggs += [F.min(keys[c]).alias(f"mn_{c}"), F.max(keys[c]).alias(f"mx_{c}")]
    stats = df.agg(*aggs).collect()[0]  # ingest-time scalar, 2*ncols values
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        mn, mx = int(stats[f"mn_{c}"]), int(stats[f"mx_{c}"])
        span = max(1, mx - mn)
        norm = ((keys[c] - F.lit(mn)) * top / F.lit(span)).cast("long")
        for b in range(bits):
            z = z + F.shiftleft(
                F.shiftright(norm, b).bitwiseAND(F.lit(1)), b * m + i
            )
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.option("parquet.block.size", block_size)
        .mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# JCC-H skewed dataset (round 12) — the reference's fourth benchmark suite is
# the FULL TPC-H query set over skew-correlated data (`-j` flag,
# /root/reference/src/benchmark/tpch_benchmark.cpp:58-60, generated by
# src/benchmarklib/jcch/jcch_table_generator.cpp; Boncz et al., "JCC-H:
# adding join crossing correlations with skew to TPC-H", TPCTC 2017). No
# dbgen/JCC-H data exists in this sandbox, so the signature is INDUCED as a
# deterministic key rewrite of the driver's uniform tables and PERSISTED —
# physical parquet whose hot keys concentrate in real partitions, so AQE's
# runtime skew detection sees genuine skew, not a synthetic expression.

JCCH_HOT_FRACTION = "l_orderkey % 4 <> 0"  # 75% of rows, documented skew
JCCH_HOT_CUSTOMERS = 25


def write_jcch_skewed(spark: SparkSession, sf_dir: str,
                      out_dir: str | None = None) -> str:
    """Persist a JCC-H-style skewed copy of the TPC-H tables; returns its dir.

    Deterministic hot-key rewrite (75% of keys redirected — the JCC-H
    signature; the EXACT same arithmetic is replayed by the oracle-side
    CTEs in plans/jcch_suite.py, so every query stays hash-checkable):

      lineitem.l_suppkey -> 1                    when l_orderkey % 4 <> 0
                            (one supplier owns ~75% of all lineitems)
      orders.o_custkey   -> ((o_custkey-1) % 25) + 1
                                                 when o_orderkey % 4 <> 0
                            (25 hot customers own ~75% of all orders)
      customer.c_nationkey -> 1                  when c_custkey % 4 <> 0
                            (join-crossing correlation: one nation holds
                             ~75% of customers, so nation/region joins
                             inherit the skew downstream)

    Every other table is symlinked from the source directory (single-file
    parquet), so `load_tables(spark, out_dir)` serves the full schema.
    Written with decimal=False: the copy keeps the source's physical types
    and the session's DECIMAL_MODE applies at load time like everywhere
    else. Idempotent via a `_done` marker — bench.py builds this during
    its uncounted warm-up (write-time cost, paid once at ingest)."""
    import pyspark.sql.functions as F

    from hyrise_spark.catalog import TESTDATA_TABLES, load_tables

    name = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = out_dir or os.path.join("/tmp/hyrise_spark_jcch", name)
    if os.path.exists(os.path.join(out, "_done")):
        return out
    os.makedirs(out, exist_ok=True)
    tabs = load_tables(spark, sf_dir, ("lineitem", "orders", "customer"),
                       decimal=False)
    hot = F.col("l_orderkey") % 4 != 0
    (
        tabs["lineitem"]
        .withColumn(
            "l_suppkey",
            F.when(hot, F.lit(1).cast(dict(tabs["lineitem"].dtypes)["l_suppkey"]))
            .otherwise(F.col("l_suppkey")))
        .write.mode("overwrite").parquet(os.path.join(out, "lineitem.parquet"))
    )
    ohot = F.col("o_orderkey") % 4 != 0
    (
        tabs["orders"]
        .withColumn(
            "o_custkey",
            F.when(ohot, (F.col("o_custkey") - 1) % JCCH_HOT_CUSTOMERS + 1)
            .otherwise(F.col("o_custkey")))
        .write.mode("overwrite").parquet(os.path.join(out, "orders.parquet"))
    )
    chot = F.col("c_custkey") % 4 != 0
    (
        tabs["customer"]
        .withColumn(
            "c_nationkey",
            F.when(chot, F.lit(1).cast(dict(tabs["customer"].dtypes)["c_nationkey"]))
            .otherwise(F.col("c_nationkey")))
        .write.mode("overwrite").parquet(os.path.join(out, "customer.parquet"))
    )
    for t in TESTDATA_TABLES:
        if t in ("lineitem", "orders", "customer"):
            continue
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if os.path.exists(src) and not os.path.exists(dst):
            os.symlink(src, dst)
    with open(os.path.join(out, "_done"), "w") as fh:
        fh.write(sf_dir + "\n")
    return out


# ---------------------------------------------------------------------------
# Continuous aggregate (TimescaleDB-style) — a day-partitioned rollup table
# plus INCREMENTAL refresh. The matview REFRESH in engine.py recomputes the
# whole definition; at 100 TB the only viable maintenance is partition-level:
# recompute ONLY the days new data touched and swap those partitions in
# place (Spark's dynamic partitionOverwriteMode), leaving every other
# partition's files physically untouched — which the test asserts at the
# file level.


def _daily_rollup(events):
    import pyspark.sql.functions as F

    return events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
    )


def write_daily_rollup(events, path: str) -> None:
    """Full build: day-partitioned parquet rollup (one partial-agg pass)."""
    _daily_rollup(events).write.partitionBy("day").mode("overwrite").parquet(path)


def refresh_daily_rollup(spark, events, path: str, days: list[str]) -> None:
    """Incremental refresh: recompute ONLY `days` (ISO date strings) from the
    base table and dynamically overwrite just those partitions. Work is
    proportional to the dirty days' data — the base scan prunes on the
    partition column's date filter — not to the rollup's history."""
    import pyspark.sql.functions as F

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            _daily_rollup(
                events.filter(F.col("ts").cast("date").isin([str(d) for d in days]))
            )
            .write.partitionBy("day")
            .mode("overwrite")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
