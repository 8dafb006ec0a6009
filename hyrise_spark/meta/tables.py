"""Meta tables — catalog/storage introspection as queryable DataFrames.

Reference: 13 meta tables under /root/reference/src/lib/utils/meta_tables/
(meta_tables, meta_columns, meta_chunks, meta_segments, meta_settings,
meta_system_utilization, meta_plugins, ...), all exposed as `meta_*` virtual
tables resolved by the StorageManager. Here the Spark-meaningful subset is
materialized from spark.catalog + per-table partition stats; the
storage-internal ones (segments/chunk encodings) have no Spark analog —
their closest equivalents (files, partitions) are exposed instead.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def meta_tables(spark: SparkSession, catalog) -> DataFrame:
    """meta_tables: one row per registered table (meta_tables_table.hpp).
    Row count is computed lazily per table (an action at query time)."""
    rows = [
        (name, len(catalog.get_table(name).columns))
        for name in catalog.table_names()
    ]
    schema = StructType(
        [StructField("table_name", StringType()), StructField("column_count", LongType())]
    )
    return spark.createDataFrame(
        [(n, int(c)) for n, c in rows], schema
    )


def meta_columns(spark: SparkSession, catalog) -> DataFrame:
    """meta_columns: one row per column (meta_columns_table.hpp)."""
    rows = []
    for name in catalog.table_names():
        for f in catalog.get_table(name).schema.fields:
            rows.append((name, f.name, f.dataType.simpleString(), f.nullable))
    schema = StructType(
        [
            StructField("table_name", StringType()),
            StructField("column_name", StringType()),
            StructField("data_type", StringType()),
            StructField("nullable", StringType()),
        ]
    )
    return spark.createDataFrame([(t, c, d, str(n).lower()) for t, c, d, n in rows], schema)


def meta_partitions(spark: SparkSession, catalog) -> DataFrame:
    """Chunk-analog: one row per backing parquet file with row counts
    (meta_chunks_table.hpp maps to files-as-partitions here).

    SCAN-FREE by design: file lists come from the plan's FileIndex
    (`df.inputFiles()`, a listing — no job) and row counts from parquet
    FOOTER metadata via pyarrow. An introspection query must never read the
    warehouse — at 100 TB the old groupBy(spark_partition_id()).count()
    formulation would scan every registered table. Tables not backed by
    files (createDataFrame results) report a single row with NULL count
    rather than executing their plan.
    """
    import pyarrow.parquet as pq

    out = []
    for name in catalog.table_names():
        df = catalog.get_table(name)
        try:
            files = sorted(df.inputFiles())
        except Exception:
            files = []
        if not files:
            out.append((name, 0, None, None))
            continue
        for i, f in enumerate(files):
            path = f.removeprefix("file:")
            try:
                nrows = int(pq.ParquetFile(path).metadata.num_rows)
            except Exception:
                nrows = None  # non-parquet source: footer unavailable
            out.append((name, i, nrows, f))
    schema = StructType(
        [
            StructField("table_name", StringType()),
            StructField("partition_id", LongType()),
            StructField("row_count", LongType()),
            StructField("location", StringType()),
        ]
    )
    return spark.createDataFrame(out, schema)


def meta_settings(spark: SparkSession, catalog=None) -> DataFrame:
    """meta_settings (meta_settings_table.hpp): session confs as a table.

    Rows = every explicitly-set SQL conf (`SET` output — includes settings
    written via the ChangeMetaTable analog, Engine INSERT/UPDATE on this
    view) plus a fixed set of engine-relevant keys resolved to their
    effective values. Driver-derived; no executor work.
    """
    keys = [
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.session.timeZone",
        "spark.sql.ansi.enabled",
        "spark.sql.cbo.enabled",
    ]
    vals: dict[str, str | None] = {
        r["key"]: r["value"] for r in spark.sql("SET").collect()
    }
    for k in keys:
        if k not in vals:
            try:
                vals[k] = str(spark.conf.get(k))
            except Exception:
                vals[k] = None
    schema = StructType(
        [StructField("name", StringType()), StructField("value", StringType())]
    )
    return spark.createDataFrame(sorted(vals.items()), schema)


def _proc_kv_bytes(path: str, keys: tuple[str, ...]) -> dict[str, int]:
    """Parse 'Key:  N kB' lines from a /proc file into bytes; missing keys
    map to -1 (the reference Fails hard; a meta table should degrade)."""
    out = {k: -1 for k in keys}
    try:
        with open(path) as fh:
            for line in fh:
                for k in keys:
                    if line.startswith(k):
                        out[k] = int(line.split()[1]) * 1024
    except OSError:
        pass
    return out


def meta_system_utilization(spark: SparkSession, catalog=None) -> DataFrame:
    """meta_system_utilization — field-by-field parity with the reference
    (meta_system_utilization_table.cpp:46-280), measured against the JVM
    process (where this engine actually executes), plus three Spark-cluster
    extension columns. Mapping ("ref" = the reference's Linux source):

    | column                  | ref semantics                         | here |
    |-------------------------|---------------------------------------|------|
    | cpu_system_time         | /proc/stat cpu (user+nice+system)     | same |
    |                         | ticks / CLK_TCK -> ns (:129-134,156)  |      |
    | cpu_process_time        | CLOCK_PROCESS_CPUTIME_ID ns (:161-174)| /proc/<jvm pid>/stat utime+stime ticks -> ns — the same user+system-of-process clock, for the JVM (the engine process; the MXBean getter is unreachable through py4j reflection) |
    | total_time              | steady_clock since epoch ns (:106-108)| time.monotonic_ns() (same CLOCK_MONOTONIC base on Linux) |
    | load_average_{1,5,15}_min | getloadavg() (:93-101)              | os.getloadavg() |
    | system_memory_free      | /proc/meminfo MemFree B (:202)        | same |
    | system_memory_available | /proc/meminfo MemAvailable B (:204)   | same |
    | process_virtual_memory  | /proc/self/status VmSize B (:254)     | /proc/<jvm pid>/status VmSize (self = the Python shim, not the engine) |
    | process_RSS             | /proc/self/status VmRSS B (:256)      | /proc/<jvm pid>/status VmRSS |
    | allocated_memory        | jemalloc stats.allocated; NULL unless | JVM used heap (totalMemory-freeMemory) — the engine's actually-allocated heap; never NULL here |
    |                         | built with jemalloc (nullable)        |      |
    | cpu_affinity_count      | topology.num_cpus() = affinity set    | len(os.sched_getaffinity(0)) |

    No-Spark-meaning fields: none — all 12 have a faithful JVM/driver-host
    reading on Linux (fields read from /proc degrade to -1 off-Linux rather
    than failing the whole table). Extensions beyond the reference (a
    single-node engine has no cluster dimension): default_parallelism,
    n_executors, jvm_max_memory."""
    import os
    import time

    sc = spark.sparkContext
    jvm = spark._jvm
    jvm_rt = jvm.java.lang.Runtime.getRuntime()
    mem_status = sc._jsc.sc().getExecutorMemoryStatus()

    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:4]]  # user, nice, system
        clk_tck = os.sysconf("SC_CLK_TCK")
        cpu_system_time = int(sum(ticks) / clk_tck * 1_000_000_000)
    except (OSError, ValueError):
        cpu_system_time = -1
    jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
    try:
        with open(f"/proc/{jvm_pid}/stat") as fh:
            # fields after the parenthesized comm: utime is field 14, stime 15
            # (1-indexed); comm may contain spaces, so split after the last ')'
            tail = fh.read().rsplit(")", 1)[1].split()
        utime, stime = int(tail[11]), int(tail[12])
        cpu_process_time = int((utime + stime) / os.sysconf("SC_CLK_TCK") * 1_000_000_000)
    except (OSError, ValueError, IndexError):
        cpu_process_time = -1
    load1, load5, load15 = (
        os.getloadavg() if hasattr(os, "getloadavg") else (-1.0, -1.0, -1.0)
    )
    meminfo = _proc_kv_bytes("/proc/meminfo", ("MemFree", "MemAvailable"))
    vm = _proc_kv_bytes(f"/proc/{jvm_pid}/status", ("VmSize", "VmRSS"))
    affinity = (
        len(os.sched_getaffinity(0))
        if hasattr(os, "sched_getaffinity")
        else (os.cpu_count() or 0)
    )

    rows = [
        (
            cpu_system_time,
            cpu_process_time,
            int(time.monotonic_ns()),
            float(load1),
            float(load5),
            float(load15),
            meminfo["MemFree"],
            meminfo["MemAvailable"],
            vm["VmSize"],
            vm["VmRSS"],
            int(jvm_rt.totalMemory() - jvm_rt.freeMemory()),
            int(affinity),
            int(sc.defaultParallelism),
            int(mem_status.size()),  # executors (driver included in local mode)
            int(jvm_rt.maxMemory()),
        )
    ]
    schema = StructType(
        [
            StructField("cpu_system_time", LongType()),
            StructField("cpu_process_time", LongType()),
            StructField("total_time", LongType()),
            StructField("load_average_1_min", FloatType()),
            StructField("load_average_5_min", FloatType()),
            StructField("load_average_15_min", FloatType()),
            StructField("system_memory_free", LongType()),
            StructField("system_memory_available", LongType()),
            StructField("process_virtual_memory", LongType()),
            StructField("process_RSS", LongType()),
            StructField("allocated_memory", LongType()),
            StructField("cpu_affinity_count", IntegerType()),
            StructField("default_parallelism", IntegerType()),
            StructField("n_executors", IntegerType()),
            StructField("jvm_max_memory", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def meta_segments(spark: SparkSession, catalog) -> DataFrame:
    """meta_segments (meta_segments_table.cpp:16-29): one row per
    (chunk, column) with encoding + size. Chunk -> parquet row group; the
    reference's encoding_type / vector_compression_type map to parquet
    encodings / codec; sizes and null counts come from FOOTER metadata —
    scan-free, like meta_partitions."""
    import pyarrow.parquet as pq

    out = []
    for name in catalog.table_names():
        df = catalog.get_table(name)
        try:
            files = sorted(df.inputFiles())
        except Exception:
            files = []
        chunk_id = 0
        for f in files:
            path = f.removeprefix("file:")
            try:
                meta = pq.ParquetFile(path).metadata
            except Exception:
                continue  # non-parquet source: no footer
            for rg in range(meta.num_row_groups):
                rgm = meta.row_group(rg)
                for col in range(rgm.num_columns):
                    c = rgm.column(col)
                    stats = c.statistics
                    out.append(
                        (
                            name,
                            chunk_id,
                            col,
                            c.path_in_schema,
                            str(c.physical_type),
                            ",".join(str(e) for e in c.encodings),
                            str(c.compression),
                            int(c.total_compressed_size),
                            int(c.num_values),
                            int(stats.null_count) if stats is not None and stats.has_null_count else None,
                        )
                    )
                chunk_id += 1
    schema = StructType(
        [
            StructField("table_name", StringType()),
            StructField("chunk_id", IntegerType()),
            StructField("column_id", IntegerType()),
            StructField("column_name", StringType()),
            StructField("column_data_type", StringType()),
            StructField("encoding_type", StringType()),
            StructField("compression_type", StringType()),
            StructField("estimated_size_in_bytes", LongType()),
            StructField("value_count", LongType()),
            StructField("null_count", LongType()),
        ]
    )
    return spark.createDataFrame(out, schema)


def meta_chunk_sort_orders(spark: SparkSession, catalog) -> DataFrame:
    """meta_chunk_sort_orders (meta_chunk_sort_orders_table.hpp): per-chunk
    declared sort order. Parquet analog: row-group sorting_columns metadata
    (populated by sortBy writers); footer-only, scan-free."""
    import pyarrow.parquet as pq

    out = []
    for name in catalog.table_names():
        df = catalog.get_table(name)
        try:
            files = sorted(df.inputFiles())
        except Exception:
            files = []
        chunk_id = 0
        for f in files:
            path = f.removeprefix("file:")
            try:
                pf = pq.ParquetFile(path)
                meta = pf.metadata
                names = pf.schema_arrow.names
            except Exception:
                continue
            for rg in range(meta.num_row_groups):
                sorting = getattr(meta.row_group(rg), "sorting_columns", None) or []
                for sc in sorting:
                    out.append(
                        (
                            name,
                            chunk_id,
                            names[sc.column_index] if sc.column_index < len(names) else str(sc.column_index),
                            "desc" if sc.descending else "asc",
                        )
                    )
                chunk_id += 1
    schema = StructType(
        [
            StructField("table_name", StringType()),
            StructField("chunk_id", IntegerType()),
            StructField("column_name", StringType()),
            StructField("sort_mode", StringType()),
        ]
    )
    return spark.createDataFrame(out, schema)


def meta_system_information(spark: SparkSession, catalog=None) -> DataFrame:
    """meta_system_information (meta_system_information_table.hpp): static
    host/cluster facts (the utilization table holds the moving numbers)."""
    import os
    import platform

    sc = spark.sparkContext
    rows = [
        (
            platform.node(),
            platform.system().lower(),
            int(os.cpu_count() or 0),
            int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory()),
            sc.version,
            sc.master,
        )
    ]
    schema = StructType(
        [
            StructField("hostname", StringType()),
            StructField("os", StringType()),
            StructField("cpu_count", IntegerType()),
            StructField("jvm_max_memory_bytes", LongType()),
            StructField("spark_version", StringType()),
            StructField("master", StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def meta_log(spark: SparkSession, catalog) -> DataFrame:
    """meta_log (meta_log_table.hpp): the engine's statement log — one row
    per statement routed through Engine.execute (driver-side ring buffer on
    the catalog; no executor work)."""
    entries = list(getattr(catalog, "statement_log", ()))
    schema = StructType(
        [
            StructField("log_id", LongType()),
            StructField("timestamp", StringType()),
            StructField("statement", StringType()),
            StructField("status", StringType()),
            StructField("duration_ms", LongType()),
        ]
    )
    return spark.createDataFrame(
        [
            (i, e["timestamp"], e["statement"], e["status"], e["duration_ms"])
            for i, e in enumerate(entries)
        ],
        schema,
    )


def meta_chunks(spark: SparkSession, catalog) -> DataFrame:
    """meta_chunks (meta_chunks_table.cpp:16-20): reference-shaped chunk
    rows — table_name / chunk_id / row_count / invalid_row_count /
    cleanup_commit_id. Chunk -> backing parquet file; row counts from footer
    metadata (scan-free, like meta_partitions). There is no MVCC here, so
    invalid_row_count is always 0 and cleanup_commit_id NULL."""
    import pyarrow.parquet as pq

    out = []
    for name in catalog.table_names():
        df = catalog.get_table(name)
        try:
            files = sorted(df.inputFiles())
        except Exception:
            files = []
        for i, f in enumerate(files):
            path = f.removeprefix("file:")
            try:
                nrows = int(pq.ParquetFile(path).metadata.num_rows)
            except Exception:
                nrows = None
            out.append((name, i, nrows, 0, None))
    schema = StructType(
        [
            StructField("table_name", StringType()),
            StructField("chunk_id", IntegerType()),
            StructField("row_count", LongType()),
            StructField("invalid_row_count", LongType()),
            StructField("cleanup_commit_id", LongType()),
        ]
    )
    return spark.createDataFrame(out, schema)


def meta_plugins(spark: SparkSession, catalog=None) -> DataFrame:
    """meta_plugins (meta_plugins_table.cpp): loaded extensions. Spark
    analog: the session's configured plugin/extension/jar entries — the
    things a Spark deployment "loads" the way the reference loads .so
    plugins. Driver-derived, scan-free."""
    entries: list[tuple[str, str]] = []
    for conf, kind in (
        ("spark.plugins", "spark_plugin"),
        ("spark.sql.extensions", "sql_extension"),
        ("spark.jars", "jar"),
        ("spark.jars.packages", "package"),
    ):
        try:
            val = spark.conf.get(conf)
        except Exception:
            val = None
        if val:
            entries.extend((item.strip(), kind) for item in val.split(",") if item.strip())
    schema = StructType(
        [StructField("name", StringType()), StructField("kind", StringType())]
    )
    return spark.createDataFrame(entries, schema)


#: Admin functions executable via `INSERT INTO meta_exec` — the analog of
#: the reference's user-executable plugin functions (meta_exec_table.cpp:36,
#: PluginManager::exec_user_function). Each maps to a Spark admin action.
EXEC_FUNCTIONS: dict[tuple[str, str], "callable"] = {
    ("spark", "clear_cache"): lambda spark, catalog: spark.catalog.clearCache(),
    ("spark", "refresh_tables"): lambda spark, catalog: [
        spark.catalog.refreshTable(n)
        for n in catalog.table_names()
        if spark.catalog.tableExists(n)
    ],
    ("engine", "clear_statement_log"): lambda spark, catalog: catalog.statement_log.clear(),
    # the reference UCC plugin's DiscoverUCCs user-executable function
    # (ucc_discovery_plugin.cpp:76) — candidates from the statement log,
    # validated results surfaced via meta_uccs
    ("ucc", "discover_uccs"): lambda spark, catalog: __import__(
        "hyrise_spark.ucc", fromlist=["discover_uccs"]
    ).discover_uccs(spark, catalog),
    # MvccDeletePlugin analog (mvcc_delete_plugin.hpp): manual trigger of
    # the physical compaction of every table with accumulated DML lineage
    # (the plugin's background loop is an inline admin function here)
    ("mvcc", "compact_tables"): lambda spark, catalog: [
        catalog.compact_table(n)
        for n in catalog.table_names()
        if catalog.dml_depth.get(n, 0) > 0
    ],
    # the plugin's PHYSICAL delete: remove evicted/dropped compaction files.
    # Operator-asserted safety (no live plan reads them) — see catalog.py
    ("mvcc", "purge_compaction_trail"): lambda spark, catalog: (
        catalog.purge_compaction_trail()
    ),
    # the reference console's two cache-flush commands
    # (sql_plan_cache.hpp — SQLPhysicalPlanCache::get().clear())
    ("plan_cache", "clear"): lambda spark, catalog: (
        catalog.plan_cache.clear()
        if getattr(catalog, "plan_cache", None) is not None else 0
    ),
}


def meta_exec(spark: SparkSession, catalog=None) -> DataFrame:
    """meta_exec (meta_exec_table.cpp:20-27): the catalog of user-executable
    admin functions, writable — `INSERT INTO meta_exec VALUES (plugin, fn)`
    EXECUTES the function (routed by Engine._insert), mirroring
    MetaExecTable::_on_insert."""
    schema = StructType(
        [StructField("plugin_name", StringType()), StructField("function_name", StringType())]
    )
    return spark.createDataFrame(sorted(EXEC_FUNCTIONS.keys()), schema)


def meta_segments_accurate(spark: SparkSession, catalog) -> DataFrame:
    """meta_segments_accurate (meta_segments_accurate_table.cpp): the
    EXACT-statistics variant of meta_segments. The reference documents this
    one as expensive (it walks every segment); here it runs ONE aggregation
    job per table computing exact distinct/null counts per column — the only
    meta table that is not scan-free, by contract, and it is only built when
    a statement references it (lazy registration)."""
    out = []
    for name in catalog.table_names():
        df = catalog.get_table(name)
        aggs = []
        for f in df.schema.fields:
            c = f.name
            aggs.append(F.countDistinct(F.col(c)).alias(f"__d_{c}"))
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__n_{c}"))
        if not aggs:
            continue
        row = df.agg(*aggs).collect()[0]
        for i, f in enumerate(df.schema.fields):
            out.append(
                (
                    name,
                    i,
                    f.name,
                    f.dataType.simpleString(),
                    int(row[f"__d_{f.name}"]),
                    int(row[f"__n_{f.name}"]),
                )
            )
    schema = StructType(
        [
            StructField("table_name", StringType()),
            StructField("column_id", IntegerType()),
            StructField("column_name", StringType()),
            StructField("column_data_type", StringType()),
            StructField("distinct_value_count", LongType()),
            StructField("null_value_count", LongType()),
        ]
    )
    return spark.createDataFrame(out, schema)


def meta_uccs(spark: SparkSession, catalog) -> DataFrame:
    """Validated unique column combinations (the ucc_discovery_plugin's
    discovered state, exposed the way hyrise plugins add meta tables via
    MetaTableManager). Populated by INSERT INTO meta_exec
    VALUES ('ucc', 'discover_uccs'); emptied again by any DML on the
    table."""
    schema = StructType(
        [StructField("table_name", StringType()), StructField("column_name", StringType())]
    )
    return spark.createDataFrame(sorted(catalog.validated_uccs), schema)


def meta_versions(spark: SparkSession, catalog) -> DataFrame:
    """Per-table snapshot-versioning state (round-7 MVCC analog): current
    write-version, oldest version still retained in the bounded history
    ring (readable via `VERSION AS OF`), and the DML-chain depth since the
    last compaction."""
    schema = StructType(
        [
            StructField("table_name", StringType()),
            StructField("current_version", LongType()),
            StructField("oldest_retained", LongType()),
            StructField("dml_depth", LongType()),
        ]
    )
    rows = [
        (
            n,
            catalog.current_version(n),
            catalog.history_base.get(n, 0),
            catalog.dml_depth.get(n, 0),
        )
        for n in catalog.table_names()
    ]
    return spark.createDataFrame(rows, schema)


def meta_transactions(spark: SparkSession, catalog) -> DataFrame:
    """Transaction status (transaction_manager.hpp observability analog):
    one row — idle vs in_transaction, pinned-table count, and the live
    savepoint stack (innermost last). The engine publishes its slot via
    `catalog.txn_status` (single-writer engine: one slot)."""
    schema = StructType(
        [
            StructField("status", StringType()),
            StructField("pinned_tables", LongType()),
            StructField("savepoints", StringType()),
        ]
    )
    txn = getattr(catalog, "txn_status", lambda: None)()
    if txn is None:
        return spark.createDataFrame([("idle", 0, "")], schema)
    return spark.createDataFrame(
        [(
            "in_transaction",
            len(txn["snap"]["catalog"]["_tables"]),
            ",".join(n for n, _ in txn["savepoints"]),
        )],
        schema,
    )


def meta_plan_cache(spark: SparkSession, catalog) -> DataFrame:
    """Plan-cache observability (sql_plan_cache.hpp + gdfs_cache.hpp
    analog): one summary row — hit/miss/eviction/invalidation counters,
    live entry count, capacity, the current GDFS inflation value L, and
    `physical_hits`: the hits whose fetch re-executed the cached physical
    plan (Engine.fetch) instead of optimizing and planning anew."""
    schema = StructType(
        [
            StructField("hits", LongType()),
            StructField("misses", LongType()),
            StructField("evictions", LongType()),
            StructField("invalidations", LongType()),
            StructField("entries", LongType()),
            StructField("capacity", LongType()),
            StructField("inflation", DoubleType()),
            StructField("physical_hits", LongType()),
        ]
    )
    pc = getattr(catalog, "plan_cache", None)
    if pc is None:
        return spark.createDataFrame([(0, 0, 0, 0, 0, 0, 0.0, 0)], schema)
    return spark.createDataFrame(
        [(pc.hits, pc.misses, pc.evictions, pc.invalidations,
          len(pc), pc.capacity, float(pc.inflation), pc.physical_hits)],
        schema,
    )


def meta_plan_cache_entries(spark: SparkSession, catalog) -> DataFrame:
    """Per-entry plan-cache detail, hottest (highest GDFS priority) first:
    the cached statement text, its hit frequency, the analysis cost a hit
    saves (ms), and its current eviction priority."""
    schema = StructType(
        [
            StructField("statement", StringType()),
            StructField("frequency", LongType()),
            StructField("cost_ms", DoubleType()),
            StructField("priority", DoubleType()),
        ]
    )
    pc = getattr(catalog, "plan_cache", None)
    rows = pc.snapshot() if pc is not None else []
    return spark.createDataFrame(
        [(s, f, float(c), float(p)) for s, f, c, p in rows], schema
    )


META_TABLES = {
    "meta_tables": meta_tables,
    "meta_plan_cache": meta_plan_cache,
    "meta_plan_cache_entries": meta_plan_cache_entries,
    "meta_transactions": meta_transactions,
    "meta_versions": meta_versions,
    "meta_columns": meta_columns,
    "meta_partitions": meta_partitions,
    "meta_settings": meta_settings,
    "meta_system_utilization": meta_system_utilization,
    "meta_segments": meta_segments,
    "meta_chunk_sort_orders": meta_chunk_sort_orders,
    "meta_system_information": meta_system_information,
    "meta_log": meta_log,
    "meta_chunks": meta_chunks,
    "meta_plugins": meta_plugins,
    "meta_exec": meta_exec,
    "meta_segments_accurate": meta_segments_accurate,
    "meta_uccs": meta_uccs,
}


def register_meta_tables(
    spark: SparkSession, catalog, only: set[str] | None = None
) -> None:
    """Register meta views — LAZILY: only the ones the statement references.

    Building all five eagerly made `SELECT * FROM meta_settings` pay for
    every table's file listing; the engine passes the referenced names so an
    introspection query costs exactly what it asks for.
    """
    for name, builder in META_TABLES.items():
        if only is not None and name not in only:
            continue
        builder(spark, catalog).createOrReplaceTempView(name)
