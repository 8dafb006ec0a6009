"""Engine statement-router tests: multi-statement SQL, IMPORT/EXPORT,
CREATE/DROP VIEW, prepared statements, meta tables
(reference SQLPipeline / maintenance operators / prepared_plan)."""

from __future__ import annotations

import pytest

from hyrise_spark.engine import Engine


@pytest.fixture()
def engine(spark):
    return Engine(spark)


def test_sql_passthrough(engine):
    df = engine.execute("SELECT 1 AS x")
    assert df.collect()[0]["x"] == 1


def test_multi_statement(engine):
    df = engine.execute("SELECT 1 AS x; SELECT 2 AS y")
    assert df.collect()[0]["y"] == 2


def test_import_export_tbl(engine, spark, tmp_path):
    p = tmp_path / "t.tbl"
    p.write_text("a|b\nint|string\n1|x\n2|y\n")
    df = engine.execute(f"IMPORT FROM '{p}' INTO t1")
    assert df.count() == 2
    assert engine.execute("SELECT COUNT(*) AS n FROM t1").collect()[0]["n"] == 2
    out = tmp_path / "out.tbl"
    engine.execute(f"EXPORT t1 TO '{out}'")
    assert out.read_text().splitlines()[0] == "a|b"


def test_create_drop_view(engine, spark):
    spark.range(10).createOrReplaceTempView("base_t")
    engine.execute("CREATE VIEW v10 AS SELECT id * 2 AS dbl FROM base_t")
    assert engine.catalog.has_view("v10")
    assert engine.execute("SELECT MAX(dbl) AS m FROM v10").collect()[0]["m"] == 18
    engine.execute("DROP VIEW v10")
    assert not engine.catalog.has_view("v10")


def test_duplicate_view_rejected(engine, spark):
    spark.range(3).createOrReplaceTempView("base_t2")
    engine.execute("CREATE VIEW vdup AS SELECT id FROM base_t2")
    with pytest.raises(ValueError):
        engine.execute("CREATE VIEW vdup AS SELECT id FROM base_t2")
    engine.execute("DROP VIEW vdup")


def test_prepared_statements(engine, spark):
    spark.range(100).createOrReplaceTempView("nums")
    engine.prepare("p1", "SELECT COUNT(*) AS n FROM nums WHERE id < :thr")
    assert engine.execute_prepared("p1", {"thr": 10}).collect()[0]["n"] == 10
    assert engine.execute_prepared("p1", {"thr": 50}).collect()[0]["n"] == 50


def test_meta_tables(engine, spark):
    spark.range(7).createOrReplaceTempView("mt_base")
    engine.catalog.replace_table("mt_base", spark.table("mt_base"))
    rows = engine.execute("SELECT * FROM meta_tables WHERE table_name = 'mt_base'").collect()
    assert len(rows) == 1 and rows[0]["column_count"] == 1
    cols = engine.execute(
        "SELECT column_name, data_type FROM meta_columns WHERE table_name = 'mt_base'"
    ).collect()
    assert [(r["column_name"], r["data_type"]) for r in cols] == [("id", "bigint")]
    settings = engine.execute("SELECT * FROM meta_settings").collect()
    assert any(r["name"] == "spark.sql.adaptive.enabled" and r["value"] == "true" for r in settings)


def test_transaction_statements_are_routed(engine, spark):
    # BEGIN/COMMIT/ROLLBACK are routed (sql_translator.cpp:377-380) — real
    # transactions on the version ring since round 8, never parse errors.
    spark.range(3).createOrReplaceTempView("txn_base")
    out = engine.execute("BEGIN; SELECT COUNT(*) AS n FROM txn_base")
    assert out.collect()[0]["n"] == 3
    engine.execute("COMMIT")
    # a trailing COMMIT is the last statement -> pipeline result is None,
    # but the wrapped DML still applied
    assert engine.execute("BEGIN TRANSACTION; SELECT 1 AS x; COMMIT") is None
    assert engine.execute("START TRANSACTION; COMMIT WORK") is None


def test_rollback_outside_transaction_warns_and_logs_noop(engine):
    # ROLLBACK with no open transaction: nothing to abort (each statement
    # outside BEGIN is autocommit). Postgres-style: warn loudly, no-op,
    # meta_log entry tagged status='noop' so the attempted abort is auditable.
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert engine.execute("ROLLBACK WORK") is None
    assert any("ROLLBACK" in str(w.message) for w in caught)
    last = engine.catalog.statement_log[-1]
    assert last["statement"].startswith("ROLLBACK")
    assert last["status"] == "noop"


def test_rollback_restores_dml_ddl_and_version_ring(engine):
    """transaction_manager.hpp analog: ROLLBACK un-happens every statement
    since BEGIN — DML, CREATE/DROP TABLE, views — and the history versions
    appended inside the aborted transaction vanish from VERSION AS OF."""
    engine.execute("CREATE TABLE txr AS SELECT CAST(id AS INT) AS id FROM RANGE(5)")
    v0 = engine.catalog.current_version("txr")
    engine.execute(
        "BEGIN; INSERT INTO txr VALUES (99); DELETE FROM txr WHERE id = 0;"
        " UPDATE txr SET id = id + 100 WHERE id = 1;"
        " CREATE TABLE txr2 AS SELECT 1 AS x; CREATE VIEW txrv AS SELECT * FROM txr"
    )
    # read-your-own-writes inside the transaction
    got = sorted(r.id for r in engine.execute("SELECT * FROM txr").collect())
    assert got == [2, 3, 4, 99, 101]
    engine.execute("ROLLBACK")
    got = sorted(r.id for r in engine.execute("SELECT * FROM txr").collect())
    assert got == [0, 1, 2, 3, 4]
    assert not engine.catalog.has_table("txr2")
    assert not engine.catalog.has_view("txrv")
    # the aborted versions never committed: ring is back at v0
    assert engine.catalog.current_version("txr") == v0
    # statement_log: the ROLLBACK itself is a supported op now
    assert engine.catalog.statement_log[-1]["status"] == "ok"
    engine.execute("DROP TABLE txr")


def test_rollback_restores_dropped_table_and_commit_releases(engine):
    engine.execute("CREATE TABLE txd AS SELECT 7 AS x")
    engine.execute("BEGIN; DROP TABLE txd; ROLLBACK")
    assert engine.execute("SELECT * FROM txd").collect()[0]["x"] == 7
    # COMMIT keeps the writes and releases the pin
    engine.execute("BEGIN; UPDATE txd SET x = 8; COMMIT")
    assert engine.execute("SELECT * FROM txd").collect()[0]["x"] == 8
    # after COMMIT a ROLLBACK is outside any transaction -> warn-noop
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        engine.execute("ROLLBACK")
    assert caught
    assert engine.execute("SELECT * FROM txd").collect()[0]["x"] == 8
    engine.execute("DROP TABLE txd")


def test_nested_begin_warns_and_keeps_outer_pin(engine):
    import warnings

    engine.execute("CREATE TABLE txn2 AS SELECT 1 AS x")
    engine.execute("BEGIN; UPDATE txn2 SET x = 2")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        engine.execute("BEGIN")  # postgres: already in progress, no nesting
    assert any("already a transaction" in str(w.message) for w in caught)
    engine.execute("UPDATE txn2 SET x = 3; ROLLBACK")
    # rollback unwinds to the OUTER begin, not the inner warn-noop
    assert engine.execute("SELECT * FROM txn2").collect()[0]["x"] == 1
    engine.execute("DROP TABLE txn2")


def test_meta_settings_is_writable(engine, spark):
    # ChangeMetaTable analog (change_meta_table.hpp:26): DML on meta_settings
    # mutates session confs.
    engine.execute("UPDATE meta_settings SET value = '123' WHERE name = 'spark.sql.shuffle.partitions'")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "123"
    engine.execute("UPDATE meta_settings SET value = '8' WHERE name = 'spark.sql.shuffle.partitions'")
    engine.execute("INSERT INTO meta_settings VALUES ('hyrise_spark.custom_flag', 'on')")
    assert spark.conf.get("hyrise_spark.custom_flag") == "on"
    rows = engine.execute(
        "SELECT value FROM meta_settings WHERE name = 'hyrise_spark.custom_flag'"
    ).collect()
    assert rows and rows[0]["value"] == "on"
    engine.execute("DELETE FROM meta_settings WHERE name = 'hyrise_spark.custom_flag'")
    assert spark.conf.get("hyrise_spark.custom_flag", None) is None


def test_meta_queries_are_scan_free(engine, spark):
    # A poisoned table whose execution would raise: introspection queries
    # must complete without ever running it (meta_partitions reads parquet
    # FOOTERS / file listings, not table data).
    import pyspark.sql.functions as F
    from pyspark.sql.types import IntegerType

    boom = F.udf(lambda x: 1 // 0, IntegerType())
    engine.catalog.replace_table("mt_poison", spark.range(10).select(boom("id").alias("x")))
    try:
        engine.execute("SELECT * FROM meta_settings").collect()
        engine.execute("SELECT * FROM meta_tables").collect()
        engine.execute("SELECT * FROM meta_columns WHERE table_name = 'mt_poison'").collect()
        parts = engine.execute(
            "SELECT * FROM meta_partitions WHERE table_name = 'mt_poison'"
        ).collect()
        assert len(parts) == 1 and parts[0]["row_count"] is None
    finally:
        engine.catalog.drop_table("mt_poison")


def test_meta_segments_from_parquet_footers(engine, spark):
    from tests.conftest import SF_DIR

    from hyrise_spark.catalog import load_tables

    engine.catalog.replace_table(
        "mt_seg_nation", load_tables(spark, SF_DIR, ("nation",))["nation"]
    )
    try:
        rows = engine.execute(
            "SELECT * FROM meta_segments WHERE table_name = 'mt_seg_nation' ORDER BY chunk_id, column_id"
        ).collect()
        assert {r["column_name"] for r in rows} == {"n_nationkey", "n_name", "n_regionkey"}
        assert all(r["estimated_size_in_bytes"] > 0 for r in rows)
        assert all(r["encoding_type"] for r in rows)
        assert sum(r["value_count"] for r in rows if r["column_name"] == "n_name") == 25
    finally:
        engine.catalog.drop_table("mt_seg_nation")


def test_meta_log_records_statements(engine, spark):
    engine.execute("SELECT 42 AS answer")
    rows = engine.execute(
        "SELECT * FROM meta_log ORDER BY log_id"
    ).collect()
    stmts = [r["statement"] for r in rows]
    assert "SELECT 42 AS answer" in stmts
    assert all(r["status"] == "ok" for r in rows if r["statement"] == "SELECT 42 AS answer")
    # failing statements are logged with status=error
    import pytest as _pytest

    with _pytest.raises(Exception):
        engine.execute("SELECT * FROM definitely_missing_table_xyz")
    rows = engine.execute("SELECT * FROM meta_log WHERE status = 'error'").collect()
    assert any("definitely_missing_table_xyz" in r["statement"] for r in rows)


def test_meta_system_information(engine):
    rows = engine.execute("SELECT * FROM meta_system_information").collect()
    assert len(rows) == 1 and rows[0]["cpu_count"] > 0 and rows[0]["spark_version"]


def test_meta_chunk_sort_orders_queryable(engine):
    # synthetic parquet has no declared sorting_columns -> empty but valid
    rows = engine.execute("SELECT * FROM meta_chunk_sort_orders").collect()
    assert isinstance(rows, list)


def test_meta_partitions_footer_row_counts(engine, spark):
    from tests.conftest import SF_DIR

    from hyrise_spark.catalog import load_tables

    engine.catalog.replace_table(
        "mt_nation", load_tables(spark, SF_DIR, ("nation",))["nation"]
    )
    try:
        rows = engine.execute(
            "SELECT * FROM meta_partitions WHERE table_name = 'mt_nation'"
        ).collect()
        assert sum(r["row_count"] for r in rows) == 25  # footer counts, no scan
        assert all(r["location"] for r in rows)
    finally:
        engine.catalog.drop_table("mt_nation")


def test_meta_chunks_reference_shape(engine, spark):
    from tests.conftest import SF_DIR

    from hyrise_spark.catalog import load_tables

    engine.catalog.replace_table(
        "mt_chunk_nation", load_tables(spark, SF_DIR, ("nation",))["nation"]
    )
    try:
        rows = engine.execute(
            "SELECT * FROM meta_chunks WHERE table_name = 'mt_chunk_nation'"
        ).collect()
        assert rows and sum(r["row_count"] for r in rows) == 25
        # no MVCC: invalid rows always 0, cleanup commit always NULL
        assert all(r["invalid_row_count"] == 0 and r["cleanup_commit_id"] is None for r in rows)
    finally:
        engine.catalog.drop_table("mt_chunk_nation")


def test_meta_exec_lists_and_executes(engine, spark):
    rows = engine.execute("SELECT * FROM meta_exec ORDER BY plugin_name, function_name").collect()
    assert ("spark", "clear_cache") in [(r["plugin_name"], r["function_name"]) for r in rows]
    # INSERT executes the admin function (MetaExecTable::_on_insert analog):
    # clear_cache drops a cached table from the cache manager.
    spark.range(5).createOrReplaceTempView("mt_exec_cached")
    spark.catalog.cacheTable("mt_exec_cached")
    assert spark.catalog.isCached("mt_exec_cached")
    engine.execute("INSERT INTO meta_exec VALUES ('spark', 'clear_cache')")
    assert not spark.catalog.isCached("mt_exec_cached")
    with pytest.raises(ValueError):
        engine.execute("INSERT INTO meta_exec VALUES ('spark', 'no_such_fn')")


def test_meta_plugins_lists_extensions(engine, spark):
    # local test session has no plugins configured — the table exists and is
    # empty (or lists whatever the session was started with), never errors.
    rows = engine.execute("SELECT * FROM meta_plugins").collect()
    assert all(r["kind"] in {"spark_plugin", "sql_extension", "jar", "package"} for r in rows)


def test_meta_segments_accurate_exact_stats(engine, spark):
    from tests.conftest import SF_DIR

    from hyrise_spark.catalog import load_tables

    engine.catalog.replace_table(
        "mt_acc_nation", load_tables(spark, SF_DIR, ("nation",))["nation"]
    )
    try:
        rows = engine.execute(
            "SELECT * FROM meta_segments_accurate WHERE table_name = 'mt_acc_nation' ORDER BY column_id"
        ).collect()
        by_col = {r["column_name"]: r for r in rows}
        assert by_col["n_nationkey"]["distinct_value_count"] == 25
        assert by_col["n_name"]["null_value_count"] == 0
    finally:
        engine.catalog.drop_table("mt_acc_nation")


def test_prepare_execute_sql_dialect(engine):
    """hyrise's SQL-level prepared statements (sql_translator.cpp:1808-1850):
    PREPARE name FROM '...?...' / EXECUTE name (args)."""
    engine.execute("PREPARE pp FROM 'SELECT COUNT(*) AS n FROM nums WHERE id < ?'")
    assert engine.execute("EXECUTE pp (10)").collect()[0]["n"] == 10
    assert engine.execute("EXECUTE pp (3)").collect()[0]["n"] == 3


def test_prepare_execute_multiple_params_and_types(engine):
    engine.execute(
        "PREPARE pq FROM 'SELECT COUNT(*) AS n FROM nums WHERE id > ? AND id < ?'"
    )
    assert engine.execute("EXECUTE pq (2, 7)").collect()[0]["n"] == 4
    # string + escaped-quote literal round-trips through the dialect
    engine.execute("PREPARE ps FROM 'SELECT ? AS s, ? AS x'")
    row = engine.execute("EXECUTE ps ('it''s', 1.5)").collect()[0]
    assert row["s"] == "it's" and abs(row["x"] - 1.5) < 1e-12


def test_prepare_execute_no_args(engine):
    engine.execute("PREPARE p0 FROM 'SELECT 41 + 1 AS v'")
    assert engine.execute("EXECUTE p0").collect()[0]["v"] == 42


def test_copy_from_to_roundtrip(engine, spark, tmp_path):
    """COPY t TO/FROM 'file' — the reference's Import/Export alias
    (sql_translator.cpp:1847), incl. an explicit FORMAT override."""
    engine.execute(
        "CREATE TABLE cp_src AS SELECT CAST(id AS INT) AS k, "
        "CONCAT('v', id) AS s FROM RANGE(20)"
    )
    try:
        path = str(tmp_path / "cp.tbl")
        engine.execute(f"COPY cp_src TO '{path}'")
        engine.execute(f"COPY cp_copy FROM '{path}'")
        assert engine.execute("SELECT COUNT(*) AS n FROM cp_copy").collect()[0]["n"] == 20
        # FORMAT override: write a .dat file as BINARY, read it back as BINARY
        bpath = str(tmp_path / "cp.dat")
        engine.execute(f"COPY cp_src TO '{bpath}' WITH (FORMAT BINARY)")
        engine.execute(f"COPY cp_bin FROM '{bpath}' WITH (FORMAT BINARY)")
        a = sorted(tuple(r) for r in engine.execute("SELECT * FROM cp_src").collect())
        b = sorted(tuple(r) for r in engine.execute("SELECT * FROM cp_bin").collect())
        assert a == b
    finally:
        for t in ("cp_src", "cp_copy", "cp_bin"):
            engine.execute(f"DROP TABLE IF EXISTS {t}")


def test_show_tables_and_columns(engine):
    """SHOW TABLES / SHOW COLUMNS t rewrite onto the meta tables
    (sql_translator.cpp:1583-1597 parity)."""
    engine.execute("CREATE TABLE show_t AS SELECT CAST(1 AS INT) AS a, 'x' AS b")
    try:
        tables = [r["table_name"] for r in engine.execute("SHOW TABLES").collect()]
        assert "show_t" in tables
        cols = engine.execute("SHOW COLUMNS FROM show_t").collect()
        assert {r["column_name"] for r in cols} == {"a", "b"}
        assert all(r["table_name"] == "show_t" for r in cols)
        # hyrise's bare form without FROM works too
        cols2 = engine.execute("SHOW COLUMNS show_t").collect()
        assert {r["column_name"] for r in cols2} == {"a", "b"}
    finally:
        engine.execute("DROP TABLE IF EXISTS show_t")


def test_prepared_dml_mutates_catalog(engine):
    """Prepared DML must route through the Insert handler, not bypass it."""
    engine.execute("CREATE TABLE pdml_t AS SELECT CAST(id AS INT) AS k FROM RANGE(3)")
    try:
        engine.execute("PREPARE pins FROM 'INSERT INTO pdml_t VALUES (?)'")
        engine.execute("EXECUTE pins (77)")
        rows = {r["k"] for r in engine.execute("SELECT * FROM pdml_t").collect()}
        assert rows == {0, 1, 2, 77}
        engine.execute("PREPARE pdel FROM 'DELETE FROM pdml_t WHERE k > ?'")
        engine.execute("EXECUTE pdel (1)")
        rows = {r["k"] for r in engine.execute("SELECT * FROM pdml_t").collect()}
        assert rows == {0, 1}
        engine.execute("PREPARE pupd FROM 'UPDATE pdml_t SET k = k + ? WHERE k = 0'")
        engine.execute("EXECUTE pupd (100)")
        rows = {r["k"] for r in engine.execute("SELECT * FROM pdml_t").collect()}
        assert rows == {100, 1}
    finally:
        engine.execute("DROP TABLE IF EXISTS pdml_t")


def test_create_table_with_parenthesized_types(engine):
    """DECIMAL(p,s)/VARCHAR(n) column defs must still hit the schema route
    (and land in the engine catalog, not a shadow Spark table)."""
    engine.execute("DROP TABLE IF EXISTS dec_t")
    engine.execute("CREATE TABLE dec_t (price DECIMAL(10,2), name VARCHAR(20))")
    try:
        assert engine.catalog.has_table("dec_t")
        engine.execute("INSERT INTO dec_t VALUES (1.50, 'x')")
        rows = engine.execute("SELECT * FROM dec_t").collect()
        assert len(rows) == 1 and str(rows[0]["price"]) == "1.50"
    finally:
        engine.execute("DROP TABLE IF EXISTS dec_t")


def test_insert_unknown_table_clear_error(engine):
    with pytest.raises(ValueError, match="not registered"):
        engine.execute("INSERT INTO no_such_dml_target VALUES (1)")


def test_dangling_view_does_not_break_unrelated_dml(engine):
    """A view over a dropped table must not fail DML on other tables; it
    errors only when the view itself is queried."""
    engine.execute("CREATE TABLE dv_base AS SELECT CAST(1 AS INT) AS a")
    engine.execute("CREATE TABLE dv_other AS SELECT CAST(1 AS INT) AS b")
    engine.execute("CREATE VIEW dv_v AS SELECT * FROM dv_base")
    try:
        engine.execute("DROP TABLE dv_base")
        engine.execute("INSERT INTO dv_other VALUES (2)")  # must not raise
        assert engine.execute("SELECT COUNT(*) AS n FROM dv_other").collect()[0]["n"] == 2
    finally:
        engine.execute("DROP VIEW IF EXISTS dv_v")
        engine.execute("DROP TABLE IF EXISTS dv_other")
        engine.execute("DROP TABLE IF EXISTS dv_base")


def test_meta_system_utilization_matches_reference_fields(engine, spark):
    """Field-by-field parity with the reference's system_utilization meta
    table (meta_system_utilization_table.cpp:46-57): same 12 columns, same
    order, then the documented Spark-cluster extensions. Values must be live
    readings, not placeholders (this CI runs on Linux, so nothing is -1)."""
    row = engine.execute("SELECT * FROM meta_system_utilization").collect()[0]
    ref_cols = [
        "cpu_system_time", "cpu_process_time", "total_time",
        "load_average_1_min", "load_average_5_min", "load_average_15_min",
        "system_memory_free", "system_memory_available",
        "process_virtual_memory", "process_RSS", "allocated_memory",
        "cpu_affinity_count",
    ]
    assert list(row.asDict())[: len(ref_cols)] == ref_cols
    assert row.cpu_system_time > 0 and row.cpu_process_time > 0
    assert row.total_time > 0
    assert row.load_average_1_min >= 0.0
    assert row.system_memory_free > 0 and row.system_memory_available > 0
    # the JVM's RSS is real memory: more than 64 MB, less than VmSize
    assert 64 * 2**20 < row.process_RSS <= row.process_virtual_memory
    assert 0 < row.allocated_memory <= row.jvm_max_memory
    assert row.cpu_affinity_count >= 1
    assert row.n_executors >= 1 and row.default_parallelism >= 1


def test_sql_scalar_udf_differential(spark, duck):
    """CREATE FUNCTION ... RETURN <expr> (SQL scalar UDF, session-scoped):
    the body runs as a Catalyst expression — JVM-side, not a Python UDF —
    and results match DuckDB evaluating the same bodies as macros."""
    from tests.conftest import SF_DIR

    eng = Engine(spark)
    eng.catalog.add_table("part", spark.read.parquet(f"{SF_DIR}/part.parquet"))
    eng.execute(
        "CREATE FUNCTION disc_price(p DOUBLE, d DOUBLE) RETURNS DOUBLE "
        "RETURN ROUND(p * (1 - d), 2)"
    )
    eng.execute(
        "CREATE FUNCTION brand_tag(b STRING, s INT) RETURNS STRING "
        "RETURN CASE WHEN s >= 25 THEN UPPER(b) ELSE LOWER(b) END"
    )
    q = ("SELECT p_partkey AS k, disc_price(p_retailprice, 0.1) AS dp, "
         "brand_tag(p_brand, p_size) AS tag FROM part WHERE p_partkey <= 40 "
         "ORDER BY k")
    got = [tuple(r) for r in eng.execute(q).collect()]

    duck.execute("CREATE OR REPLACE MACRO disc_price(p, d) AS ROUND(p * (1 - d), 2)")
    duck.execute(
        "CREATE OR REPLACE MACRO brand_tag(b, s) AS "
        "CASE WHEN s >= 25 THEN UPPER(b) ELSE LOWER(b) END"
    )
    want = [tuple(r) for r in duck.execute(q).fetchall()]
    assert got == want and got

    # redefinition replaces; DROP removes and the name stops resolving
    eng.execute(
        "CREATE OR REPLACE FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN 0.0"
    )
    assert eng.execute("SELECT disc_price(100.0, 0.5) AS x").first().x == 0.0
    eng.execute("DROP FUNCTION disc_price")
    import pytest as _pytest

    with _pytest.raises(Exception):
        eng.execute("SELECT disc_price(100.0, 0.5) AS x").collect()


def test_materialized_view_lifecycle(spark):
    """CREATE MATERIALIZED VIEW materializes a snapshot (stale across
    base-table DML until REFRESH — the SQL-standard contract), REFRESH
    recomputes, DROP removes; IF EXISTS semantics mirror DROP TABLE."""
    import pytest as _pytest

    eng = Engine(spark)
    eng.execute("CREATE TABLE t (k INT, v INT)")
    eng.execute("INSERT INTO t VALUES (1, 10), (2, 20)")
    eng.execute(
        "CREATE MATERIALIZED VIEW mv AS SELECT CAST(SUM(v) AS BIGINT) AS s FROM t"
    )
    assert eng.execute("SELECT s FROM mv").first().s == 30

    eng.execute("INSERT INTO t VALUES (3, 70)")
    # stale until refreshed
    assert eng.execute("SELECT s FROM mv").first().s == 30
    eng.execute("REFRESH MATERIALIZED VIEW mv")
    assert eng.execute("SELECT s FROM mv").first().s == 100

    with _pytest.raises(ValueError, match="no such materialized view"):
        eng.execute("REFRESH MATERIALIZED VIEW nope")
    with _pytest.raises(ValueError, match="no such materialized view"):
        eng.execute("DROP MATERIALIZED VIEW nope")
    eng.execute("DROP MATERIALIZED VIEW IF EXISTS nope")  # no-op
    eng.execute("DROP MATERIALIZED VIEW mv")
    assert not eng.catalog.has_table("mv")


def test_savepoint_partial_rollback(engine):
    """SQL:1999 T271 / postgres semantics: ROLLBACK TO undoes only the
    statements after the savepoint, keeps the transaction open AND the
    savepoint established; COMMIT keeps the pre-savepoint writes."""
    engine.execute("CREATE TABLE sp AS SELECT CAST(id AS INT) AS id FROM RANGE(3)")
    engine.execute(
        "BEGIN; INSERT INTO sp VALUES (10); SAVEPOINT s1;"
        " INSERT INTO sp VALUES (20); DELETE FROM sp WHERE id = 0"
    )
    got = sorted(r.id for r in engine.execute("SELECT * FROM sp").collect())
    assert got == [1, 2, 10, 20]
    engine.execute("ROLLBACK TO SAVEPOINT s1")
    got = sorted(r.id for r in engine.execute("SELECT * FROM sp").collect())
    assert got == [0, 1, 2, 10]  # post-savepoint writes gone, pre- kept
    # savepoint stays established: usable again
    engine.execute("INSERT INTO sp VALUES (30); ROLLBACK TO s1")
    got = sorted(r.id for r in engine.execute("SELECT * FROM sp").collect())
    assert got == [0, 1, 2, 10]
    engine.execute("COMMIT")
    got = sorted(r.id for r in engine.execute("SELECT * FROM sp").collect())
    assert got == [0, 1, 2, 10]
    engine.execute("DROP TABLE sp")


def test_savepoint_nested_release_and_full_rollback(engine):
    engine.execute("CREATE TABLE sp2 AS SELECT 1 AS x")
    engine.execute(
        "BEGIN; SAVEPOINT a; UPDATE sp2 SET x = 2; SAVEPOINT b;"
        " UPDATE sp2 SET x = 3"
    )
    # RELEASE b: state untouched, b (and anything after) gone
    engine.execute("RELEASE SAVEPOINT b")
    assert engine.execute("SELECT x FROM sp2").collect()[0]["x"] == 3
    import pytest as _pytest

    with _pytest.raises(Exception, match="does not exist"):
        engine.execute("ROLLBACK TO b")
    # rollback to the outer savepoint, then abort the whole transaction
    engine.execute("ROLLBACK TO a")
    assert engine.execute("SELECT x FROM sp2").collect()[0]["x"] == 1
    engine.execute("UPDATE sp2 SET x = 9; ROLLBACK")
    assert engine.execute("SELECT x FROM sp2").collect()[0]["x"] == 1
    engine.execute("DROP TABLE sp2")


def test_savepoint_outside_transaction_errors(engine):
    import pytest as _pytest

    for stmt in ("SAVEPOINT s", "ROLLBACK TO SAVEPOINT s", "RELEASE SAVEPOINT s"):
        with _pytest.raises(Exception, match="transaction blocks"):
            engine.execute(stmt)


def test_savepoint_shadowing_uses_latest(engine):
    """pg: re-using a savepoint name shadows the older one; ROLLBACK TO
    finds the most recent."""
    engine.execute("CREATE TABLE sp3 AS SELECT 1 AS x")
    engine.execute(
        "BEGIN; UPDATE sp3 SET x = 2; SAVEPOINT s; UPDATE sp3 SET x = 3;"
        " SAVEPOINT s; UPDATE sp3 SET x = 4"
    )
    engine.execute("ROLLBACK TO s")
    assert engine.execute("SELECT x FROM sp3").collect()[0]["x"] == 3
    engine.execute("ROLLBACK; DROP TABLE sp3")


def test_asof_join_sql_shapes_and_errors(engine, spark):
    """ASOF JOIN SQL dialect: direction from the inequality, LEFT variant,
    unsupported shapes error clearly (full differential vs DuckDB's native
    ASOF JOIN lives in the registry: join_asof_sql / join_asof_sql_left)."""
    spark.sql("SELECT 0 AS k, 10 AS t UNION ALL SELECT 0, 20").createOrReplaceTempView("al")
    spark.sql(
        "SELECT 0 AS k, 8 AS rt, 'a' AS v UNION ALL SELECT 0, 15, 'b'"
        " UNION ALL SELECT 0, 99, 'c'"
    ).createOrReplaceTempView("ar")
    rows = {
        (r["t"], r["v"])
        for r in engine.execute(
            "SELECT l.t, r.v FROM al l ASOF JOIN ar r ON l.k = r.k AND l.t >= r.rt"
        ).collect()
    }
    assert rows == {(10, "a"), (20, "b")}  # latest earlier
    rows = {
        (r["t"], r["v"])
        for r in engine.execute(
            "SELECT l.t, r.v FROM al l ASOF JOIN ar r ON l.k = r.k AND l.t <= r.rt"
        ).collect()
    }
    assert rows == {(10, "b"), (20, "c")}  # earliest later
    rows = {
        (r["t"], r["v"])
        for r in engine.execute(
            "SELECT l.t, r.v FROM al l ASOF LEFT JOIN ar r"
            " ON l.k = r.k AND l.t >= r.rt AND r.rt > 12"
        ).collect()
    }
    assert rows == {(10, None), (20, "b")}  # unmatched left kept
    with pytest.raises(Exception, match="time inequality"):
        engine.execute("SELECT * FROM al l ASOF JOIN ar r ON l.k = r.k")


def test_qualify_clause_shapes(engine, spark):
    """QUALIFY (DuckDB/Snowflake dialect): alias predicates, bare window
    functions, and post-filter ORDER BY/LIMIT (registry differential:
    window_qualify runs the same text on DuckDB's native QUALIFY)."""
    spark.sql(
        "SELECT CAST(id % 2 AS INT) AS g, CAST(id AS INT) AS v FROM RANGE(8)"
    ).createOrReplaceTempView("qt2")
    rows = {
        (r["g"], r["v"])
        for r in engine.execute(
            "SELECT g, v FROM qt2 QUALIFY ROW_NUMBER() OVER"
            " (PARTITION BY g ORDER BY v DESC) = 1"
        ).collect()
    }
    assert rows == {(0, 6), (1, 7)}
    rows = [
        (r["g"], r["v"])
        for r in engine.execute(
            "SELECT g, v, RANK() OVER (PARTITION BY g ORDER BY v) AS rk FROM qt2"
            " QUALIFY rk = 1 ORDER BY g LIMIT 1"
        ).collect()
    ]
    assert rows == [(0, 0)]


def test_asof_join_sql_picks_cross_table_inequality(engine, spark):
    """Review regression: a one-sided filter term (r.rt > 12) must NOT be
    mistaken for the asof ordering — with multiple qualifying matches the
    latest-earlier row wins, ordered by the true cross-table inequality."""
    spark.sql("SELECT 0 AS k, 100 AS t").createOrReplaceTempView("am_l")
    spark.sql(
        "SELECT 0 AS k, 15 AS rt, 'lo' AS v UNION ALL SELECT 0, 99, 'hi'"
    ).createOrReplaceTempView("am_r")
    rows = engine.execute(
        "SELECT l.t, r.v FROM am_l l ASOF JOIN am_r r"
        " ON l.k = r.k AND l.t >= r.rt AND r.rt > 12"
    ).collect()
    assert [(r["t"], r["v"]) for r in rows] == [(100, "hi")]
    # two cross-table inequalities: ambiguous, must error
    with pytest.raises(Exception, match="more than one"):
        engine.execute(
            "SELECT l.t FROM am_l l ASOF JOIN am_r r"
            " ON l.k = r.k AND l.t >= r.rt AND l.t <= r.rt"
        )


def test_asof_in_string_literal_is_not_routed(engine):
    """Review regression: the phrase inside a literal is data, not dialect."""
    out = engine.execute("SELECT 'uses ASOF JOIN daily' AS s")
    assert out.collect()[0]["s"] == "uses ASOF JOIN daily"


def test_asof_where_is_post_match(engine, spark):
    """A trailing WHERE filters the MATCHED row (DuckDB asof semantics); it
    must not re-route the match to an earlier right row."""
    spark.sql("SELECT 0 AS k, 100 AS t").createOrReplaceTempView("aw_l")
    spark.sql(
        "SELECT 0 AS k, 15 AS rt, 1 AS qty UNION ALL SELECT 0, 99, 7"
    ).createOrReplaceTempView("aw_r")
    # the matched row (rt=99) has qty=7 -> dropped entirely, NOT replaced
    # by the earlier rt=15/qty=1 row
    rows = engine.execute(
        "SELECT l.t, r.rt FROM aw_l l ASOF JOIN aw_r r"
        " ON l.k = r.k AND l.t >= r.rt WHERE r.qty < 5"
    ).collect()
    assert rows == []
    rows = engine.execute(
        "SELECT l.t, r.rt FROM aw_l l ASOF JOIN aw_r r"
        " ON l.k = r.k AND l.t >= r.rt WHERE r.qty > 5"
    ).collect()
    assert [(r["t"], r["rt"]) for r in rows] == [(100, 99)]


def test_qualify_distinct_filters_before_dedup(engine, spark):
    """Review regression: QUALIFY runs BEFORE DISTINCT (DuckDB clause
    order); the injected flag must not widen the dedup key."""
    spark.sql(
        "SELECT CAST(id % 2 AS INT) AS g, CAST(id AS INT) AS v FROM RANGE(6)"
    ).createOrReplaceTempView("qd")
    rows = sorted(
        r["g"] for r in engine.execute(
            "SELECT DISTINCT g FROM qd QUALIFY"
            " ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) <= 2"
        ).collect()
    )
    assert rows == [0, 1]


def test_nondeterministic_dml_is_pinned(engine):
    """rand() inside DML evaluates ONCE: RETURNING agrees with the table
    swap, and later scans do not re-roll the predicate."""
    engine.execute("CREATE TABLE nd AS SELECT CAST(id AS INT) AS id FROM RANGE(100)")
    ret = engine.execute("DELETE FROM nd WHERE rand() < 0.5 RETURNING id")
    deleted = {r["id"] for r in ret.collect()}
    remaining = {r["id"] for r in engine.execute("SELECT * FROM nd").collect()}
    assert deleted | remaining == set(range(100))
    assert not (deleted & remaining)
    # stable across reads (the lazy plan must not re-roll)
    again = {r["id"] for r in engine.execute("SELECT * FROM nd").collect()}
    assert again == remaining
    ret2 = engine.execute(
        "UPDATE nd SET id = id + 1000 WHERE rand() < 0.5 RETURNING id"
    )
    bumped = {r["id"] for r in ret2.collect()}
    now = {r["id"] for r in engine.execute("SELECT * FROM nd").collect()}
    assert bumped <= now and all(b >= 1000 for b in bumped)
    assert now == {r["id"] for r in engine.execute("SELECT * FROM nd").collect()}
    engine.execute("DROP TABLE nd")


def test_explain_engine_dialect_selects(engine, spark):
    """EXPLAIN over ASOF/QUALIFY (Spark cannot parse them): routed through
    the engine, returns Spark's one-row `plan` shape — psql-compatible."""
    spark.sql("SELECT 0 AS k, 10 AS t").createOrReplaceTempView("ex_l")
    spark.sql("SELECT 0 AS k, 8 AS rt").createOrReplaceTempView("ex_r")
    out = engine.execute(
        "EXPLAIN SELECT l.t FROM ex_l l ASOF JOIN ex_r r"
        " ON l.k = r.k AND l.t >= r.rt"
    )
    assert out.columns == ["plan"]
    plan = out.collect()[0]["plan"]
    assert "Physical Plan" in plan or "Join" in plan
    out = engine.execute(
        "EXPLAIN FORMATTED SELECT t, ROW_NUMBER() OVER (ORDER BY t) AS rn"
        " FROM ex_l QUALIFY rn = 1"
    )
    assert "Window" in out.collect()[0]["plan"]
    out = engine.execute(
        "EXPLAIN SELECT k, SUM(t) OVER (ORDER BY k"
        " GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM ex_l"
    )
    plan = out.collect()[0]["plan"]
    assert out.columns == ["plan"] and "Window" in plan
    # the rewrite's dense-rank RANGE frame is what actually executes
    assert "specifiedwindowframe(RangeFrame" in plan or "RANGE" in plan.upper()
    # DISTINCT window aggregate: the COLLECT_SET rewrite is what executes
    out = engine.execute(
        "EXPLAIN SELECT k, COUNT(DISTINCT t) OVER (PARTITION BY k) AS c"
        " FROM ex_l"
    )
    plan = out.collect()[0]["plan"]
    assert out.columns == ["plan"] and "collect_set" in plan.lower()


def test_meta_transactions_reflects_txn_state(engine):
    row = engine.execute("SELECT * FROM meta_transactions").collect()[0]
    assert row["status"] == "idle" and row["savepoints"] == ""
    engine.execute("CREATE TABLE mtx AS SELECT 1 AS x")
    engine.execute("BEGIN; SAVEPOINT s1; UPDATE mtx SET x = 2; SAVEPOINT s2")
    row = engine.execute("SELECT * FROM meta_transactions").collect()[0]
    assert row["status"] == "in_transaction"
    assert row["savepoints"] == "s1,s2"
    assert row["pinned_tables"] >= 1
    engine.execute("ROLLBACK")
    row = engine.execute("SELECT * FROM meta_transactions").collect()[0]
    assert row["status"] == "idle"
    engine.execute("DROP TABLE mtx")


def test_transaction_is_fenced_from_other_threads(engine):
    """A transaction is scoped to the connection (thread) that began it:
    writes and txn control from another thread are rejected while it is
    open; reads are served from the BEGIN snapshot — committed-only
    visibility, the reference's Validate semantics (validate.hpp:20)."""
    import threading

    engine.execute("CREATE TABLE fence AS SELECT 1 AS x")
    engine.execute("BEGIN; UPDATE fence SET x = 2")
    results: dict = {}

    def intruder():
        try:
            engine.execute("UPDATE fence SET x = 99")
            results["write"] = "allowed"
        except Exception as e:
            results["write"] = str(e)
        try:
            engine.execute("ROLLBACK")
            results["rollback"] = "allowed"
        except Exception as e:
            results["rollback"] = str(e)
        results["read"] = engine.execute("SELECT x FROM fence").collect()[0]["x"]

    t = threading.Thread(target=intruder)
    t.start()
    t.join()
    assert "another connection" in results["write"]
    assert "another connection" in results["rollback"]
    assert results["read"] == 1  # committed-only: uncommitted x=2 invisible
    # the owner itself still reads its own uncommitted write
    assert engine.execute("SELECT x FROM fence").collect()[0]["x"] == 2
    engine.execute("ROLLBACK")  # owner can still abort
    assert engine.execute("SELECT x FROM fence").collect()[0]["x"] == 1
    engine.execute("DROP TABLE fence")


def _on_thread(fn):
    """Run fn on a fresh thread (a distinct 'connection'); return result or
    re-raise its exception."""
    import threading

    out: dict = {}

    def run():
        try:
            out["r"] = fn()
        except Exception as e:  # noqa: BLE001
            out["e"] = e

    t = threading.Thread(target=run)
    t.start()
    t.join()
    if "e" in out:
        raise out["e"]
    return out.get("r")


def test_cross_connection_snapshot_visibility_matrix(engine):
    """The full two-connection visibility matrix (VERDICT r8 tasks 1+2):
    while A's transaction is open, B's reads see the pre-BEGIN committed
    state for every object kind the txn can touch — updated table, dropped
    table, created table, redefined view — and B's post-COMMIT /
    post-ROLLBACK reads see the outcome. Mirrors the reference's MVCC
    visibility (validate.hpp:20, transaction_manager.hpp)."""
    e = engine
    e.execute("CREATE TABLE sv_t AS SELECT 1 AS x")
    e.execute("CREATE TABLE sv_drop AS SELECT 7 AS d")
    e.execute("CREATE VIEW sv_v AS SELECT x + 10 AS vx FROM sv_t")

    e.execute("BEGIN")
    e.execute("UPDATE sv_t SET x = 2")
    e.execute("DROP TABLE sv_drop")
    e.execute("CREATE TABLE sv_new AS SELECT 99 AS n")
    e.execute("CREATE OR REPLACE VIEW sv_v AS SELECT x + 100 AS vx FROM sv_t")

    # B (another connection): committed-only view of everything
    assert _on_thread(
        lambda: e.execute("SELECT x FROM sv_t").collect()[0]["x"]) == 1
    assert _on_thread(
        lambda: e.execute("SELECT d FROM sv_drop").collect()[0]["d"]) == 7
    assert _on_thread(
        lambda: e.execute("SELECT vx FROM sv_v").collect()[0]["vx"]) == 11
    import pytest as _pytest
    with _pytest.raises(Exception):  # created-in-txn table is invisible to B
        _on_thread(lambda: e.execute("SELECT * FROM sv_new").collect())

    # A (owner) still sees its own uncommitted writes mid-flight
    assert e.execute("SELECT x FROM sv_t").collect()[0]["x"] == 2
    assert e.execute("SELECT n FROM sv_new").collect()[0]["n"] == 99
    assert e.execute("SELECT vx FROM sv_v").collect()[0]["vx"] == 102

    e.execute("COMMIT")
    # B: post-COMMIT state
    assert _on_thread(
        lambda: e.execute("SELECT x FROM sv_t").collect()[0]["x"]) == 2
    assert _on_thread(
        lambda: e.execute("SELECT n FROM sv_new").collect()[0]["n"]) == 99
    assert _on_thread(
        lambda: e.execute("SELECT vx FROM sv_v").collect()[0]["vx"]) == 102

    # second txn: B observed old snapshot, then A rolls back
    e.execute("BEGIN")
    e.execute("UPDATE sv_t SET x = 5")
    assert _on_thread(
        lambda: e.execute("SELECT x FROM sv_t").collect()[0]["x"]) == 2
    e.execute("ROLLBACK")
    assert _on_thread(
        lambda: e.execute("SELECT x FROM sv_t").collect()[0]["x"]) == 2
    assert e.execute("SELECT x FROM sv_t").collect()[0]["x"] == 2

    e.execute("DROP VIEW sv_v; DROP TABLE sv_new; DROP TABLE sv_t")


def test_snapshot_read_restores_live_state(engine):
    """After a non-owner snapshot read, the owner's view of its own
    in-flight state is fully intact (temp views swapped back), including
    savepoint interplay."""
    e = engine
    e.execute("CREATE TABLE sr_t AS SELECT 1 AS x")
    e.execute("BEGIN")
    e.execute("UPDATE sr_t SET x = 2")
    e.execute("SAVEPOINT sp1")
    e.execute("UPDATE sr_t SET x = 3")
    assert _on_thread(
        lambda: e.execute("SELECT x FROM sr_t").collect()[0]["x"]) == 1
    # owner still at its latest write after B's swap-read
    assert e.execute("SELECT x FROM sr_t").collect()[0]["x"] == 3
    e.execute("ROLLBACK TO SAVEPOINT sp1")
    assert e.execute("SELECT x FROM sr_t").collect()[0]["x"] == 2
    assert _on_thread(
        lambda: e.execute("SELECT x FROM sr_t").collect()[0]["x"]) == 1
    e.execute("COMMIT")
    assert _on_thread(
        lambda: e.execute("SELECT x FROM sr_t").collect()[0]["x"]) == 2
    e.execute("DROP TABLE sr_t")


def test_client_session_token_scopes_ownership(engine):
    """Transaction ownership is keyed to the client token, not the thread
    ident (CPython recycles idents after thread death): a 'new connection'
    on the same thread with a different token cannot commit or write inside
    the abandoned transaction."""
    e = engine
    e.execute("CREATE TABLE tok_t AS SELECT 1 AS x")
    t1 = e.begin_client_session()
    e.execute("BEGIN; UPDATE tok_t SET x = 2")
    # same THREAD, new connection token — must be fenced despite ident match
    e.begin_client_session()
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="another connection"):
        e.execute("COMMIT")
    with _pytest.raises(RuntimeError, match="another connection"):
        e.execute("UPDATE tok_t SET x = 9")
    # and its reads are committed-only
    assert e.execute("SELECT x FROM tok_t").collect()[0]["x"] == 1
    # teardown of the ORIGINAL connection aborts the abandoned transaction
    e.end_client_session(t1)
    assert e._txn is None
    assert e.execute("SELECT x FROM tok_t").collect()[0]["x"] == 1
    # engine is writable again
    e.execute("UPDATE tok_t SET x = 4")
    assert e.execute("SELECT x FROM tok_t").collect()[0]["x"] == 4
    e.execute("DROP TABLE tok_t")


def test_groups_frame_sql_shapes_and_errors(engine, spark):
    """GROUPS BETWEEN SQL routes through the dense-rank/RANGE rewrite
    (engine._groups_frame_sql): shared rank for same (partition, order),
    verbatim bound carry-over, outer ORDER BY/LIMIT, and clear errors for
    the unsupported GROUP BY shape."""
    engine.execute(
        "CREATE TABLE gfs AS SELECT CAST(id % 2 AS INT) AS p,"
        " CAST(id % 4 AS INT) AS k, CAST(id AS DOUBLE) AS v FROM RANGE(16)"
    )
    rows = engine.execute(
        "SELECT p, k, v,"
        " SUM(v) OVER (PARTITION BY p ORDER BY k"
        "   GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s"
        " FROM gfs ORDER BY p, k, v LIMIT 6"
    ).collect()
    assert len(rows) == 6
    # row (p=0, k=0): peer group {0,4,8,12}, no preceding group -> 24.0
    assert rows[0]["s"] == 0.0 + 4 + 8 + 12
    # row (p=0, k=2): groups k=0 and k=2 -> 24 + (2+6+10+14) = 56
    k2 = [r for r in rows if r["p"] == 0 and r["k"] == 2]
    assert k2 and k2[0]["s"] == 24.0 + 32.0
    # helper columns must not leak
    assert all(not c.startswith("__hs_grp") for c in
               engine.execute(
                   "SELECT *, COUNT(*) OVER (ORDER BY k GROUPS BETWEEN"
                   " UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM gfs"
               ).columns)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="GROUP BY"):
        engine.execute(
            "SELECT p, SUM(v) OVER (ORDER BY p GROUPS BETWEEN 1 PRECEDING"
            " AND CURRENT ROW) AS s FROM gfs GROUP BY p"
        )
    # a string literal containing the keywords is NOT this dialect
    lit = engine.execute(
        "SELECT 'GROUPS BETWEEN a AND b' AS t FROM gfs LIMIT 1"
    ).collect()
    assert lit[0]["t"] == "GROUPS BETWEEN a AND b"
    engine.execute("DROP TABLE gfs")


def test_groups_frame_sql_differential(engine, spark, duck):
    """Same data both engines: the engine's GROUPS text vs the rank-rewrite
    run natively on DuckDB (sandbox DuckDB lacks GROUPS mode)."""
    engine.execute(
        "CREATE TABLE gfd AS SELECT CAST(id % 3 AS INT) AS p,"
        " CAST(id % 5 AS INT) AS k, CAST(id AS DOUBLE) AS v FROM RANGE(30)"
    )
    duck.execute(
        "CREATE TABLE gfd AS SELECT CAST(r % 3 AS INT) AS p,"
        " CAST(r % 5 AS INT) AS k, CAST(r AS DOUBLE) AS v FROM range(30) t(r)"
    )
    got = [
        (r["p"], r["k"], r["v"], r["s"], r["c"])
        for r in engine.execute(
            "SELECT p, k, v,"
            " SUM(v) OVER (PARTITION BY p ORDER BY k"
            "   GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s,"
            " CAST(COUNT(*) OVER (PARTITION BY p ORDER BY k"
            "   GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            "   AS BIGINT) AS c"
            " FROM gfd ORDER BY p, k, v"
        ).collect()
    ]
    want = [tuple(w) for w in duck.execute(
        "SELECT p, k, v,"
        " SUM(v) OVER (PARTITION BY p ORDER BY dr"
        "   RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s,"
        " CAST(COUNT(*) OVER (PARTITION BY p ORDER BY dr"
        "   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c"
        " FROM (SELECT *, DENSE_RANK() OVER (PARTITION BY p ORDER BY k) AS dr"
        "       FROM gfd) ORDER BY p, k, v"
    ).fetchall()]
    assert got == want
    engine.execute("DROP TABLE gfd")
    duck.execute("DROP TABLE gfd")


def test_lock_timeout_queues_writer_until_commit(engine, spark):
    """pg's lock_timeout analog: with hyrise_spark.lock_timeout set, a
    fenced writer WAITS for the other connection's transaction instead of
    erroring — proceeding when it commits, or erroring with a lock-timeout
    message when it does not end in time."""
    import threading
    import time

    engine.execute("CREATE TABLE lt_t AS SELECT 1 AS x")
    engine.execute("INSERT INTO meta_settings VALUES ('hyrise_spark.lock_timeout', '10000')")
    try:
        engine.execute("BEGIN; UPDATE lt_t SET x = 2")
        out: dict = {}

        def queued_writer():
            t0 = time.monotonic()
            try:
                engine.execute("UPDATE lt_t SET x = 10")
                out["ok"] = time.monotonic() - t0
            except Exception as e:  # noqa: BLE001
                out["err"] = str(e)

        t = threading.Thread(target=queued_writer)
        t.start()
        time.sleep(1.0)
        assert not out, "writer should still be queued"
        engine.execute("COMMIT")
        t.join(timeout=30)
        assert "ok" in out, out
        assert out["ok"] >= 0.9  # it actually waited for the commit
        assert engine.execute("SELECT x FROM lt_t").collect()[0]["x"] == 10

        # timeout leg: short limit, transaction never ends in time
        spark.conf.set("hyrise_spark.lock_timeout", "300")
        engine.execute("BEGIN; UPDATE lt_t SET x = 3")
        err: dict = {}

        def timed_out_writer():
            try:
                engine.execute("UPDATE lt_t SET x = 99")
                err["ok"] = True
            except Exception as e:  # noqa: BLE001
                err["err"] = str(e)

        t = threading.Thread(target=timed_out_writer)
        t.start()
        t.join(timeout=30)
        assert "lock timeout" in err.get("err", ""), err
        engine.execute("ROLLBACK")
        assert engine.execute("SELECT x FROM lt_t").collect()[0]["x"] == 10
    finally:
        spark.conf.set("hyrise_spark.lock_timeout", "0")
        engine.execute("DROP TABLE lt_t")


def test_concurrent_snapshot_reads_never_see_intermediate_state(engine):
    """Stress the snapshot-read swap under churn: an owner thread runs
    BEGIN -> set odd -> set even -> COMMIT in a loop while reader threads
    SELECT continuously from other connections. Readers must only ever
    observe COMMITTED values (even) — never the mid-transaction odd state,
    and never an error from the temp-view swap machinery."""
    import threading

    engine.execute("CREATE TABLE cc_t AS SELECT 0 AS x")
    stop = threading.Event()
    seen: list = []
    errs: list = []

    def reader():
        while not stop.is_set():
            try:
                seen.append(
                    engine.execute("SELECT x FROM cc_t").collect()[0]["x"])
            except Exception as e:  # noqa: BLE001
                errs.append(str(e))
                return

    readers = [threading.Thread(target=reader) for _ in range(3)]
    for t in readers:
        t.start()
    try:
        for i in range(1, 6):
            engine.execute("BEGIN")
            engine.execute(f"UPDATE cc_t SET x = {2 * i - 1}")  # odd: in-flight
            engine.execute(f"UPDATE cc_t SET x = {2 * i}")      # even: final
            engine.execute("COMMIT")
    finally:
        stop.set()
        for t in readers:
            t.join(timeout=60)
    assert not errs, errs
    assert seen, "readers never completed a select"
    assert all(v % 2 == 0 for v in seen), sorted(set(seen))
    engine.execute("DROP TABLE cc_t")


def test_fenced_prepared_dml_hits_write_fence_not_snapshot(engine):
    """Review regression (round 9): EXECUTE of a prepared INSERT from a
    fenced connection must hit the WRITE fence — not the snapshot-read
    path, where its effect would be silently discarded on swap-back and
    could leave the live temp view pointing at a phantom plan."""
    engine.execute("CREATE TABLE fpd AS SELECT 1 AS x")
    engine.execute("PREPARE fpd_ins FROM 'INSERT INTO fpd VALUES (99)'")
    engine.execute("BEGIN; UPDATE fpd SET x = 2")
    out = _on_thread(lambda: _try_exec(engine, "EXECUTE fpd_ins"))
    assert "another connection" in out, out
    # no phantom state anywhere: owner sees 1 row with its write...
    rows = engine.execute("SELECT x FROM fpd").collect()
    assert [r["x"] for r in rows] == [2]
    engine.execute("COMMIT")
    # ...and post-commit every connection sees exactly the committed row
    assert _on_thread(
        lambda: [r["x"] for r in engine.execute("SELECT x FROM fpd").collect()]
    ) == [2]
    # prepared READ-ONLY statements still snapshot-read while fenced
    engine.execute("PREPARE fpd_sel FROM 'SELECT x FROM fpd'")
    engine.execute("BEGIN; UPDATE fpd SET x = 5")
    assert _on_thread(
        lambda: engine.execute("EXECUTE fpd_sel").collect()[0]["x"]) == 2
    engine.execute("ROLLBACK; DROP TABLE fpd")


def _try_exec(engine, sql):
    try:
        engine.execute(sql)
        return "allowed"
    except Exception as e:  # noqa: BLE001
        return str(e)


def test_snapshot_read_pins_sql_functions(engine):
    """Review regression: a function the transaction created or replaced is
    invisible to other connections' reads (Spark temp functions resolve
    globally, so the snapshot read re-registers the pinned body)."""
    e = engine
    e.execute("CREATE TABLE sf_t AS SELECT 4 AS x")
    e.execute("CREATE FUNCTION sf_f(a INT) RETURNS INT RETURN a * 10")
    e.execute("BEGIN")
    e.execute("CREATE OR REPLACE FUNCTION sf_f(a INT) RETURNS INT RETURN a * 100")
    e.execute("CREATE FUNCTION sf_g(a INT) RETURNS INT RETURN a + 1")
    # owner sees its own redefinition + new function
    assert e.execute("SELECT sf_f(x) AS v FROM sf_t").collect()[0]["v"] == 400
    assert e.execute("SELECT sf_g(x) AS v FROM sf_t").collect()[0]["v"] == 5
    # another connection: pinned body, created function invisible
    assert _on_thread(
        lambda: e.execute("SELECT sf_f(x) AS v FROM sf_t").collect()[0]["v"]
    ) == 40
    import pytest as _pytest
    with _pytest.raises(Exception):
        _on_thread(lambda: e.execute("SELECT sf_g(x) AS v FROM sf_t").collect())
    # owner state fully restored after the swap-read
    assert e.execute("SELECT sf_f(x) AS v FROM sf_t").collect()[0]["v"] == 400
    assert e.execute("SELECT sf_g(x) AS v FROM sf_t").collect()[0]["v"] == 5
    e.execute("ROLLBACK")
    assert e.execute("SELECT sf_f(x) AS v FROM sf_t").collect()[0]["v"] == 40
    e.execute("DROP FUNCTION sf_f; DROP TABLE sf_t")


def _session_registry(spark):
    """The session's temp views and temp functions, by name."""
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    fns = {f.name for f in spark.catalog.listFunctions() if f.isTemporary}
    return views, fns


def test_snapshot_read_and_rollback_leave_registry_sets_exact(engine, spark):
    """Spark's session registry follows the installed state exactly: a
    snapshot read from another connection leaves the owner's temp views
    and temp functions as they were before the read, and ROLLBACK leaves
    those of the pre-BEGIN state. The transaction creates a table, drops a
    view, redefines a view and replaces a SQL function."""
    e = engine
    e.execute("CREATE TABLE rg_t AS SELECT 3 AS x")
    e.execute("CREATE VIEW rg_drop AS SELECT x FROM rg_t")
    e.execute("CREATE VIEW rg_v AS SELECT x + 1 AS y FROM rg_t")
    e.execute("CREATE FUNCTION rg_f(a INT) RETURNS INT RETURN a * 2")
    pre_begin = _session_registry(spark)

    e.execute("BEGIN")
    e.execute("CREATE TABLE rg_new AS SELECT 5 AS n")
    e.execute("DROP VIEW rg_drop")
    e.execute("CREATE OR REPLACE VIEW rg_v AS SELECT x + 100 AS y FROM rg_t")
    e.execute("CREATE OR REPLACE FUNCTION rg_f(a INT) RETURNS INT RETURN a * 3")
    pre_read = _session_registry(spark)
    assert "rg_new" in pre_read[0] and "rg_drop" not in pre_read[0]

    assert _on_thread(lambda: e.execute(
        "SELECT rg_f(y) AS z FROM rg_v").collect()[0]["z"]) == 8
    assert _session_registry(spark) == pre_read
    assert e.execute("SELECT rg_f(y) AS z FROM rg_v").collect()[0]["z"] == 309

    e.execute("ROLLBACK")
    assert _session_registry(spark) == pre_begin
    assert e.execute("SELECT rg_f(x) AS z FROM rg_drop").collect()[0]["z"] == 6
    e.execute("DROP VIEW rg_drop; DROP VIEW rg_v; DROP FUNCTION rg_f;"
              " DROP TABLE rg_t")


def test_disconnect_rollback_invalidates_plan_cache(engine):
    """Review regression: the implicit teardown rollback bypasses the SQL
    ROLLBACK path, but must still move the cache epoch — a plan cached
    before BEGIN may not serve stale post-restore."""
    e = engine
    e.execute("CREATE TABLE dri AS SELECT 1 AS x")
    tok = e.begin_client_session()
    e.execute("SELECT x FROM dri")  # cached pre-txn
    e.execute("BEGIN; UPDATE dri SET x = 2")
    e.end_client_session(tok)  # teardown rollback (no SQL statement)
    assert e._txn is None
    assert e.execute("SELECT x FROM dri").collect()[0]["x"] == 1
    e.execute("DROP TABLE dri")


def test_groups_frame_sql_qualified_references(engine):
    """Review regression: table-qualified column references in a GROUPS
    query must survive the subquery rewrite (the subquery carries the
    original single-table alias)."""
    engine.execute(
        "CREATE TABLE gq AS SELECT CAST(id % 2 AS INT) AS p,"
        " CAST(id AS DOUBLE) AS v FROM RANGE(8)"
    )
    rows = engine.execute(
        "SELECT g.p, g.v, SUM(g.v) OVER (PARTITION BY g.p ORDER BY g.v"
        " GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s"
        " FROM gq g ORDER BY g.p, g.v"
    ).collect()
    assert rows[-1]["s"] == 1 + 3 + 5 + 7  # running sum of the odd partition
    # unaliased table name also qualifies
    rows = engine.execute(
        "SELECT gq.p, SUM(gq.v) OVER (ORDER BY gq.v"
        " GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM gq"
        " ORDER BY gq.v LIMIT 2"
    ).collect()
    assert len(rows) == 2
    engine.execute("DROP TABLE gq")


def test_explain_analyze_reports_final_adaptive_plan(engine):
    """EXPLAIN ANALYZE (postgres dialect, beyond the reference): executes
    the query and reports the plan that actually ran — with AQE, the FINAL
    adaptive plan, which a pre-execution EXPLAIN cannot show. Works for
    engine-dialect SELECTs too (routed like plain EXPLAIN)."""
    engine.execute("CREATE TABLE ea_t AS SELECT CAST(id AS INT) AS x FROM RANGE(50)")
    out = engine.execute(
        "EXPLAIN ANALYZE SELECT x % 5 AS g, COUNT(*) AS n FROM ea_t GROUP BY x % 5"
    )
    assert out.columns == ["plan"]
    plan = out.collect()[0]["plan"]
    assert "isFinalPlan=true" in plan  # the plan EXECUTED, not just analyzed
    assert "HashAggregate" in plan
    # dialect SELECT through the same route
    plan = engine.execute(
        "EXPLAIN ANALYZE SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn"
        " FROM ea_t QUALIFY rn <= 3"
    ).collect()[0]["plan"]
    assert "Window" in plan
    engine.execute("DROP TABLE ea_t")


# -- round 9: dialect wave 3 — DISTINCT ON, star modifiers, frame EXCLUDE ----


def test_distinct_on_shapes(engine, spark):
    """DISTINCT ON (postgres dialect): top-1 per key under ORDER BY,
    trailing LIMIT, bare-star output drops the helper column (registry
    differential: distinct_on_latest runs the same text on DuckDB)."""
    spark.sql(
        "SELECT CAST(id % 3 AS INT) AS g, CAST(id AS INT) AS v FROM RANGE(9)"
    ).createOrReplaceTempView("don1")
    rows = {
        (r["g"], r["v"])
        for r in engine.execute(
            "SELECT DISTINCT ON (g) g, v FROM don1 ORDER BY g, v DESC"
        ).collect()
    }
    assert rows == {(0, 6), (1, 7), (2, 8)}
    # SELECT * keeps every base column and drops the row-number helper
    out = engine.execute(
        "SELECT DISTINCT ON (g) * FROM don1 ORDER BY g, v"
    )
    assert out.columns == ["g", "v"]
    assert {(r["g"], r["v"]) for r in out.collect()} == {(0, 0), (1, 1), (2, 2)}
    # LIMIT applies after the dedup
    assert (
        engine.execute(
            "SELECT DISTINCT ON (g) g, v FROM don1 ORDER BY g, v LIMIT 2"
        ).count()
        == 2
    )
    with pytest.raises(Exception, match="GROUP BY"):
        engine.execute(
            "SELECT DISTINCT ON (g) g, COUNT(*) AS n FROM don1 GROUP BY g"
        )


def test_star_modifiers_shapes(engine, spark):
    """`* EXCLUDE/REPLACE` (DuckDB star modifiers): expansion against the
    analyzed schema, unknown columns error, DISTINCT preserved."""
    spark.sql(
        "SELECT CAST(id AS INT) AS a, CAST(id % 2 AS INT) AS b,"
        " CAST(id * 10 AS INT) AS c FROM RANGE(4)"
    ).createOrReplaceTempView("sm1")
    out = engine.execute("SELECT * EXCLUDE (c) FROM sm1 ORDER BY a")
    assert out.columns == ["a", "b"]
    # DuckDB's bare single-column spelling
    out = engine.execute("SELECT * EXCLUDE c FROM sm1 ORDER BY a")
    assert out.columns == ["a", "b"]
    out = engine.execute(
        "SELECT * EXCLUDE (a) REPLACE (b * 100 AS b) FROM sm1 WHERE a < 2"
    )
    assert out.columns == ["b", "c"]
    assert {r["b"] for r in out.collect()} == {0, 100}
    out = engine.execute("SELECT DISTINCT * EXCLUDE (a, c) FROM sm1")
    assert sorted(r["b"] for r in out.collect()) == [0, 1]
    with pytest.raises(Exception, match="no such column"):
        engine.execute("SELECT * EXCLUDE (zz) FROM sm1")
    with pytest.raises(Exception, match="no such column"):
        engine.execute("SELECT * REPLACE (a + 1 AS zz) FROM sm1")


def test_frame_exclude_current_row(engine, spark, duck):
    """Frame EXCLUDE CURRENT ROW: the subtraction rewrite matches DuckDB's
    native exclusion on an integer lattice, NULL argument rows subtract
    nothing, a frame left empty by the exclusion yields NULL (SUM) / 0
    (COUNT), and unsupported shapes error clearly."""
    # NULLS FIRST is explicit inside OVER: Spark defaults ASC to nulls-
    # first, DuckDB to nulls-last, and the window order decides the frame
    q = (
        "SELECT v, CAST(SUM(v) OVER (ORDER BY v NULLS FIRST ROWS BETWEEN"
        " 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS BIGINT) AS s,"
        " CAST(COUNT(v) OVER (ORDER BY v NULLS FIRST ROWS BETWEEN"
        " 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS BIGINT) AS c"
        " FROM fx1 ORDER BY v NULLS FIRST"
    )
    spark.sql(
        "SELECT CAST(id AS INT) AS v FROM RANGE(4)"
        " UNION ALL SELECT CAST(NULL AS INT)"
    ).createOrReplaceTempView("fx1")
    duck.execute(
        "CREATE OR REPLACE VIEW fx1 AS SELECT CAST(range AS INT) AS v"
        " FROM RANGE(4) UNION ALL SELECT NULL"
    )
    got = [(r["v"], r["s"], r["c"]) for r in engine.execute(q).collect()]
    want = [tuple(r) for r in duck.execute(q).fetchall()]
    assert got == want
    # single-row frame: EXCLUDE empties it -> SUM NULL, COUNT 0
    spark.sql("SELECT 42 AS v").createOrReplaceTempView("fx2")
    r = engine.execute(
        "SELECT CAST(SUM(v) OVER (ORDER BY v ROWS BETWEEN CURRENT ROW AND"
        " CURRENT ROW EXCLUDE CURRENT ROW) AS BIGINT) AS s,"
        " CAST(COUNT(*) OVER (ORDER BY v ROWS BETWEEN CURRENT ROW AND"
        " CURRENT ROW EXCLUDE CURRENT ROW) AS BIGINT) AS c FROM fx2"
    ).collect()[0]
    assert r["s"] is None and r["c"] == 0
    # MIN/MAX exclusion is SUPPORTED since round 12 (segmented windows,
    # _minmax_exclusion_expr) — differential instead of the old raise
    qm = ("SELECT v, MAX(v) OVER (ORDER BY v NULLS FIRST ROWS BETWEEN"
          " 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS m"
          " FROM fx1 ORDER BY v NULLS FIRST")
    got = [(r["v"], r["m"]) for r in engine.execute(qm).collect()]
    assert got == [tuple(r) for r in duck.execute(qm).fetchall()]
    with pytest.raises(Exception, match="must contain the current row"):
        engine.execute(
            "SELECT SUM(v) OVER (ORDER BY v ROWS BETWEEN 3 PRECEDING AND"
            " 1 PRECEDING EXCLUDE CURRENT ROW) AS m FROM fx1"
        )


def test_frame_exclude_group_and_ties(engine, spark, duck):
    """EXCLUDE GROUP/TIES: peer-total rewrite matches DuckDB on tied data;
    ROWS-mode frames run through the round-11 position-arithmetic rewrite
    (the ORDER BY key determines v here, so rows within a peer group are
    interchangeable and per-row results are deterministic)."""
    q = (
        "SELECT g, v, CAST(SUM(v) OVER (ORDER BY g RANGE BETWEEN"
        " UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS BIGINT) AS sg,"
        " CAST(SUM(v) OVER (ORDER BY g RANGE BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW EXCLUDE TIES) AS BIGINT) AS st,"
        " CAST(COUNT(*) OVER (ORDER BY g RANGE BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW EXCLUDE GROUP) AS BIGINT) AS cg"
        " FROM fxg ORDER BY g, v"
    )
    spark.sql(
        "SELECT CAST(id % 3 AS INT) AS g, CAST(id AS INT) AS v FROM RANGE(9)"
    ).createOrReplaceTempView("fxg")
    duck.execute(
        "CREATE OR REPLACE VIEW fxg AS SELECT CAST(range % 3 AS INT) AS g,"
        " CAST(range AS INT) AS v FROM RANGE(9)"
    )
    got = [tuple(r) for r in engine.execute(q).collect()]
    want = [tuple(r) for r in duck.execute(q).fetchall()]
    assert got == want
    # first peer group: GROUP-excluded frame is empty -> SUM NULL, COUNT 0
    assert got[0][2] is None and got[0][4] == 0
    # ROWS-mode GROUP/TIES (round 11): the aggregated value must be a
    # function of the ORDER BY key for per-key determinism under ties —
    # compare the result MULTISET against DuckDB's native execution
    q2 = (
        "SELECT g, CAST(SUM(g * 10) OVER (ORDER BY g ROWS BETWEEN 1"
        " PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS BIGINT) AS s,"
        " CAST(COUNT(*) OVER (ORDER BY g ROWS BETWEEN 1 PRECEDING"
        " AND 1 FOLLOWING EXCLUDE TIES) AS BIGINT) AS c FROM fxg"
    )
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    got2 = sorted((tuple(r) for r in engine.execute(q2).collect()), key=key)
    want2 = sorted(
        (tuple(int(x) if x is not None else None for x in r)
         for r in duck.execute(q2).fetchall()),
        key=key,
    )
    assert got2 == want2


def test_explain_round9_dialect_selects(engine, spark):
    """EXPLAIN over DISTINCT ON / star modifiers / frame exclusion routes
    through the engine like ASOF/QUALIFY and shows the real Spark plan —
    DISTINCT ON's rewrite must plan the two-stage WindowGroupLimit."""
    spark.sql(
        "SELECT CAST(id % 3 AS INT) AS g, CAST(id AS INT) AS v FROM RANGE(30)"
    ).createOrReplaceTempView("ex9")
    out = engine.execute(
        "EXPLAIN FORMATTED SELECT DISTINCT ON (g) g, v FROM ex9 ORDER BY g, v"
    )
    plan = out.collect()[0]["plan"]
    assert out.columns == ["plan"] and "WindowGroupLimit" in plan
    out = engine.execute("EXPLAIN SELECT * EXCLUDE (v) FROM ex9")
    assert "Physical Plan" in out.collect()[0]["plan"]
    out = engine.execute(
        "EXPLAIN SELECT SUM(v) OVER (ORDER BY g RANGE BETWEEN UNBOUNDED"
        " PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS s FROM ex9"
    )
    assert "Window" in out.collect()[0]["plan"]


def test_copy_query_and_partitioned_export(engine, spark, duck, tmp_path):
    """COPY (query) TO + PARTITION_BY (DuckDB dialect; beyond the
    reference's table-only Export, export.hpp:24): hive-layout parquet —
    one directory per key, differentially checked against DuckDB's native
    partitioned COPY of the same statement shape."""
    import os

    spark.sql(
        "SELECT CAST(id AS INT) AS id, CAST(id % 3 AS INT) AS g,"
        " CAST(id * 10 AS INT) AS v FROM RANGE(30)"
    ).createOrReplaceTempView("cpx")
    duck.execute(
        "CREATE OR REPLACE VIEW cpx AS SELECT CAST(range AS INT) AS id,"
        " CAST(range % 3 AS INT) AS g, CAST(range * 10 AS INT) AS v"
        " FROM RANGE(30)"
    )
    # query form
    qp = str(tmp_path / "q.parquet")
    engine.execute(f"COPY (SELECT id, v FROM cpx WHERE g = 1) TO '{qp}'"
                   " WITH (FORMAT PARQUET)")
    back = spark.read.parquet(qp)
    assert back.count() == 10 and set(back.columns) == {"id", "v"}
    # dialect SELECT through the query form
    dp = str(tmp_path / "don.parquet")
    engine.execute(
        f"COPY (SELECT DISTINCT ON (g) g, id FROM cpx ORDER BY g, id DESC)"
        f" TO '{dp}' WITH (FORMAT PARQUET)"
    )
    assert {(r["g"], r["id"]) for r in spark.read.parquet(dp).collect()} == {
        (0, 27), (1, 28), (2, 29)
    }
    # partitioned export: same statement shape on both engines
    sp_dir, du_dir = str(tmp_path / "sp"), str(tmp_path / "du")
    engine.execute(
        f"COPY cpx TO '{sp_dir}' (FORMAT PARQUET, PARTITION_BY (g))"
    )
    duck.execute(
        f"COPY cpx TO '{du_dir}' (FORMAT PARQUET, PARTITION_BY (g))"
    )
    assert sorted(
        d for d in os.listdir(sp_dir) if d.startswith("g=")
    ) == ["g=0", "g=1", "g=2"] == sorted(
        d for d in os.listdir(du_dir) if d.startswith("g=")
    )
    got = {
        tuple(r)
        for r in duck.execute(
            f"SELECT id, g, v FROM read_parquet('{sp_dir}/*/*.parquet',"
            f" hive_partitioning = true) ORDER BY id"
        ).fetchall()
    }
    want = {
        tuple(r)
        for r in duck.execute(
            f"SELECT id, g, v FROM read_parquet('{du_dir}/*/*.parquet',"
            f" hive_partitioning = true) ORDER BY id"
        ).fetchall()
    }
    assert got == want and len(got) == 30
    with pytest.raises(Exception, match="no such column"):
        engine.execute(
            f"COPY cpx TO '{sp_dir}2' (FORMAT PARQUET, PARTITION_BY (zz))"
        )


def test_window_filter_and_no_others(engine, spark, duck):
    """FILTER (WHERE p) OVER rewrite matches DuckDB exactly (null-ignoring
    aggregates), EXCLUDE NO OTHERS is the documented no-op (MIN/MAX
    allowed), and GROUP BY FILTER stays on Spark's native path."""
    q = (
        "SELECT x, CAST(SUM(x) FILTER (WHERE x % 2 = 0) OVER (ORDER BY x"
        " ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS s,"
        " CAST(COUNT(*) FILTER (WHERE x > 2) OVER (ORDER BY x) AS BIGINT) AS c,"
        " CAST(MIN(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND"
        " 1 FOLLOWING EXCLUDE NO OTHERS) AS BIGINT) AS mn"
        " FROM fw1 ORDER BY x"
    )
    spark.sql("SELECT CAST(id AS INT) AS x FROM RANGE(6)").createOrReplaceTempView("fw1")
    duck.execute(
        "CREATE OR REPLACE VIEW fw1 AS SELECT CAST(range AS INT) AS x FROM RANGE(6)"
    )
    got = [tuple(r) for r in engine.execute(q).collect()]
    want = [tuple(r) for r in duck.execute(q).fetchall()]
    assert got == want
    # empty filtered frame -> SUM NULL (both engines)
    assert got[1][1] == 0 and got[0][2] == 0
    # GROUP BY FILTER (no OVER): must NOT be rewritten — native Spark path
    r = engine.execute(
        "SELECT CAST(SUM(x) FILTER (WHERE x > 3) AS BIGINT) AS s FROM fw1"
    ).collect()[0]
    assert r["s"] == 9


def test_vacuum_statement_compacts(engine, spark):
    """VACUUM <table> (postgres-parity spelling of the manual
    MvccDeletePlugin-analog compaction): lineage flattens, contents
    byte-identical, unknown table errors."""
    engine.execute("CREATE TABLE vac_t AS SELECT id AS x FROM RANGE(50)")
    try:
        for i in range(3):
            engine.execute(f"UPDATE vac_t SET x = x + 1 WHERE x % 7 = {i}")
        before = {r["x"] for r in engine.execute("SELECT x FROM vac_t").collect()}
        engine.execute("VACUUM vac_t")
        after = {r["x"] for r in engine.execute("SELECT x FROM vac_t").collect()}
        assert after == before
        # compaction registered a parquet-backed plan (trail entry exists)
        assert engine.catalog.compact_paths.get("vac_t"), "no compaction trail"
        with pytest.raises(Exception, match="no such table"):
            engine.execute("VACUUM nope_t")
    finally:
        engine.execute("DROP TABLE vac_t")


def test_copy_jsonl_roundtrip(engine, spark, tmp_path):
    """COPY TO/FROM WITH (FORMAT JSONL): schema-on-read json-lines
    interchange — write, re-ingest, contents match; extension inference
    (.jsonl) works without the explicit FORMAT."""
    spark.sql(
        "SELECT CAST(id AS INT) AS k, CONCAT('v', CAST(id AS STRING)) AS s"
        " FROM RANGE(20)"
    ).createOrReplaceTempView("jt")
    p = str(tmp_path / "jt.jsonl")
    engine.execute(f"COPY jt TO '{p}' WITH (FORMAT JSONL)")
    engine.execute(f"COPY jt_back FROM '{p}' WITH (FORMAT JSONL)")
    got = {(r["k"], r["s"]) for r in engine.execute(
        "SELECT k, s FROM jt_back").collect()}
    want = {(r["k"], r["s"]) for r in spark.table("jt").collect()}
    assert got == want
    engine.execute(f"COPY jt_auto FROM '{p}'")  # extension inference
    assert engine.execute("SELECT COUNT(*) AS n FROM jt_auto").collect()[0]["n"] == 20
    engine.execute("DROP TABLE jt_back; DROP TABLE jt_auto")


def test_copy_orc_roundtrip(engine, spark, tmp_path):
    """COPY TO/FROM WITH (FORMAT ORC): Spark's second columnar format
    round-trips through the same dispatch (DuckDB cannot read ORC, so the
    check is a Spark write/read identity + schema preservation)."""
    spark.sql(
        "SELECT CAST(id AS INT) AS k, CAST(id * 1.5 AS DOUBLE) AS v"
        " FROM RANGE(25)"
    ).createOrReplaceTempView("ot")
    p = str(tmp_path / "ot.orc")
    engine.execute(f"COPY ot TO '{p}' WITH (FORMAT ORC)")
    engine.execute(f"COPY ot_back FROM '{p}' WITH (FORMAT ORC)")
    got = {(r["k"], r["v"]) for r in engine.execute("SELECT k, v FROM ot_back").collect()}
    assert got == {(r["k"], r["v"]) for r in spark.table("ot").collect()}
    assert engine.execute("SELECT k FROM ot_back").schema["k"].dataType.simpleString() == "int"
    engine.execute("DROP TABLE ot_back")


def test_dialect_composition_qualify_distinct_on_with_exclusion(engine, spark, duck):
    """The window text transforms compose under QUALIFY and DISTINCT ON:
    an excluded-frame / FILTER OVER expression inside either outer form
    runs on Spark and matches DuckDB running the same text natively."""
    spark.sql(
        "SELECT CAST(id % 3 AS INT) AS g, CAST(id AS INT) AS v FROM RANGE(12)"
    ).createOrReplaceTempView("dcq")
    duck.execute(
        "CREATE OR REPLACE VIEW dcq AS SELECT CAST(range % 3 AS INT) AS g,"
        " CAST(range AS INT) AS v FROM RANGE(12)"
    )
    q1 = (
        "SELECT g, v, CAST(SUM(v) OVER (PARTITION BY g ORDER BY v"
        " RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP)"
        " AS BIGINT) AS below QUALIFY ROW_NUMBER() OVER (PARTITION BY g"
        " ORDER BY v DESC) = 1 FROM dcq"
    )
    # DuckDB's QUALIFY comes after FROM; reorder for it (semantically same)
    q1_duck = (
        "SELECT g, v, CAST(SUM(v) OVER (PARTITION BY g ORDER BY v"
        " RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP)"
        " AS BIGINT) AS below FROM dcq QUALIFY ROW_NUMBER() OVER"
        " (PARTITION BY g ORDER BY v DESC) = 1"
    )
    got = {tuple(r) for r in engine.execute(q1_duck).collect()}
    want = {tuple(r) for r in duck.execute(q1_duck).fetchall()}
    assert got == want and len(got) == 3
    q2 = (
        "SELECT DISTINCT ON (g) g, v,"
        " CAST(COUNT(*) FILTER (WHERE v % 2 = 0) OVER (PARTITION BY g)"
        " AS BIGINT) AS evens"
        " FROM dcq ORDER BY g, v DESC"
    )
    got = {tuple(r) for r in engine.execute(q2).collect()}
    want = {tuple(r) for r in duck.execute(q2).fetchall()}
    assert got == want and len(got) == 3


def test_summarize_statement_matches_duckdb(engine, duck):
    """SUMMARIZE t: per-column profile in one distributed aggregate pass.
    The deterministic fields (count, min, max, null_percentage) must match
    DuckDB's native SUMMARIZE on the same rows."""
    engine.execute("DROP TABLE IF EXISTS smz")
    engine.execute("CREATE TABLE smz (id INT, v DOUBLE, s STRING)")
    engine.execute(
        "INSERT INTO smz VALUES (1, 2.5, 'a'), (2, NULL, 'bb'), (3, 7.5, NULL),"
        " (4, 10.0, 'a')"
    )
    try:
        got = {
            r.column_name: r for r in engine.execute("SUMMARIZE smz").collect()
        }
        duck.execute("CREATE OR REPLACE TABLE smz_d AS SELECT * FROM (VALUES"
                     " (1, 2.5, 'a'), (2, NULL, 'bb'), (3, 7.5, NULL),"
                     " (4, 10.0, 'a')) t(id, v, s)")
        exp = {r[0]: r for r in duck.execute(
            "SUMMARIZE smz_d").fetchall()}
        cols = [d[0] for d in duck.execute("SUMMARIZE smz_d").description]
        i_min, i_max = cols.index("min"), cols.index("max")
        i_cnt, i_null = cols.index("count"), cols.index("null_percentage")
        assert set(got) == set(exp) == {"id", "v", "s"}
        for c in got:
            assert got[c]["count"] == exp[c][i_cnt]
            assert float(got[c].null_percentage) == float(exp[c][i_null])
            assert str(got[c].min) == str(exp[c][i_min])
            assert str(got[c].max) == str(exp[c][i_max])
        # numeric columns carry avg/std; strings don't
        assert got["v"].avg is not None and got["s"].avg is None
    finally:
        engine.execute("DROP TABLE smz")


def test_summarize_query_form(engine, duck):
    """SUMMARIZE <query> (the DuckDB query form) profiles the statement's
    result frame."""
    engine.execute("DROP TABLE IF EXISTS smq")
    engine.execute("CREATE TABLE smq (k INT, p DOUBLE)")
    engine.execute("INSERT INTO smq VALUES (1, 5.0), (2, NULL), (4, 6.5)")
    try:
        got = {r.column_name: r for r in engine.execute(
            "SUMMARIZE SELECT k % 3 AS g, p FROM smq"
        ).collect()}
        duck.execute("CREATE OR REPLACE TABLE smq_d AS SELECT * FROM (VALUES"
                     " (1, 5.0), (2, NULL), (4, 6.5)) t(k, p)")
        exp = {r[0]: r for r in duck.execute(
            "SUMMARIZE SELECT k % 3 AS g, p FROM smq_d").fetchall()}
        cols = [d[0] for d in duck.execute(
            "SUMMARIZE SELECT 1 AS x").description]
        i_cnt, i_min = cols.index("count"), cols.index("min")
        assert set(got) == set(exp) == {"g", "p"}
        for c in got:
            assert got[c]["count"] == exp[c][i_cnt]
            assert str(got[c].min) == str(exp[c][i_min])
    finally:
        engine.execute("DROP TABLE smq")


def test_recursive_union_fixpoint(engine, spark, duck):
    """WITH RECURSIVE ... UNION (distinct): cycle-safe fixpoint — Spark
    rejects the construct natively; the engine's loop must match DuckDB
    on a cyclic graph (where UNION ALL recursion would never terminate)."""
    spark.sql(
        "SELECT * FROM VALUES (0,1),(1,2),(2,0),(2,3),(7,8) t(src,dst)"
    ).createOrReplaceTempView("ru_e")
    duck.execute("CREATE OR REPLACE TABLE ru_e AS SELECT * FROM (VALUES"
                 " (0,1),(1,2),(2,0),(2,3),(7,8)) t(src,dst)")
    q = ("WITH RECURSIVE r AS (SELECT 0 AS n UNION"
         " SELECT e.dst AS n FROM r JOIN ru_e e ON e.src = r.n)"
         " SELECT * FROM r ORDER BY n")
    got = [r.n for r in engine.execute(q).collect()]
    want = [r[0] for r in duck.execute(q).fetchall()]
    assert got == want == [0, 1, 2, 3]
    # the CTE name must not leak as a lingering temp view
    assert not spark.catalog.tableExists("r")


def test_recursive_union_all_stays_native(engine, spark):
    """The UNION ALL form keeps Spark's native recursion (acyclic here)."""
    spark.sql("SELECT * FROM VALUES (0,1),(1,2) t(src,dst)") \
        .createOrReplaceTempView("rua_e")
    q = ("WITH RECURSIVE r AS (SELECT 0 AS n UNION ALL"
         " SELECT e.dst AS n FROM r JOIN rua_e e ON e.src = r.n)"
         " SELECT COUNT(*) AS c FROM r")
    assert engine.execute(q).collect()[0]["c"] == 3


def test_recursive_union_rejects_cte_list(engine, spark):
    """Trailing CTE lists after the recursive member raise a clear error."""
    import pytest

    with pytest.raises(ValueError, match="single recursive CTE"):
        engine.execute(
            "WITH RECURSIVE r AS (SELECT 0 AS n UNION SELECT n + 1 FROM r"
            " WHERE n < 3), s AS (SELECT 1) SELECT * FROM r"
        )


# -- correlated columns in a subquery's SELECT list (corpus 385-386) --------
def test_correlated_projection_hoist_rewrite_shapes(engine):
    rw = engine._rewrite_correlated_scalar_projection
    # basic hoist: outer term leaves the subquery
    assert rw(
        "SELECT (SELECT MAX(b) + t.a FROM mixed) AS foo FROM t"
    ) == "SELECT ((SELECT MAX(b) FROM mixed) + t.a) AS foo FROM t"
    # two outer terms, order preserved
    assert rw(
        "SELECT (SELECT MAX(b) + t.a + t.c FROM mixed) FROM t"
    ) == "SELECT ((SELECT MAX(b) FROM mixed) + t.a + t.c) FROM t"
    # subtraction keeps its sign
    assert rw(
        "SELECT (SELECT MAX(b) - t.a FROM mixed) FROM t"
    ) == "SELECT ((SELECT MAX(b) FROM mixed) - t.a) FROM t"
    # WHERE-side scalar subquery, aliased outer table
    assert rw(
        "SELECT a FROM t AS r WHERE a = (SELECT MIN(b) + r.id FROM mixed)"
    ) == "SELECT a FROM t AS r WHERE a = ((SELECT MIN(b) FROM mixed) + r.id)"


def test_correlated_projection_hoist_no_ops(engine):
    rw = engine._rewrite_correlated_scalar_projection
    for sql in (
        # no outer reference
        "SELECT (SELECT MAX(b) FROM mixed) FROM t",
        # qualifier belongs to the subquery's own FROM
        "SELECT (SELECT MAX(m.b) + m.c FROM mixed m) FROM t",
        # no aggregate left after hoisting -> unsafe, unchanged
        "SELECT (SELECT b + t.a FROM mixed) FROM t",
        # GROUP BY -> not guaranteed single-row, unchanged
        "SELECT (SELECT MAX(b) + t.a FROM mixed GROUP BY c) FROM t",
        # derived table, not a scalar context
        "SELECT x FROM (SELECT a + 1 AS x FROM t) AS d",
        # EXISTS must keep enclosing a relation
        "SELECT a FROM t WHERE EXISTS (SELECT 1 FROM mixed WHERE b = t.a)",
        # set-op subquery body, unchanged
        "SELECT (SELECT MAX(b) + t.a FROM mixed UNION SELECT 1) FROM t",
        # string literal containing a fake subquery
        "SELECT '(SELECT MAX(b) + t.a FROM mixed)' AS s FROM t",
        # top-level comparison in the projection (ADVICE r10): hoisting
        # t.a across `>` would invert precedence — MAX(b) > (5 - t.a) is
        # NOT ((SELECT MAX(b) > 5) - t.a). Must stay unchanged.
        "SELECT (SELECT MAX(b) > 5 - t.a FROM mixed) FROM t",
        "SELECT (SELECT MAX(b) = t.a FROM mixed) FROM t",
        "SELECT (SELECT MAX(b) + t.a LIKE 'x%' FROM mixed) FROM t",
        "SELECT (SELECT MAX(b) + 1 IS NULL AND t.a > 0 FROM mixed) FROM t",
        "SELECT (SELECT MAX(b) || t.a FROM mixed) FROM t",
        # comparison inside parens/strings is fine to hoist across — but
        # the guard must not be fooled INTO hoisting by them either
        "SELECT (SELECT MAX(b) + t.a BETWEEN 1 AND 2 FROM mixed) FROM t",
    ):
        assert rw(sql) == sql, sql


def test_correlated_projection_hoist_comparison_inside_parens_ok(engine):
    """A comparison fully enclosed in parens (e.g. a CASE or a boolean
    argument) does NOT block the hoist — only top-level operators do."""
    rw = engine._rewrite_correlated_scalar_projection
    assert rw(
        "SELECT (SELECT MAX(CASE WHEN b > 5 THEN b END) + t.a FROM mixed)"
        " FROM t"
    ) == ("SELECT ((SELECT MAX(CASE WHEN b > 5 THEN b END) FROM mixed)"
          " + t.a) FROM t")


def test_correlated_projection_hoist_runs(engine, spark, duck):
    for t in ("nation", "part"):
        spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet") \
            .createOrReplaceTempView(t)
    sql = ("SELECT n_name, (SELECT MAX(p_size) + nation.n_nationkey "
           "FROM part) AS foo FROM nation ORDER BY n_name")
    got = [(r.n_name, r.foo) for r in engine.execute(sql).collect()]
    want = duck.execute(sql).fetchall()
    assert got == [tuple(w) for w in want]


def test_recursive_union_cte_shadowing_table_restores_view(engine, spark):
    """A WITH RECURSIVE CTE named after a registered table shadows it for
    the statement (standard SQL) and must NOT unregister the table's view
    afterwards (ADVICE r9: the fixpoint's dropTempView left the name
    unbound)."""
    engine.execute("CREATE TABLE shadow_t AS SELECT 99 AS n")
    try:
        df = engine.execute(
            "WITH RECURSIVE shadow_t(n) AS ("
            "SELECT 1 UNION SELECT n + 1 FROM shadow_t WHERE n < 3"
            ") SELECT n FROM shadow_t ORDER BY n")
        assert [r.n for r in df.collect()] == [1, 2, 3]
        # the real table is visible again after the statement
        got = engine.execute("SELECT n FROM shadow_t").collect()
        assert [r.n for r in got] == [99]
    finally:
        engine.execute("DROP TABLE shadow_t")


# -- ADVICE r9: window DISTINCT dispatch + named windows + exact folds ------
def test_window_distinct_nested_paren_arg_dispatches(engine, spark, duck):
    """SUM(DISTINCT CAST(x AS BIGINT)) OVER (...) — the aggregate argument
    contains parens, which the old dispatch probe could not match."""
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet") \
        .createOrReplaceTempView("lineitem")
    sql = ("SELECT l_orderkey, SUM(DISTINCT CAST(l_quantity AS BIGINT)) "
           "OVER (PARTITION BY l_returnflag) AS s FROM lineitem "
           "WHERE l_orderkey < 100 ORDER BY l_orderkey, s")
    got = [tuple(r) for r in engine.execute(sql).collect()]
    assert got == [tuple(r) for r in duck.execute(sql).fetchall()]
    # EXPLAIN over the same shape routes through the engine too
    plan = engine.execute("EXPLAIN " + sql).collect()[0]["plan"]
    assert "collect_set" in plan.lower()


def test_window_distinct_named_window(engine, spark, duck):
    """COUNT(DISTINCT x) OVER w with a WINDOW clause resolves the named
    spec instead of failing DISTINCT_WINDOW_FUNCTION_UNSUPPORTED."""
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet") \
        .createOrReplaceTempView("lineitem")
    sql = ("SELECT l_orderkey, COUNT(DISTINCT l_suppkey) OVER w AS c "
           "FROM lineitem WHERE l_orderkey < 100 "
           "WINDOW w AS (PARTITION BY l_returnflag) ORDER BY l_orderkey, c")
    got = [tuple(r) for r in engine.execute(sql).collect()]
    assert got == [tuple(r) for r in duck.execute(sql).fetchall()]


def test_window_distinct_named_window_undefined_raises(engine, spark):
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet") \
        .createOrReplaceTempView("lineitem")
    with pytest.raises(ValueError, match="named window"):
        engine.execute(
            "SELECT COUNT(DISTINCT l_suppkey) OVER nope AS c FROM lineitem "
            "WINDOW w AS (PARTITION BY l_returnflag)")


def test_window_sum_distinct_exact_beyond_double_lattice(engine, spark, duck):
    """SUM(DISTINCT CAST(v AS BIGINT)) folds in a BIGINT accumulator:
    exact where a DOUBLE fold would round (values beyond 2^53), matching
    DuckDB's HUGEINT-exact native SUM(DISTINCT)."""
    spark.createDataFrame(
        [(1, 2**53 + 1), (1, 2**53 + 3), (1, 2**53 + 1)], "g int, v long"
    ).createOrReplaceTempView("biglat_t")
    duck.execute("CREATE OR REPLACE TABLE biglat_t AS SELECT * FROM (VALUES "
                 "(1, 9007199254740993), (1, 9007199254740995), "
                 "(1, 9007199254740993)) t(g, v)")
    sql = ("SELECT g, SUM(DISTINCT CAST(v AS BIGINT)) OVER "
           "(PARTITION BY g) AS s FROM biglat_t")
    got = sorted(tuple(r) for r in engine.execute(sql).collect())
    want = sorted((int(a), int(b)) for a, b in duck.execute(sql).fetchall())
    assert got == want == [(1, 18014398509481988)] * 3
    duck.execute("DROP TABLE biglat_t")


def test_groups_frame_composes_with_filter_and_exclude(engine, spark, duck):
    """One OVER carrying GROUPS + FILTER + EXCLUDE (VERDICT r9 #8): the
    GROUPS->RANGE-over-dense-rank rewrite carries the EXCLUDE clause and
    hands the result to the shared window-dialect pass (FILTER first, then
    exclusion). DuckDB lacks GROUPS mode, so the oracle text hand-derives
    the same frame (dense_rank + RANGE + native FILTER/EXCLUDE)."""
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet") \
        .createOrReplaceTempView("lineitem")
    ssql = ("SELECT l_orderkey, SUM(l_quantity) FILTER (WHERE l_discount > 0.02)"
            " OVER (PARTITION BY l_returnflag ORDER BY l_orderkey"
            " GROUPS BETWEEN 2 PRECEDING AND CURRENT ROW EXCLUDE TIES) AS s"
            " FROM lineitem WHERE l_orderkey < 200")
    dsql = ("SELECT l_orderkey, SUM(l_quantity) FILTER (WHERE l_discount > 0.02)"
            " OVER (PARTITION BY l_returnflag ORDER BY dr"
            " RANGE BETWEEN 2 PRECEDING AND CURRENT ROW EXCLUDE TIES) AS s"
            " FROM (SELECT *, DENSE_RANK() OVER (PARTITION BY l_returnflag"
            " ORDER BY l_orderkey) AS dr FROM lineitem WHERE l_orderkey < 200)")
    from tests.oracle_utils import canon

    sdf = engine.execute(ssql)
    got = canon([c.lower() for c in sdf.columns], [tuple(r) for r in sdf.collect()])
    res = duck.execute(dsql)
    want = canon([d[0].lower() for d in res.description], res.fetchall())
    assert got == want


def test_explain_correlated_projection_routes_through_hoist(engine, spark):
    """EXPLAIN over a correlated-projection SELECT shows the HOISTED plan
    (one uncorrelated Subquery feeding a projection), not an analysis
    error — the same EXPLAIN routing the other dialect forms get."""
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet") \
        .createOrReplaceTempView("nation")
    spark.read.parquet("/root/testdata/sf0.001/part.parquet") \
        .createOrReplaceTempView("part")
    plan = engine.execute(
        "EXPLAIN SELECT (SELECT MAX(p_size) + nation.n_nationkey FROM part)"
        " AS foo FROM nation").collect()[0]["plan"]
    assert "Subquery" in plan and "foo" in plan
    assert "AnalysisException" not in plan


def test_groups_frame_composes_with_distinct_aggregate(engine, spark, duck):
    """SUM(DISTINCT ...) over a GROUPS frame: the GROUPS->RANGE rewrite
    feeds the collect_set DISTINCT rewrite (DuckDB oracle hand-derives the
    frame via dense_rank; its SUM(DISTINCT) OVER is native)."""
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet") \
        .createOrReplaceTempView("lineitem")
    ssql = ("SELECT l_orderkey, SUM(DISTINCT CAST(l_quantity AS BIGINT))"
            " OVER (PARTITION BY l_returnflag ORDER BY l_orderkey"
            " GROUPS BETWEEN 3 PRECEDING AND CURRENT ROW) AS s"
            " FROM lineitem WHERE l_orderkey < 200")
    dsql = ("SELECT l_orderkey, SUM(DISTINCT CAST(l_quantity AS BIGINT))"
            " OVER (PARTITION BY l_returnflag ORDER BY dr"
            " RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS s"
            " FROM (SELECT *, DENSE_RANK() OVER (PARTITION BY l_returnflag"
            " ORDER BY l_orderkey) AS dr FROM lineitem WHERE l_orderkey < 200)")
    from tests.oracle_utils import canon

    sdf = engine.execute(ssql)
    got = canon([c.lower() for c in sdf.columns], [tuple(r) for r in sdf.collect()])
    res = duck.execute(dsql)
    want = canon([d[0].lower() for d in res.description], res.fetchall())
    assert got == want


# -- one SQL lexer (sqltext.py): comments never hide a statement's shape ----
def test_comment_before_dml_routes_as_write(engine):
    """A leading comment used to hide INSERT/UPDATE from the DML router
    (spark.sql then failed with UNSUPPORTED_INSERT.RDD_BASED)."""
    engine.execute("CREATE TABLE cmt_dml AS SELECT 1 AS k")
    before = engine.catalog.mutation_counter
    engine.execute("-- add a row\nINSERT INTO cmt_dml VALUES (10)")
    engine.execute("/* c */ UPDATE cmt_dml SET k = k + 1 WHERE k = 10")
    assert engine.catalog.mutation_counter >= before + 2
    got = sorted(r["k"] for r in engine.execute("SELECT k FROM cmt_dml").collect())
    assert got == [1, 11]
    engine.execute("DROP TABLE cmt_dml")


def test_comment_before_dialect_select_is_rewritten(engine, spark):
    """A comment before a window-DISTINCT SELECT used to skip the dialect
    rewrite (DISTINCT_WINDOW_FUNCTION_UNSUPPORTED)."""
    spark.createDataFrame([(1, 1), (1, 2), (1, 2), (2, 2)], "k int, v int") \
        .createOrReplaceTempView("cmt_win")
    df = engine.execute("-- q\nSELECT k, COUNT(DISTINCT v) OVER (PARTITION BY k)"
                        " AS c FROM cmt_win")
    assert sorted(tuple(r) for r in df.collect()) == [(1, 2)] * 3 + [(2, 1)]


def test_comment_holding_semicolon_and_quote(engine, spark):
    """A ';' inside a comment used to split the statement there, and a
    quote inside a comment glued the following statements together."""
    spark.createDataFrame([(1,), (2,)], "k int").createOrReplaceTempView("cmt_t")
    df = engine.execute("SELECT k FROM cmt_t -- note; tail\n WHERE k = 1")
    assert [r["k"] for r in df.collect()] == [1]
    df = engine.execute("SELECT 1 AS x; -- it's a comment\nSELECT 2 AS x; SELECT 3 AS x")
    assert df.collect()[0]["x"] == 3


def test_commented_select_uses_plan_cache(engine):
    """A leading comment no longer keeps a SELECT out of the plan cache."""
    sql = "-- revenue report\nSELECT 41 + 1 AS x"
    first = engine.execute(sql)
    assert engine.execute(sql) is first
    assert engine._plan_cache.hits == 1


def test_explain_meta_table_select(engine):
    """EXPLAIN builds its query through the router, so the meta tables
    are materialized as for the SELECT itself (the native EXPLAIN returned
    'Error occurred during query planning')."""
    plan = engine.execute("EXPLAIN SELECT * FROM meta_tables").collect()[0]["plan"]
    assert "Physical Plan" in plan
    assert "Error occurred" not in plan


def test_hinted_join_keeps_broadcast_hint(engine, spark):
    """`/*+ ... */` hints survive the comment stripping: with automatic
    broadcasts off, only the hint can plan a BroadcastHashJoin."""
    spark.createDataFrame([(i, i % 3) for i in range(20)], "k int, g int") \
        .createOrReplaceTempView("hint_f")
    spark.createDataFrame([(i, f"g{i}") for i in range(3)], "g int, n string") \
        .createOrReplaceTempView("hint_d")
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    old = {k: spark.conf.get(k, None) for k in keys}
    body = " f.k, d.n FROM hint_f f JOIN hint_d d ON f.g = d.g"
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        plain = engine.execute("SELECT" + body)._jdf.queryExecution() \
            .executedPlan().toString()
        hinted = engine.execute("-- lookup join\nSELECT /*+ BROADCAST(d) */"
                                + body)._jdf.queryExecution() \
            .executedPlan().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "BroadcastHashJoin" not in plain
    assert "BroadcastHashJoin" in hinted


def test_explain_shows_validated_ucc_distinct_strip(engine):
    """EXPLAIN shows the plan that runs: the validated-UCC rewrite strips
    a redundant DISTINCT, so no aggregate appears (the native EXPLAIN
    planned the unrewritten text)."""
    engine.execute("CREATE TABLE ucc_ex AS SELECT CAST(id AS INT) AS k FROM RANGE(10)")
    try:
        engine.catalog.validated_uccs = {("ucc_ex", "k")}
        plan = engine.execute("EXPLAIN SELECT DISTINCT k FROM ucc_ex") \
            .collect()[0]["plan"]
        assert "HashAggregate" not in plan
    finally:
        engine.catalog.validated_uccs = set()
        engine.execute("DROP TABLE ucc_ex")


def test_explain_api_builds_dialect_select_through_router(engine, spark):
    """`Engine.explain` (the console's `visualize` text mode) is the plan
    cell of `EXPLAIN <mode> <sql>`, so a QUALIFY select explains as it runs
    (building it with `spark.sql` raised PARSE_SYNTAX_ERROR)."""
    spark.sql("SELECT 0 AS k, 10 AS t").createOrReplaceTempView("exq_l")
    plan = engine.explain(
        "SELECT t, ROW_NUMBER() OVER (ORDER BY t) AS rn FROM exq_l QUALIFY rn = 1"
    )
    assert "Physical Plan" in plan and "Window" in plan


def test_explain_api_materializes_meta_tables(engine, spark):
    """`Engine.explain` of a meta-table SELECT materializes the meta table
    as the SELECT itself does (`spark.sql` raised TABLE_OR_VIEW_NOT_FOUND)."""
    spark.catalog.dropTempView("meta_tables")  # left behind by other tests
    plan = engine.explain("SELECT * FROM meta_tables")
    assert "Physical Plan" in plan
    assert "Error occurred" not in plan


def test_explain_api_refuses_all_but_one_query(engine):
    """The router runs what it is given, so `Engine.explain` refuses a
    second statement or a write before anything runs: nothing is applied."""
    engine.execute("CREATE TABLE exq_w AS SELECT 1 AS x")
    try:
        for sql in ("SELECT 1; INSERT INTO exq_w VALUES (1)",
                    "INSERT INTO exq_w VALUES (1); SELECT * FROM exq_w",
                    "INSERT INTO exq_w VALUES (1)",
                    "PREPARE exq_p AS SELECT 1"):
            with pytest.raises(ValueError, match="only a single query"):
                engine.explain(sql)
        assert engine.execute("SELECT COUNT(*) AS n FROM exq_w").collect()[0].n == 1
        assert "exq_p" not in engine._prepared
        assert "Physical Plan" in engine.explain("SELECT x FROM exq_w;")
    finally:
        engine.execute("DROP TABLE exq_w")


def test_create_or_replace_view_re_resolves_dependents(engine):
    """CREATE OR REPLACE VIEW used to drop and re-add the view: the views
    over it kept the old definition, and the view moved to the end of the
    creation order, so a pin install re-resolved its dependents before it
    and bound them to the pinned definition."""
    e = engine
    e.execute("CREATE VIEW rpv_a AS SELECT 1 AS x; CREATE VIEW rpv_b AS SELECT x FROM rpv_a")
    try:
        q = "SELECT x FROM rpv_b"
        assert e.execute(q).collect()[0]["x"] == 1
        assert e.execute(q).collect()[0]["x"] == 1  # cached
        e.execute("CREATE OR REPLACE VIEW rpv_a AS SELECT 2 AS x")
        assert e.execute("SELECT x FROM rpv_a").collect()[0]["x"] == 2
        h0 = e._plan_cache.hits
        assert e.execute(q).collect()[0]["x"] == 2
        assert e._plan_cache.hits == h0  # the replace invalidated the read
        assert list(e.catalog._views) == ["rpv_a", "rpv_b"]

        e.execute("BEGIN; CREATE OR REPLACE VIEW rpv_a AS SELECT 3 AS x")
        # another connection's snapshot read sees the pin; the owner, after
        # the swap back, sees its own replace through the dependent view
        assert _on_thread(lambda: e.execute(q).collect()[0]["x"]) == 2
        assert e.execute(q).collect()[0]["x"] == 3
        e.execute("ROLLBACK")
        assert e.execute(q).collect()[0]["x"] == 2
    finally:
        e.execute("DROP VIEW IF EXISTS rpv_b; DROP VIEW IF EXISTS rpv_a")


def test_fenced_prepare_deallocate_vacuum_hit_write_fence(engine):
    """PREPARE, DEALLOCATE and VACUUM change engine state. From a connection
    fenced by another's open transaction they used to take the snapshot-read
    path, whose swap back discarded their effect: the PREPARE returned None,
    and a later EXECUTE failed to parse. Now they are refused like any
    write, and take effect once the transaction has ended."""
    e = engine
    e.execute("CREATE TABLE fpv AS SELECT CAST(id AS INT) AS x FROM RANGE(3)")
    e.execute("PREPARE fpv_old FROM 'SELECT COUNT(*) AS n FROM fpv'")
    try:
        e.execute("BEGIN; INSERT INTO fpv VALUES (10)")
        for sql in ("PREPARE fpv_q FROM 'SELECT MAX(x) AS m FROM fpv'",
                    "DEALLOCATE fpv_old", "VACUUM fpv"):
            assert "another connection" in _on_thread(lambda: _try_exec(e, sql)), sql
        assert "fpv_q" not in e._prepared and "fpv_old" in e._prepared
        e.execute("COMMIT")
        _on_thread(lambda: e.execute(
            "PREPARE fpv_q FROM 'SELECT MAX(x) AS m FROM fpv'; DEALLOCATE fpv_old"))
        assert "fpv_q" in e._prepared and "fpv_old" not in e._prepared
        assert _on_thread(lambda: e.execute("EXECUTE fpv_q").collect()[0]["m"]) == 10
        with pytest.raises(ValueError, match="does not exist"):
            e.execute("DEALLOCATE fpv_old")
    finally:
        e.execute("DEALLOCATE ALL; DROP TABLE fpv")


def test_fenced_export_and_copy_to_read_the_pin(engine, spark, tmp_path):
    """EXPORT and COPY ... TO write files from a read. From a connection
    fenced by another's open transaction both write the committed rows, as
    postgres runs COPY TO during another session's transaction. COPY TO
    used to be refused as a write while EXPORT ran."""
    e = engine
    e.execute("CREATE TABLE fex AS SELECT CAST(id AS INT) AS x FROM RANGE(3)")
    paths = [str(tmp_path / n) for n in ("e.parquet", "c.parquet", "q.parquet")]
    try:
        e.execute("BEGIN; INSERT INTO fex VALUES (10)")
        for sql in (f"EXPORT fex TO '{paths[0]}'", f"COPY fex TO '{paths[1]}'",
                    f"COPY (SELECT x FROM fex) TO '{paths[2]}'"):
            assert _on_thread(lambda: _try_exec(e, sql)) == "allowed", sql
        e.execute("COMMIT")
        for path in paths:
            assert sorted(r["x"] for r in spark.read.parquet(path).collect()) == [0, 1, 2]
        # the body of COPY (...) TO must be a query: a write there would run
        # against the pin from a fenced connection and be dropped
        with pytest.raises(ValueError, match="exports a query"):
            e.execute(f"COPY (DELETE FROM fex WHERE x = 0) TO '{tmp_path}/d.parquet'")
        assert e.execute("SELECT COUNT(*) AS n FROM fex").collect()[0]["n"] == 4
    finally:
        e.execute("DROP TABLE fex")


def test_catalog_names_fold_to_lower_case(engine):
    """Table and view names are case-insensitive, as in postgres and Spark:
    DML, VACUUM and DROP reach `CaseT` through any spelling (INSERT used to
    raise "not registered" and DROP a KeyError)."""
    e = engine
    e.execute("CREATE TABLE CaseT AS SELECT 1 AS x; CREATE VIEW CaseV AS SELECT x FROM caset")
    e.execute("INSERT INTO caset VALUES (2)")
    e.execute("UPDATE CASET SET x = x + 10 WHERE x = 2")
    e.execute("DELETE FROM Caset WHERE x > 100")
    e.execute("VACUUM cAsEt")
    assert sorted(r["x"] for r in e.execute("SELECT x FROM casev").collect()) == [1, 12]
    e.execute("DROP VIEW casev; DROP TABLE caset")
    assert not e.catalog.has_table("CaseT") and not e.catalog.has_view("CASEV")


def test_backslash_escaped_quote_stays_in_its_literal(engine, spark):
    """The engine splits a script as Spark's lexer reads it: `\'` inside a
    literal is a quote, so the ';' after it does not end the statement."""
    sql = r"SELECT 'a\';b' AS s"
    assert engine.execute(sql).collect()[0]["s"] == "a';b"
    assert spark.sql(sql).collect()[0]["s"] == "a';b"


# -- statement routing, one row per statement shape ---------------------------
# (text, fenced, cached, plan view, epoch bump, setup, cleanup):
# - fenced: from a connection fenced by another's open transaction the text
#   is refused ("F"), or runs against the BEGIN pin ("P");
# - cached: an autocommit run leaves a plan-cache entry under its text;
# - plan view: Engine.query_statement accepts the text (explain, visualize);
# - epoch bump: the autocommit run moves Catalog.epoch.
# setup/cleanup run around the autocommit run only. {d} is a scratch dir.
_ROUTING_ROWS = [
    ("SELECT x FROM rt", "P", True, True, False, None, None),
    ("WITH c AS (SELECT x FROM rt) SELECT x FROM c", "P", True, True, False, None, None),
    ("VALUES (1), (2)", "P", True, True, False, None, None),
    ("TABLE rt", "P", True, True, False, None, None),
    ("FROM rt SELECT x", "P", True, True, False, None, None),
    ("(SELECT x FROM rt) UNION (SELECT 7)", "P", True, True, False, None, None),
    ("EXPLAIN SELECT x FROM rt", "P", False, False, False, None, None),
    ("SHOW TABLES", "P", False, True, False, None, None),
    ("SHOW COLUMNS FROM rt", "P", False, True, False, None, None),
    ("SHOW DATABASES", "P", False, True, False, None, None),
    ("DESCRIBE rt", "P", False, True, False, None, None),
    ("DESC rt", "P", False, True, False, None, None),
    ("SUMMARIZE rt", "P", False, False, False, None, None),
    ("INSERT INTO rt VALUES (5)", "F", False, False, False, None, None),
    ("UPDATE rt SET x = x + 1 WHERE x = 5", "F", False, False, False, None, None),
    ("DELETE FROM rt WHERE x > 100", "F", False, False, False, None, None),
    ("MERGE INTO rt USING (SELECT 9 AS x) s ON rt.x = s.x "
     "WHEN NOT MATCHED THEN INSERT (x) VALUES (s.x)", "F", False, False, False, None, None),
    ("TRUNCATE TABLE rt2", "F", False, False, False, None, None),
    ("ALTER TABLE rt2 ADD COLUMN y INT", "F", False, False, False, None, None),
    ("CREATE TABLE rt3 AS SELECT 1 AS x", "F", False, False, True, None, None),
    ("CREATE VIEW rtv AS SELECT x FROM rt", "F", False, False, True, None, None),
    ("DROP VIEW rtv", "F", False, False, True, None, None),
    ("DROP TABLE rt3", "F", False, False, True, None, None),
    ("CREATE TEMP VIEW rtt AS SELECT 1 AS x", "F", False, False, True, None, None),
    ("CREATE FUNCTION rtf(a INT) RETURNS INT RETURN a + 1", "F", False, False, True, None, None),
    ("CREATE MATERIALIZED VIEW rtm AS SELECT COUNT(*) AS n FROM rt",
     "F", False, False, True, None, None),
    ("REFRESH MATERIALIZED VIEW rtm", "F", False, False, False, None, None),
    ("VACUUM rt", "F", False, False, False, None, None),
    ("EXPORT rt TO '{d}/e.parquet'", "P", False, False, True, None, None),
    ("COPY rt TO '{d}/c.parquet'", "P", False, False, True, None, None),
    ("COPY (SELECT x FROM rt) TO '{d}/q.parquet'", "P", False, False, True, None, None),
    ("IMPORT FROM '{d}/e.parquet' INTO rt4", "F", False, False, True, None, None),
    ("COPY rt4 FROM '{d}/c.parquet'", "F", False, False, False, None, None),
    ("BEGIN", "F", False, False, False, None, "COMMIT"),
    ("START TRANSACTION", "F", False, False, False, None, "COMMIT"),
    ("COMMIT", "F", False, False, False, "BEGIN", None),
    ("ROLLBACK", "F", False, False, True, "BEGIN", None),
    ("SAVEPOINT s1", "F", False, False, False, "BEGIN", "COMMIT"),
    ("RELEASE SAVEPOINT s1", "F", False, False, False, "BEGIN; SAVEPOINT s1", "COMMIT"),
    ("ROLLBACK TO SAVEPOINT s1", "F", False, False, True, "BEGIN; SAVEPOINT s1", "COMMIT"),
    ("PREPARE rt_p FROM 'SELECT x FROM rt'", "F", False, False, False, None, None),
    ("DEALLOCATE rt_p", "F", False, False, False, None, None),
    ("EXECUTE rt_w", "F", False, False, False, None, None),
    ("EXECUTE rt_r", "P", False, False, False, None, None),
    ("SET hyrise_spark.routing_probe = 1", "P", False, False, True, None, None),
    ("RESET hyrise_spark.routing_probe", "P", False, False, True, None, None),
    ("USE default", "P", False, False, True, None, None),
    ("-- note\nINSERT INTO rt VALUES (6)", "F", False, False, False, None, None),
    ("/* note */ SELECT x FROM rt WHERE x > 0", "P", True, True, False, None, None),
    ("select x from rt where x < 100", "P", True, True, False, None, None),
    ("insert into rt values (7)", "F", False, False, False, None, None),
    ("SELECT /*+ BROADCAST(rt) */ x FROM rt", "P", True, True, False, None, None),
]


def test_statement_routing_table(engine, tmp_path):
    """One row per statement shape: fenced or pinned, cached or not, a plan
    view or not, epoch bump or not. The routing of every shape comes from
    one table (engine.py), so this pins each of its readers at once."""
    import warnings

    from hyrise_spark.sqltext import split_statements

    e, d = engine, str(tmp_path)
    e.execute("CREATE TABLE rt AS SELECT CAST(id AS INT) AS x FROM RANGE(3); "
              "CREATE TABLE rt2 AS SELECT 1 AS x; "
              "PREPARE rt_w FROM 'INSERT INTO rt VALUES (11)'; "
              "PREPARE rt_r FROM 'SELECT x FROM rt'")
    rows = [(r[0].format(d=d),) + r[1:] for r in _ROUTING_ROWS]
    e.execute("BEGIN")
    try:
        fence = _on_thread(lambda: [
            "F" if "another connection" in _try_exec(e, r[0]) else "P" for r in rows])
    finally:
        e.execute("ROLLBACK")
    got, want = [], []
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        for (sql, fenced, cached, planned, bumps, setup, cleanup), f in zip(rows, fence):
            try:
                e.query_statement(sql)
                in_view = True
            except ValueError:
                in_view = False
            if setup:
                e.execute(setup)
            epoch = e.catalog.epoch
            e.execute(sql)
            bumped = e.catalog.epoch != epoch
            in_cache = split_statements(sql)[-1] in e._plan_cache._entries
            if cleanup:
                e.execute(cleanup)
            got.append((sql, f, in_cache, in_view, bumped))
            want.append((sql, fenced, cached, planned, bumps))
    e.execute("DEALLOCATE ALL; DROP FUNCTION rtf")
    e.spark.catalog.dropTempView("rtt")
    assert [(g, w[1:]) for g, w in zip(got, want) if g != w] == []
