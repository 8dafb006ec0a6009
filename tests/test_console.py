"""Console (src/bin/console/console.cpp analog) — command loop tests."""

from __future__ import annotations

from hyrise_spark.console import Console
from tests.conftest import SF_DIR


def _console(spark):
    return Console(spark, sf_dir=SF_DIR)


def test_sql_roundtrip(spark):
    con = _console(spark)
    out = con.handle("SELECT 1 AS one, 'x' AS s")
    assert out.splitlines()[0] == "one | s"
    assert out.splitlines()[1] == "1 | x"


def test_generate_and_print(spark):
    con = _console(spark)
    assert "10 tables" in con.handle(f"generate_tpch {SF_DIR}")
    out = con.handle("print region")
    assert "r_name" in out.splitlines()[0]
    assert "ASIA" in out
    con.handle("reset")
    assert con.handle("tables") == "(no tables)"


def test_visualize_last_query(spark):
    con = _console(spark)
    con.handle("SELECT 2 + 2 AS four")
    out = con.handle("visualize")
    assert "Physical Plan" in out or "Project" in out


def test_setting_get_set(spark):
    con = _console(spark)
    assert "= 64" in con.handle("setting hyrise_spark.console_test 64")
    assert "= 64" in con.handle("setting hyrise_spark.console_test")


def test_script_and_row_cap(spark, tmp_path):
    con = _console(spark)
    script = tmp_path / "s.sql"
    script.write_text("SELECT 1 AS a; SELECT id FROM RANGE(30) ORDER BY id")
    out = con.handle(f"script {script}")
    assert out.startswith("a\n1")
    assert out.rstrip().endswith("...")  # 20-row print cap


def test_help_lists_commands(spark):
    out = _console(spark).handle("help")
    for cmd in ("load", "export", "script", "visualize", "setting"):
        assert cmd in out


def test_visualize_dot_pqp_and_lqp(spark):
    """`visualize lqp|pqp` emit graphviz DOT (the reference's LQP/PQP
    visualizers, pqp_visualizer.hpp) — a digraph with one box per operator,
    edges bottom-up, and cardinality labels on lqp edges where Catalyst has
    estimates."""
    con = _console(spark)
    con.handle(f"generate_tpch {SF_DIR}")
    dot = con.handle(
        "visualize pqp SELECT r_name, count(*) FROM region JOIN nation "
        "ON r_regionkey = n_regionkey GROUP BY r_name"
    )
    assert dot.startswith("digraph plan {")
    assert dot.rstrip().endswith("}")
    assert "->" in dot and "rankdir=BT" in dot
    assert "HashAggregate" in dot or "Aggregate" in dot
    lqp = con.handle("visualize lqp SELECT n_name FROM nation WHERE n_nationkey < 5")
    assert lqp.startswith("digraph plan {")
    assert "Relation" in lqp or "LogicalRelation" in lqp
    # edge label carries a size estimate (the reference's row-count edges)
    assert "B\"]" in lqp or "rows" in lqp, lqp
    # plain `visualize` still returns explain text, and reuses the last query
    con.handle("SELECT 3 + 3 AS six")
    assert "Physical Plan" in con.handle("visualize") or "Project" in con.handle("visualize")


def test_write_plan_image_writes_dot_without_graphviz(spark, tmp_path):
    from hyrise_spark.visualize import write_plan_image

    df = spark.range(10).selectExpr("id * 2 AS x")
    out = write_plan_image(df, str(tmp_path / "plan.dot"), which="pqp")
    text = open(out).read()
    assert text.startswith("digraph plan {") and "Range" in text


def test_visualize_sql_builds_dialect_select_through_router(spark):
    """`visualize_sql` builds its frame through the Engine's router, so a
    QUALIFY select draws its rewritten plan (`spark.sql` raised
    PARSE_SYNTAX_ERROR)."""
    from hyrise_spark.engine import Engine
    from hyrise_spark.visualize import visualize_sql

    spark.sql("SELECT 0 AS k, 10 AS t").createOrReplaceTempView("vzq_l")
    dot = visualize_sql(
        Engine(spark),
        "SELECT t, ROW_NUMBER() OVER (ORDER BY t) AS rn FROM vzq_l QUALIFY rn = 1",
    )
    assert dot.startswith("digraph plan {") and "Window" in dot


def test_visualize_sql_draws_meta_table_plans(spark):
    """Through the router, SHOW TABLES is the meta_tables SELECT it is
    rewritten to, so `visualize_sql` draws that scan rather than Spark's own
    SHOW TABLES command; a meta-table SELECT draws as well."""
    from hyrise_spark.engine import Engine
    from hyrise_spark.visualize import visualize_sql

    eng = Engine(spark)
    dot = visualize_sql(eng, "SHOW TABLES")
    assert dot.startswith("digraph plan {")
    assert "CommandResult" not in dot and "Scan" in dot
    dot = visualize_sql(eng, "SELECT table_name FROM meta_tables")
    assert dot.startswith("digraph plan {")


def test_visualize_sql_refuses_all_but_one_query(spark, tmp_path):
    """The router runs what it is given, so a write, an EXPORT or a second
    statement is refused before anything runs, not applied."""
    import os

    import pytest

    from hyrise_spark.engine import Engine
    from hyrise_spark.visualize import visualize_sql

    eng = Engine(spark)
    eng.execute("CREATE TABLE vzq_w AS SELECT 1 AS x")
    out = tmp_path / "vzq_w.csv"
    for sql in ("CREATE TABLE vzq_t AS SELECT 1 AS x",
                "SELECT 1; INSERT INTO vzq_w VALUES (2)",
                "INSERT INTO vzq_w VALUES (2); SELECT * FROM vzq_w",
                f"EXPORT vzq_w TO '{out}'"):
        with pytest.raises(ValueError, match="only a single query"):
            visualize_sql(eng, sql)
    assert not eng.catalog.has_table("vzq_t")
    assert eng.execute("SELECT COUNT(*) AS n FROM vzq_w").collect()[0].n == 1
    assert not os.path.exists(out)
