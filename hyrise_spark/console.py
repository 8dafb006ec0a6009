"""Interactive console — the reference hyriseConsole analog.

Reference: `src/bin/console/console.cpp:155-173` registers commands
(help/load/export/script/print/visualize/setting/generate_*/txinfo/reset)
around an SQL loop through SQLPipeline. Same surface here, driven by the
Engine (SQL, DML, IMPORT/EXPORT, meta tables) on a SparkSession:

  help                      command list
  load <file> <table>       register a csv/tbl/parquet file as <table>
                            (Console::_load_table -> Import operator)
  export <table> <file>     write a table (Console::_export_table)
  script <file>             run a ;-separated SQL script (Console::_exec_script)
  print <table>             show a table (Console::_print_table)
  visualize [lqp|pqp|text] [sql]
                            plan of sql / the last query
                            (Console::_visualize -> LQP/PQPVisualizer).
                            lqp/pqp emit graphviz DOT (hyrise_spark/
                            visualize.py — optimized logical / physical
                            plan, cardinality-labeled edges on lqp);
                            'text' (default) is Catalyst's formatted
                            explain
  setting <name> [value]    get/set a session conf (Console::_change_runtime_setting)
  generate_tpch [sf_dir]    register the driver testdata tables (the
                            generate_* table generators analog)
  tables                    list registered tables (storage manager dump)
  reset                     drop all registered tables (Console::_reset)
  quit / exit               leave

Anything else is executed as SQL and the result printed (20-row cap, like
the reference console's print pagination).

Run: python -m hyrise_spark.console [--cpus N] [--sf-dir PATH]
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession

from hyrise_spark.sqltext import split_statements


class Console:
    PROMPT = "hyrise_spark> "

    def __init__(self, spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001"):
        from hyrise_spark.engine import Engine

        self.spark = spark
        self.engine = Engine(spark)
        self.sf_dir = sf_dir
        self.last_sql: str | None = None
        self.commands = {
            "help": self.cmd_help,
            "load": self.cmd_load,
            "export": self.cmd_export,
            "script": self.cmd_script,
            "print": self.cmd_print,
            "visualize": self.cmd_visualize,
            "setting": self.cmd_setting,
            "generate_tpch": self.cmd_generate,
            "tables": self.cmd_tables,
            "reset": self.cmd_reset,
        }

    # -- one input line -> output text (testable without a tty) -------------
    def handle(self, line: str) -> str:
        line = line.strip()
        if not line:
            return ""
        head, _, rest = line.partition(" ")
        cmd = self.commands.get(head.lower())
        if cmd is not None:
            return cmd(rest.strip())
        return self.run_sql(line)

    def run_sql(self, sql: str) -> str:
        self.last_sql = sql
        df = self.engine.execute(sql)
        if df is None:
            return "OK"
        rows = df.limit(21).collect()
        header = " | ".join(df.columns)
        body = "\n".join(" | ".join(str(v) for v in r) for r in rows[:20])
        more = "\n..." if len(rows) > 20 else ""
        return f"{header}\n{body}{more}"

    # -- commands -----------------------------------------------------------
    def cmd_help(self, _: str) -> str:
        return __doc__.split("Run:")[0].strip()

    def cmd_load(self, rest: str) -> str:
        path, _, table = rest.rpartition(" ")
        self.engine.import_table(path.strip(), table.strip())
        return f"loaded {table}"

    def cmd_export(self, rest: str) -> str:
        table, _, path = rest.partition(" ")
        self.engine.export_table(table.strip(), path.strip())
        return f"exported {table}"

    def cmd_script(self, path: str) -> str:
        out = []
        with open(path) as fh:
            for stmt in split_statements(fh.read()):
                out.append(self.run_sql(stmt))
        return "\n".join(out)

    def cmd_print(self, table: str) -> str:
        return self.run_sql(f"SELECT * FROM {table}")

    def cmd_visualize(self, rest: str) -> str:
        which, _, tail = rest.partition(" ")
        if which in ("lqp", "pqp", "text"):
            sql = tail.strip() or self.last_sql
        else:
            which, sql = "text", (rest or self.last_sql)
        if not sql:
            return "visualize: no previous query"
        if which == "text":
            return self.engine.explain(sql)
        from hyrise_spark.visualize import visualize_sql

        return visualize_sql(self.engine, sql, which)

    def cmd_setting(self, rest: str) -> str:
        name, _, value = rest.partition(" ")
        if not name:
            return "setting: usage `setting <name> [value]`"
        if value:
            self.spark.conf.set(name, value.strip())
            return f"{name} = {value.strip()}"
        try:
            return f"{name} = {self.spark.conf.get(name)}"
        except Exception:
            return f"{name} is not set"

    def cmd_generate(self, sf_dir: str) -> str:
        from hyrise_spark.catalog import load_tables

        sf_dir = sf_dir or self.sf_dir
        names = (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        )
        tabs = load_tables(self.spark, sf_dir, names)
        for name, df in tabs.items():
            if self.engine.catalog.has_table(name):
                self.engine.catalog.replace_table(name, df)
            else:
                self.engine.catalog.add_table(name, df)
        return f"registered {len(tabs)} tables from {sf_dir}"

    def cmd_tables(self, _: str) -> str:
        names = self.engine.catalog.table_names()
        return "\n".join(sorted(names)) if names else "(no tables)"

    def cmd_reset(self, _: str) -> str:
        for name in list(self.engine.catalog.table_names()):
            self.engine.catalog.drop_table(name)
        return "reset"


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(description="hyrise_spark interactive console")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    args = ap.parse_args(argv)

    from hyrise_spark.session import get_spark

    spark = get_spark("hyrise_spark_console", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    con = Console(spark, sf_dir=args.sf_dir)
    print("hyrise_spark console — `help` for commands, `quit` to exit")
    while True:
        try:
            line = input(Console.PROMPT)
        except (EOFError, KeyboardInterrupt):
            print()
            return 0
        if line.strip().lower() in ("quit", "exit"):
            return 0
        try:
            out = con.handle(line)
        except Exception as exc:  # console survives bad SQL, like the reference
            out = f"error: {exc}"
        if out:
            print(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
