"""Network SQL endpoint — the reference's third entry point, Spark-first.

Reference parity: hyrise fronts its engine with a PostgreSQL-wire server
(src/lib/server/postgres_protocol_handler.hpp, query_handler.hpp:36 routes a
query string through SQLPipeline and streams back rows). Speaking the binary
pg wire protocol buys nothing on Spark — the engine below is `spark.sql` —
so this server keeps the architecture (socket in, SQL string through the
Engine, rows out) with a line-delimited JSON protocol any client can speak:

    request:  {"sql": "SELECT 1 AS x"}\n
    response: {"status": "ok", "columns": ["x"], "rows": [[1]]}\n
              {"status": "error", "error": "..."}\n

One Engine (and thus one SparkSession + Catalog) is shared by all
connections, matching the reference's single-instance server
(server.cpp binds one Hyrise instance); the GIL serializes driver-side plan
construction while execution itself is distributed. Row results funnel
through the driver by design — this is the interactive entry point, not a
bulk export path (Export/`sources/` writers cover that); `max_rows` caps the
transfer exactly like the console's paging.

Rows come out of `Engine.fetch`, the one collect this server and both pgwire
result paths share. On a plan-cache hit it re-executes the physical plan of
the statement's first fetch when that plan is exchange-free (no Exchange,
broadcast, subquery or adaptive node) and folds no time function, skipping
optimization and physical planning; such a plan keeps nothing between
executions, so every fetch still runs its job and reads the data, and no
result is ever reused.
"""

from __future__ import annotations

import json
import socket
import socketserver
import threading
from typing import Any

from pyspark.sql import SparkSession

from hyrise_spark.engine import Engine

_MAX_LINE = 10 * 1024 * 1024  # 10 MiB of SQL text is a client bug


def _json_safe(v: Any) -> Any:
    """Render a Spark row value as a JSON-serializable scalar."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if hasattr(v, "isoformat"):  # date / datetime
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_safe(x) for k, x in v.items()}
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


class _Handler(socketserver.StreamRequestHandler):
    def handle(self) -> None:  # one connection, many statements
        server: SqlServer = self.server  # type: ignore[assignment]
        while True:
            try:
                line = self.rfile.readline(_MAX_LINE)
            except (ConnectionResetError, OSError):
                return
            if not line:
                return
            if len(line) >= _MAX_LINE and not line.endswith(b"\n"):
                # readline hit the size cap mid-request: the rest of the
                # oversized request is still in the stream and would be parsed
                # as the next request — report and close instead of desyncing
                resp = {"status": "error",
                        "error": f"RequestTooLarge: request exceeds {_MAX_LINE} bytes"}
                self.wfile.write((json.dumps(resp) + "\n").encode())
                self.wfile.flush()
                return
            line = line.strip()
            if not line:
                continue
            try:
                req = json.loads(line)
                sql = req["sql"]
                df = server.engine.execute(sql, req.get("args"))
                if df is None:
                    resp = {"status": "ok", "columns": [], "rows": []}
                else:
                    rows = server.engine.fetch(df, server.max_rows)
                    resp = {
                        "status": "ok",
                        "columns": df.columns,
                        "rows": [[_json_safe(v) for v in r] for r in rows],
                    }
            except Exception as exc:  # surface as protocol error, keep serving
                resp = {"status": "error", "error": f"{type(exc).__name__}: {exc}"}
            self.wfile.write((json.dumps(resp) + "\n").encode())
            self.wfile.flush()


class SqlServer(socketserver.ThreadingTCPServer):
    """`serve_forever()` on a background thread; `shutdown()` to stop."""

    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, spark: SparkSession, host: str = "127.0.0.1", port: int = 0,
                 max_rows: int = 10_000):
        super().__init__((host, port), _Handler)
        self.engine = Engine(spark)
        self.max_rows = max_rows

    @property
    def port(self) -> int:
        return self.server_address[1]

    def start_background(self) -> threading.Thread:
        t = threading.Thread(target=self.serve_forever, daemon=True)
        t.start()
        return t


class SqlClient:
    """Tiny blocking client for the line-JSON protocol (test/console use)."""

    def __init__(self, host: str, port: int, timeout: float = 60.0):
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._file = self._sock.makefile("rwb")

    def execute(self, sql: str, args: Any = None) -> dict:
        req: dict[str, Any] = {"sql": sql}
        if args is not None:
            req["args"] = args
        self._file.write((json.dumps(req) + "\n").encode())
        self._file.flush()
        line = self._file.readline(_MAX_LINE)
        if not line:
            raise ConnectionError("server closed the connection")
        return json.loads(line)

    def close(self) -> None:
        self._file.close()
        self._sock.close()


def main(argv: list[str] | None = None) -> int:
    import argparse

    from hyrise_spark.session import get_spark

    ap = argparse.ArgumentParser(description="hyrise_spark SQL-over-TCP server")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=5433)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--max-rows", type=int, default=10_000)
    args = ap.parse_args(argv)

    spark = get_spark("hyrise_spark_server", cpus=args.cpus)
    server = SqlServer(spark, args.host, args.port, max_rows=args.max_rows)
    print(f"hyrise_spark server listening on {args.host}:{server.port}")
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        server.shutdown()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
