"""pg-wire front end tests — a REAL `psql` binary connects and queries
(reference parity target: src/lib/server/postgres_protocol_handler.hpp).
"""
from __future__ import annotations

import shutil
import socket
import struct
import subprocess

import pytest

from hyrise_spark.pgwire import PgWireServer

SF_DIR = "/root/testdata/sf0.001"
PSQL = shutil.which("psql")


@pytest.fixture(scope="module")
def server(spark):
    srv = PgWireServer(spark, port=0, max_rows=50)
    srv.start_background()
    yield srv
    srv.shutdown()
    srv.server_close()


def _psql(server, sql, *extra):
    return subprocess.run(
        [PSQL, "-h", "127.0.0.1", "-p", str(server.port), "-U", "any", "-d", "any",
         "-X", "-A", "-t", *extra, "-c", sql],
        capture_output=True, text=True, timeout=120,
    )


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_select_one(server):
    out = _psql(server, "SELECT 1 AS x")
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "1"


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_typed_row(server):
    out = _psql(server, "SELECT 1 AS i, 2.5 AS d, 'hi' AS s, CAST(NULL AS INT) AS n")
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "1|2.5|hi|"


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_parquet_table(server, spark):
    spark.read.parquet(f"{SF_DIR}/nation.parquet").createOrReplaceTempView("pg_nation")
    out = _psql(
        server, "SELECT n_name FROM pg_nation WHERE n_nationkey < 3 ORDER BY n_name"
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["NATION_0", "NATION_1", "NATION_2"]


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_multi_statement_and_ddl(server):
    out = _psql(server, "CREATE VIEW pg_v AS SELECT 42 AS v; SELECT * FROM pg_v")
    assert out.returncode == 0, out.stderr
    assert "42" in out.stdout


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_transaction_rollback_roundtrip(server):
    """BEGIN..ROLLBACK from a real psql client: the mid-transaction SELECT
    sees the uncommitted write, the post-ROLLBACK SELECT sees the original
    state (postgres_protocol_handler analog; txn on the version ring)."""
    out = _psql(server, "CREATE TABLE pg_txn AS SELECT 1 AS x")
    assert out.returncode == 0, out.stderr
    try:
        # one connection, five sequential Query messages (psql -c prints
        # only the LAST result of a multi-statement string, so each
        # statement rides its own -c)
        out = _psql(
            server,
            "SELECT x FROM pg_txn",
            "-c", "BEGIN",
            "-c", "UPDATE pg_txn SET x = 2",
            "-c", "SELECT x FROM pg_txn",
            "-c", "ROLLBACK",
        )
        assert out.returncode == 0, out.stderr
        # psql echoes command tags for non-SELECTs; the data rows are the
        # mid-txn "2" and post-rollback "1"
        assert out.stdout.split() == ["BEGIN", "UPDATE", "2", "ROLLBACK", "1"], out.stdout
        out = _psql(server, "BEGIN; UPDATE pg_txn SET x = 3; COMMIT; SELECT x FROM pg_txn")
        assert out.returncode == 0, out.stderr
        assert out.stdout.strip() == "3", out.stdout
    finally:
        _psql(server, "DROP TABLE pg_txn")


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_error_reported(server):
    out = _psql(server, "SELECT * FROM no_such_table_pgw")
    assert out.returncode != 0
    assert "no_such_table_pgw" in out.stderr


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_connection_survives_error(server):
    bad = _psql(server, "SELECT * FROM no_such_table_pgw2")
    assert bad.returncode != 0
    ok = _psql(server, "SELECT 7 AS ok")
    assert ok.returncode == 0 and ok.stdout.strip() == "7"


class _RawPg:
    """Minimal extended-protocol client for testing (libpq message framing)."""

    def __init__(self, port):
        self.s = socket.create_connection(("127.0.0.1", port), timeout=60)
        body = struct.pack("!I", 196608) + b"user\x00t\x00database\x00t\x00\x00"
        self.s.sendall(struct.pack("!I", len(body) + 4) + body)
        self.drain_until(b"Z")

    def close(self):
        self.s.close()

    def send(self, mtype: bytes, payload: bytes):
        self.s.sendall(mtype + struct.pack("!I", len(payload) + 4) + payload)

    def drain_until(self, stop: bytes):
        msgs, buf = [], b""
        while True:
            buf += self.s.recv(65536)
            while len(buf) >= 5:
                t = buf[:1]
                (ln,) = struct.unpack("!I", buf[1:5])
                if len(buf) < 1 + ln:
                    break
                msgs.append((t, buf[5:1 + ln]))
                buf = buf[1 + ln:]
            if msgs and msgs[-1][0] == stop:
                return msgs

    def parse(self, name: str, sql: str, oids=()):
        payload = (name.encode() + b"\x00" + sql.encode() + b"\x00"
                   + struct.pack("!h", len(oids))
                   + b"".join(struct.pack("!I", o) for o in oids))
        self.send(b"P", payload)

    def bind(self, portal: str, stmt: str, params=(), result_formats=()):
        payload = (portal.encode() + b"\x00" + stmt.encode() + b"\x00"
                   + struct.pack("!h", 0)  # no param format codes (all text)
                   + struct.pack("!h", len(params)))
        for p in params:
            if p is None:
                payload += struct.pack("!i", -1)
            else:
                b = str(p).encode()
                payload += struct.pack("!i", len(b)) + b
        payload += struct.pack("!h", len(result_formats))
        payload += b"".join(struct.pack("!h", f) for f in result_formats)
        self.send(b"B", payload)

    def bind_binary(self, portal: str, stmt: str, params=(), result_formats=()):
        """Bind with PER-PARAM format codes: params are (fmt, payload)
        pairs — fmt 0 with a str payload, fmt 1 with raw bytes (or None)."""
        payload = (portal.encode() + b"\x00" + stmt.encode() + b"\x00"
                   + struct.pack("!h", len(params))
                   + b"".join(struct.pack("!h", f) for f, _ in params)
                   + struct.pack("!h", len(params)))
        for fmt, p in params:
            if p is None:
                payload += struct.pack("!i", -1)
            else:
                b = p if fmt == 1 else str(p).encode()
                payload += struct.pack("!i", len(b)) + b
        payload += struct.pack("!h", len(result_formats))
        payload += b"".join(struct.pack("!h", f) for f in result_formats)
        self.send(b"B", payload)

    def describe_portal(self, portal: str):
        self.send(b"D", b"P" + portal.encode() + b"\x00")

    def execute(self, portal: str, max_rows: int = 0):
        self.send(b"E", portal.encode() + b"\x00" + struct.pack("!i", max_rows))

    def sync(self):
        self.send(b"S", b"")


def test_extended_protocol_prepared_roundtrip(server):
    """Parse/Bind/Describe/Execute/Sync: a $N-parameterized statement runs
    with typed int parameters and returns typed rows."""
    c = _RawPg(server.port)
    try:
        c.parse("s1", "SELECT $1 + 1 AS x, $2 AS s", oids=(23, 25))
        c.bind("", "s1", params=(41, "hi"))
        c.describe_portal("")
        c.execute("")
        c.sync()
        msgs = c.drain_until(b"Z")
        kinds = [t for t, _ in msgs]
        assert kinds == [b"1", b"2", b"T", b"D", b"C", b"Z"], kinds
        datarow = dict(msgs)[b"D"]
        assert datarow == (struct.pack("!h", 2)
                           + struct.pack("!i", 2) + b"42"
                           + struct.pack("!i", 2) + b"hi")
        assert dict(msgs)[b"C"] == b"SELECT 1\x00"
    finally:
        c.close()


def test_extended_protocol_rebind_and_repeated_param(server):
    """One Parse, two Binds with different values; $1 used twice in the SQL."""
    c = _RawPg(server.port)
    try:
        c.parse("s2", "SELECT $1 * $1 AS sq", oids=(23,))
        for v, want in ((3, b"9"), (5, b"25")):
            c.bind("", "s2", params=(v,))
            c.execute("")
            c.sync()
            msgs = c.drain_until(b"Z")
            row = dict(msgs)[b"D"]
            assert row.endswith(want), (v, row)
    finally:
        c.close()


def test_extended_protocol_null_param_and_error_recovery(server):
    c = _RawPg(server.port)
    try:
        c.parse("s3", "SELECT $1 AS v", oids=(23,))
        c.bind("", "s3", params=(None,))
        c.execute("")
        c.sync()
        msgs = c.drain_until(b"Z")
        assert dict(msgs)[b"D"] == struct.pack("!h", 1) + struct.pack("!i", -1)
        # error inside extended mode: messages skipped until Sync, then usable
        c.parse("bad", "SELECT * FROM missing_tbl_xyz", oids=())
        c.bind("", "bad")
        c.execute("")
        c.sync()
        msgs = c.drain_until(b"Z")
        kinds = [t for t, _ in msgs]
        assert b"E" in kinds and kinds[-1] == b"Z"
        c.parse("ok", "SELECT 1 AS one", oids=())
        c.bind("", "ok")
        c.execute("")
        c.sync()
        msgs = c.drain_until(b"Z")
        assert dict(msgs)[b"D"].endswith(b"1")
    finally:
        c.close()


def test_raw_protocol_ssl_refusal_and_query(server):
    """Socket-level check of the framing psql depends on: SSLRequest gets 'N',
    startup gets AuthenticationOk..ReadyForQuery, Query gets T/D/C/Z."""
    with socket.create_connection(("127.0.0.1", server.port), timeout=60) as s:
        s.sendall(struct.pack("!II", 8, 80877103))  # SSLRequest
        assert s.recv(1) == b"N"
        params = b"user\x00t\x00database\x00t\x00\x00"
        body = struct.pack("!I", 196608) + params
        s.sendall(struct.pack("!I", len(body) + 4) + body)

        msgs = []
        buf = b""
        while True:
            buf += s.recv(65536)
            while len(buf) >= 5:
                t = buf[:1]
                (ln,) = struct.unpack("!I", buf[1:5])
                if len(buf) < 1 + ln:
                    break
                msgs.append((t, buf[5:1 + ln]))
                buf = buf[1 + ln:]
            if msgs and msgs[-1][0] == b"Z":
                break
        assert msgs[0][0] == b"R" and msgs[0][1] == struct.pack("!I", 0)
        assert msgs[-1] == (b"Z", b"I")

        s.sendall(b"Q" + struct.pack("!I", 4 + len(b"SELECT 5 AS v\x00")) + b"SELECT 5 AS v\x00")
        msgs = []
        buf = b""
        while True:
            buf += s.recv(65536)
            while len(buf) >= 5:
                t = buf[:1]
                (ln,) = struct.unpack("!I", buf[1:5])
                if len(buf) < 1 + ln:
                    break
                msgs.append((t, buf[5:1 + ln]))
                buf = buf[1 + ln:]
            if msgs and msgs[-1][0] == b"Z":
                break
        kinds = [t for t, _ in msgs]
        assert kinds == [b"T", b"D", b"C", b"Z"]
        # DataRow: one column, text "5"
        assert msgs[1][1] == struct.pack("!h", 1) + struct.pack("!i", 1) + b"5"
        assert msgs[2][1] == b"SELECT 1\x00"


def test_extended_protocol_dollar_in_string_literal(server):
    """$N inside a quoted literal is text, not a parameter."""
    c = _RawPg(server.port)
    try:
        c.parse("lit", "SELECT '$1 coupon' AS s, $1 AS v", oids=(23,))
        c.bind("", "lit", params=(9,))
        c.execute("")
        c.sync()
        msgs = c.drain_until(b"Z")
        row = dict(msgs)[b"D"]
        assert b"$1 coupon" in row and row.endswith(b"9")
    finally:
        c.close()


def test_extended_protocol_portal_suspension(server):
    """Execute with a row limit returns PortalSuspended and the NEXT Execute
    resumes from the cursor position — never re-sends the same rows."""
    c = _RawPg(server.port)
    try:
        c.parse("cur", "SELECT id FROM RANGE(5) ORDER BY id", oids=())
        c.bind("", "cur")
        c.execute("", max_rows=2)
        c.sync()
        msgs = c.drain_until(b"Z")
        kinds = [t for t, _ in msgs]
        assert kinds == [b"1", b"2", b"D", b"D", b"s", b"Z"], kinds
        first = [p for t, p in msgs if t == b"D"]
        c.execute("", max_rows=2)
        c.sync()
        msgs = c.drain_until(b"Z")
        second = [p for t, p in msgs if t == b"D"]
        assert [t for t, _ in msgs][-2:] == [b"s", b"Z"]
        assert first != second  # resumed, not repeated
        c.execute("")  # drain the rest
        c.sync()
        msgs = c.drain_until(b"Z")
        assert [t for t, _ in msgs] == [b"D", b"C", b"Z"]
        assert dict(msgs)[b"C"] == b"SELECT 5\x00"
    finally:
        c.close()


def test_extended_protocol_parameterized_insert(server, spark):
    """Parameterized DML through Bind must reach the Engine's Insert handler."""
    server.engine.execute(
        "DROP TABLE IF EXISTS pgw_dml; CREATE TABLE pgw_dml AS SELECT CAST(1 AS INT) AS k"
    )
    c = _RawPg(server.port)
    try:
        c.parse("ins", "INSERT INTO pgw_dml VALUES ($1)", oids=(23,))
        c.bind("", "ins", params=(42,))
        c.execute("")
        c.sync()
        msgs = c.drain_until(b"Z")
        assert dict(msgs)[b"C"] == b"INSERT\x00"
        rows = {r.k for r in server.engine.execute("SELECT * FROM pgw_dml").collect()}
        assert rows == {1, 42}
    finally:
        c.close()
        server.engine.execute("DROP TABLE IF EXISTS pgw_dml")


# -- binary result format (extended protocol, Bind result format code 1) ----

def _parse_data_cells(payload: bytes) -> list[bytes | None]:
    (n,) = struct.unpack_from("!h", payload, 0)
    off, cells = 2, []
    for _ in range(n):
        (ln,) = struct.unpack_from("!i", payload, off)
        off += 4
        if ln == -1:
            cells.append(None)
        else:
            cells.append(payload[off:off + ln])
            off += ln
    return cells


def _parse_row_description(payload: bytes):
    """-> list of (name, oid, format_code)."""
    (n,) = struct.unpack_from("!h", payload, 0)
    off, fields = 2, []
    for _ in range(n):
        end = payload.index(b"\x00", off)
        name = payload[off:end].decode()
        off = end + 1
        _toid, _att, oid, _tl, _tm, fmt = struct.unpack_from("!IhIhih", payload, off)
        off += 18
        fields.append((name, oid, fmt))
    return fields


def test_extended_binary_scalar_results(server):
    """resultFormat=1 (one code for all columns): network-order ints and
    floats, 1-byte bool, raw UTF-8 text — the libpq binary contract."""
    c = _RawPg(server.port)
    try:
        c.parse("b1", "SELECT CAST(7 AS INT) AS i, CAST(9 AS BIGINT) AS l,"
                      " CAST(2.5 AS DOUBLE) AS d, true AS b, 'hé' AS s,"
                      " CAST(NULL AS INT) AS n")
        c.bind("", "b1", result_formats=(1,))
        c.describe_portal("")
        c.execute("")
        c.sync()
        msgs = c.drain_until(b"Z")
        by = dict(msgs)
        fields = _parse_row_description(by[b"T"])
        assert [f for _, _, f in fields] == [1] * 6  # RowDescription says binary
        cells = _parse_data_cells(by[b"D"])
        assert struct.unpack("!i", cells[0]) == (7,)
        assert struct.unpack("!q", cells[1]) == (9,)
        assert struct.unpack("!d", cells[2]) == (2.5,)
        assert cells[3] == b"\x01"
        assert cells[4] == "hé".encode()
        assert cells[5] is None
    finally:
        c.close()


def test_extended_binary_temporal_and_numeric(server):
    """date = days since 2000-01-01 (int4), timestamp = micros since
    2000-01-01 (int8, integer_datetimes), numeric = base-10000 groups."""
    import datetime as dt

    c = _RawPg(server.port)
    try:
        c.parse("b2", "SELECT DATE '2024-05-06' AS d,"
                      " TIMESTAMP_NTZ '2024-05-06 07:08:09.123456' AS ts,"
                      " CAST(-123.45 AS DECIMAL(10,2)) AS num")
        c.bind("", "b2", result_formats=(1,))
        c.execute("")
        c.sync()
        cells = _parse_data_cells(dict(c.drain_until(b"Z"))[b"D"])
        assert struct.unpack("!i", cells[0]) == (
            (dt.date(2024, 5, 6) - dt.date(2000, 1, 1)).days,)
        want_us = int((dt.datetime(2024, 5, 6, 7, 8, 9, 123456)
                       - dt.datetime(2000, 1, 1)).total_seconds() * 1_000_000)
        assert struct.unpack("!q", cells[1]) == (want_us,)
        nd, w, sign, dscale = struct.unpack_from("!hhHh", cells[2], 0)
        digs = struct.unpack_from(f"!{nd}H", cells[2], 8)
        assert (nd, w, sign, dscale) == (2, 0, 0x4000, 2)
        assert digs == (123, 4500)  # -123.45 -> 123 * 10000^0 + 4500 * 10000^-1
    finally:
        c.close()


def test_extended_mixed_per_column_formats(server):
    """Per-column result format codes: text and binary interleaved in one
    row, with RowDescription reporting each column's code."""
    c = _RawPg(server.port)
    try:
        c.parse("b3", "SELECT CAST(7 AS INT) AS i, CAST(8 AS INT) AS j")
        c.bind("", "b3", result_formats=(0, 1))
        c.describe_portal("")
        c.execute("")
        c.sync()
        by = dict(c.drain_until(b"Z"))
        assert [f for _, _, f in _parse_row_description(by[b"T"])] == [0, 1]
        cells = _parse_data_cells(by[b"D"])
        assert cells[0] == b"7"  # text
        assert struct.unpack("!i", cells[1]) == (8,)  # binary
    finally:
        c.close()


# -- UCC discovery driven end-to-end from a real psql client ----------------

@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_ucc_discovery_roundtrip(server):
    """A psql client drives the full ucc_discovery_plugin analog over the
    wire: log a candidate-bearing statement, trigger discovery via the
    meta_exec insert (meta_exec_table.cpp:44-48), read the validated UCC
    from meta_uccs, and run a DISTINCT the rewrite now elides — all through
    the same connection surface the reference serves psql on."""
    try:
        out = _psql(server, "CREATE TABLE pgw_ucc AS SELECT CAST(id AS INT)"
                            " AS k, CAST(id % 5 AS INT) AS grp FROM RANGE(40)")
        assert out.returncode == 0, out.stderr
        # a GROUP BY k lands (pgw_ucc, k) in the statement-log candidates
        out = _psql(server, "SELECT k, COUNT(*) AS n FROM pgw_ucc GROUP BY k"
                            " ORDER BY k LIMIT 1")
        assert out.returncode == 0, out.stderr
        out = _psql(server, "INSERT INTO meta_exec VALUES ('ucc', 'discover_uccs')")
        assert out.returncode == 0, out.stderr
        out = _psql(server, "SELECT table_name, column_name FROM meta_uccs"
                            " ORDER BY table_name, column_name")
        assert out.returncode == 0, out.stderr
        assert "pgw_ucc|k" in out.stdout.splitlines()
        assert "pgw_ucc|grp" not in out.stdout  # duplicated -> not validated
        # the validated UCC makes this DISTINCT redundant; results unchanged
        out = _psql(server, "SELECT DISTINCT k FROM pgw_ucc")
        assert out.returncode == 0, out.stderr
        assert len(out.stdout.split()) == 40
    finally:
        server.engine.execute("DROP TABLE IF EXISTS pgw_ucc")


# -- COPY sub-protocol (psql \copy) ------------------------------------------

def _psql_in(server, sql, stdin_text):
    return subprocess.run(
        [PSQL, "-h", "127.0.0.1", "-p", str(server.port), "-U", "any", "-d", "any",
         "-X", "-A", "-t", "-c", sql],
        capture_output=True, text=True, timeout=120, input=stdin_text,
    )


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_copy_to_stdout_csv_header(server, spark):
    spark.read.parquet(f"{SF_DIR}/nation.parquet").createOrReplaceTempView("pg_cp_nation")
    out = _psql(server, "COPY (SELECT n_nationkey, n_name FROM pg_cp_nation"
                        " WHERE n_nationkey < 2 ORDER BY n_nationkey)"
                        " TO STDOUT (FORMAT csv, HEADER on)")
    assert out.returncode == 0, out.stderr
    assert out.stdout.splitlines() == [
        "n_nationkey,n_name", "0,NATION_0", "1,NATION_1"]


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_copy_to_stdout_text_escapes_and_nulls(server):
    out = _psql(server, "COPY (SELECT 1 AS a, CAST(NULL AS STRING) AS b,"
                        " concat('x', char(9), 'y') AS c) TO STDOUT")
    assert out.returncode == 0, out.stderr
    assert out.stdout == "1\t\\N\tx\\ty\n"  # NULL -> \N, literal tab escaped


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_copy_legacy_bare_options_uncapped(server, spark):
    """Legacy 'CSV HEADER' syntax; COPY must NOT be row-capped (server
    fixture caps SELECT at 50 rows — nation has only 25, so plant 60)."""
    spark.range(60).selectExpr("id AS k").createOrReplaceTempView("pg_cp_wide")
    out = _psql(server, "COPY pg_cp_wide TO STDOUT CSV HEADER")
    assert out.returncode == 0, out.stderr
    lines = out.stdout.splitlines()
    assert lines[0] == "k" and len(lines) == 61  # header + ALL 60 rows


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_copy_from_stdin_roundtrip(server):
    """\\copy ingest: text format with NULL and escaped tab, typed target
    table, readable afterwards over the same wire."""
    server.engine.execute(
        "DROP TABLE IF EXISTS pgw_cp;"
        " CREATE TABLE pgw_cp AS SELECT CAST(0 AS INT) AS k,"
        " CAST('seed' AS STRING) AS s WHERE 1 = 0"
    )
    try:
        out = _psql_in(server, "COPY pgw_cp FROM STDIN",
                       "1\thello\n2\t\\N\n3\ta\\tb\n")
        assert out.returncode == 0, out.stderr
        rows = sorted(
            (r.k, r.s) for r in server.engine.execute("SELECT * FROM pgw_cp").collect()
        )
        assert rows == [(1, "hello"), (2, None), (3, "a\tb")]
        out = _psql_in(server, "COPY pgw_cp (k, s) FROM STDIN (FORMAT csv, HEADER on)",
                       "k,s\n4,csvrow\n")
        assert out.returncode == 0, out.stderr
        n = server.engine.execute("SELECT COUNT(*) AS n FROM pgw_cp").collect()[0].n
        assert n == 4
    finally:
        server.engine.execute("DROP TABLE IF EXISTS pgw_cp")


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_backslash_copy_file_roundtrip(server, tmp_path):
    """The real psql \\copy meta-command: export to a local file, then
    ingest it back — exercises both COPY directions as psql drives them."""
    server.engine.execute(
        "DROP TABLE IF EXISTS pgw_cp2;"
        " CREATE TABLE pgw_cp2 AS SELECT CAST(id AS INT) AS k FROM RANGE(5)"
    )
    f = tmp_path / "dump.csv"
    try:
        out = _psql(server, f"\\copy (SELECT k FROM pgw_cp2 ORDER BY k) to '{f}' csv")
        assert out.returncode == 0, out.stderr
        assert f.read_text() == "0\n1\n2\n3\n4\n"
        out = _psql(server, f"\\copy pgw_cp2 from '{f}' csv")
        assert out.returncode == 0, out.stderr
        n = server.engine.execute("SELECT COUNT(*) AS n FROM pgw_cp2").collect()[0].n
        assert n == 10
    finally:
        server.engine.execute("DROP TABLE IF EXISTS pgw_cp2")


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_explain_returns_plan(server, spark):
    """EXPLAIN flows through the Engine's default path: a psql user gets
    the Spark physical plan as a one-column result."""
    spark.range(5).selectExpr("id AS k").createOrReplaceTempView("pg_ex")
    out = _psql(server, "EXPLAIN SELECT k FROM pg_ex WHERE k > 1")
    assert out.returncode == 0, out.stderr
    assert "Physical Plan" in out.stdout and "Filter" in out.stdout


def test_numeric_binary_encoding_lattice():
    """Pure-python pin of the pg binary NUMERIC encoder across the tricky
    lattice points: zero, negatives, sub-1 fractions with leading zero
    groups, trailing-zero groups, and base-10000 boundaries."""
    import decimal

    from hyrise_spark.pgwire import _numeric_binary

    def decode(b: bytes) -> decimal.Decimal:
        nd, w, sign, dscale = struct.unpack_from("!hhHh", b, 0)
        digs = struct.unpack_from(f"!{nd}H", b, 8)
        val = sum(decimal.Decimal(d) * (decimal.Decimal(10000) ** (w - i))
                  for i, d in enumerate(digs)) or decimal.Decimal(0)
        if sign:
            val = -val
        return val.quantize(decimal.Decimal(1).scaleb(-dscale)) if dscale else val

    for s in ("0", "123.45", "-0.07", "0.00123", "0.0001", "12345678.9999",
              "-98765", "10000", "123400", "9999.9999", "-10000.0001"):
        d = decimal.Decimal(s)
        assert decode(_numeric_binary(d)) == d, s


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_sql_udf_and_matview_roundtrip(server):
    """The round-7 engine surfaces work over the wire: a psql client can
    define a SQL scalar UDF, create a materialized view using it, observe
    snapshot staleness, refresh, and drop — all through pgwire."""
    out = _psql(
        server,
        "CREATE FUNCTION pg_disc(p DOUBLE, d DOUBLE) RETURNS DOUBLE "
        "RETURN ROUND(p * (1 - d), 2); "
        "CREATE TABLE pg_mv_base (v DOUBLE); "
        "INSERT INTO pg_mv_base VALUES (100.0), (200.0); "
        "CREATE MATERIALIZED VIEW pg_mv AS "
        "SELECT ROUND(SUM(pg_disc(v, 0.1)), 2) AS s FROM pg_mv_base; "
        "SELECT s FROM pg_mv",
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip().splitlines()[-1] == "270.0"

    out = _psql(
        server,
        "INSERT INTO pg_mv_base VALUES (700.0); "
        "SELECT s FROM pg_mv",  # stale snapshot until refresh
    )
    assert out.stdout.strip().splitlines()[-1] == "270.0"
    out = _psql(
        server,
        "REFRESH MATERIALIZED VIEW pg_mv; SELECT s FROM pg_mv",
    )
    assert out.stdout.strip().splitlines()[-1] == "900.0"
    out = _psql(
        server,
        "DROP MATERIALIZED VIEW pg_mv; DROP FUNCTION pg_disc; "
        "DROP TABLE pg_mv_base; SELECT 7 AS ok",
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip().splitlines()[-1] == "7"


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_merge_upsert_roundtrip(server):
    """MERGE INTO works over the wire: a psql client upserts and reads the
    merged state back."""
    out = _psql(
        server,
        "CREATE TABLE pg_mg (id INT, v INT); "
        "INSERT INTO pg_mg VALUES (1, 10), (2, 20); "
        "CREATE TABLE pg_mg_src (id INT, v INT); "
        "INSERT INTO pg_mg_src VALUES (2, 200), (3, 300); "
        "MERGE INTO pg_mg t USING pg_mg_src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v); "
        "SELECT id, v FROM pg_mg ORDER BY id",
    )
    assert out.returncode == 0, out.stderr
    lines = out.stdout.strip().splitlines()[-3:]
    assert [ln.split("|") for ln in lines] == [["1", "10"], ["2", "200"], ["3", "300"]]
    out = _psql(server, "DROP TABLE pg_mg; DROP TABLE pg_mg_src; SELECT 1 AS ok")
    assert out.returncode == 0, out.stderr


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_time_travel_roundtrip(server):
    """VERSION AS OF resolves over the wire: psql reads a past snapshot."""
    out = _psql(
        server,
        "CREATE TABLE pg_tt (id INT, v INT); "
        "INSERT INTO pg_tt VALUES (1, 10); "
        "UPDATE pg_tt SET v = 99; "
        "SELECT v FROM pg_tt VERSION AS OF 1",
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip().splitlines()[-1] == "10"
    out = _psql(server, "SELECT v FROM pg_tt")
    assert out.stdout.strip().splitlines()[-1] == "99"
    out = _psql(server, "DROP TABLE pg_tt; SELECT 1 AS ok")
    assert out.returncode == 0, out.stderr


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_alter_table_roundtrip(server):
    """Schema evolution over the wire: ADD/RENAME/DROP COLUMN from psql."""
    out = _psql(
        server,
        "CREATE TABLE pg_al (id INT); "
        "INSERT INTO pg_al VALUES (1); "
        "ALTER TABLE pg_al ADD COLUMN v BIGINT DEFAULT 7; "
        "ALTER TABLE pg_al RENAME COLUMN v TO val; "
        "SELECT id, val FROM pg_al",
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip().splitlines()[-1] == "1|7"
    out = _psql(
        server,
        "ALTER TABLE pg_al DROP COLUMN val; SELECT * FROM pg_al",
    )
    assert out.stdout.strip().splitlines()[-1] == "1"
    out = _psql(server, "DROP TABLE pg_al; SELECT 1 AS ok")
    assert out.returncode == 0, out.stderr


# -- binary PARAMETER format (extended protocol Bind, format code 1) ---------

def test_extended_binary_params_roundtrip(server):
    """Bind with binary-format parameters (libpq paramFormats=1): int8,
    int4, float8, bool and text arrive as pg send-function encodings and
    must bind exactly like their text twins."""
    c = _RawPg(server.port)
    try:
        c.parse("bp1", "SELECT $1 + 1 AS a, $2 + 0.5 AS b, $3 AS c, $4 AS d",
                oids=(20, 701, 16, 25))
        c.bind_binary("", "bp1", params=(
            (1, struct.pack("!q", 41)),
            (1, struct.pack("!d", 2.0)),
            (1, b"\x01"),
            (1, "hé".encode()),
        ))
        c.execute("")
        c.sync()
        msgs = dict(c.drain_until(b"Z"))
        cells = _parse_data_cells(msgs[b"D"])
        assert cells == [b"42", b"2.5", b"t", "hé".encode()]  # pg text bool = t
    finally:
        c.close()


def test_extended_mixed_text_and_binary_params(server):
    """Per-param format codes: a text int and a binary int in one Bind."""
    c = _RawPg(server.port)
    try:
        c.parse("bp2", "SELECT $1 + $2 AS s", oids=(23, 23))
        c.bind_binary("", "bp2", params=(
            (0, "40"),
            (1, struct.pack("!i", 2)),
        ))
        c.execute("")
        c.sync()
        msgs = dict(c.drain_until(b"Z"))
        assert _parse_data_cells(msgs[b"D"]) == [b"42"]
    finally:
        c.close()


def test_extended_binary_null_param_and_unsupported_oid(server):
    """NULL rides plen=-1 regardless of format; an unsupported binary OID
    errors but the connection recovers (per-message error + Sync)."""
    c = _RawPg(server.port)
    try:
        c.parse("bp3", "SELECT $1 AS v", oids=(20,))
        c.bind_binary("", "bp3", params=((1, None),))
        c.execute("")
        c.sync()
        msgs = dict(c.drain_until(b"Z"))
        assert _parse_data_cells(msgs[b"D"]) == [None]
        # uuid (2950) has no binary recv here -> ErrorResponse, then
        # the connection must keep serving
        c.parse("bp4", "SELECT $1 AS v", oids=(2950,))
        c.bind_binary("", "bp4", params=((1, b"\x00" * 16),))
        c.sync()
        msgs = c.drain_until(b"Z")
        assert any(t == b"E" for t, _ in msgs)
        c.parse("bp5", "SELECT 11 AS ok")
        c.bind("", "bp5")
        c.execute("")
        c.sync()
        msgs = dict(c.drain_until(b"Z"))
        assert _parse_data_cells(msgs[b"D"]) == [b"11"]
    finally:
        c.close()


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_ready_for_query_reports_transaction_status(server):
    """ReadyForQuery's status byte: 'T' while a BEGIN is open, 'I' after
    COMMIT/ROLLBACK — what drives psql's  =#  vs  =*#  prompt."""
    c = _RawPg(server.port)
    try:
        c.send(b"Q", b"BEGIN\x00")
        msgs = c.drain_until(b"Z")
        assert msgs[-1] == (b"Z", b"T"), msgs[-1]
        c.send(b"Q", b"ROLLBACK\x00")
        msgs = c.drain_until(b"Z")
        assert msgs[-1] == (b"Z", b"I"), msgs[-1]
    finally:
        c.close()


def test_extended_binary_numeric_param_roundtrip(server):
    """Binary NUMERIC parameters decode via the inverse of the result
    encoder — round-trip a value through encoder -> Bind -> engine."""
    import decimal

    from hyrise_spark.pgwire import _numeric_binary, _numeric_from_binary

    for s in ("12345.678", "-0.0042", "0", "99990000.00001", "-73000"):
        d = decimal.Decimal(s)
        assert _numeric_from_binary(_numeric_binary(d)) == d, s
    c = _RawPg(server.port)
    try:
        c.parse("bn1", "SELECT CAST($1 AS DECIMAL(15,2)) * 2 AS v", oids=(1700,))
        c.bind_binary("", "bn1", params=(
            (1, _numeric_binary(decimal.Decimal("21.25"))),
        ))
        c.execute("")
        c.sync()
        msgs = dict(c.drain_until(b"Z"))
        assert _parse_data_cells(msgs[b"D"]) == [b"42.50"]
    finally:
        c.close()


def test_numeric_binary_wide_values():
    """Review regression: NUMERIC wider than the default 28-digit decimal
    context must decode exactly (pg allows up to 131072 digits)."""
    import decimal

    from hyrise_spark.pgwire import _numeric_binary, _numeric_from_binary

    for s in (
        "12345678901234567890123456789012345.6789012345",
        "-" + "9" * 60 + "." + "1" * 20,
        "0.00000000000000000000000000000000000001",
    ):
        d = decimal.Decimal(s)
        assert _numeric_from_binary(_numeric_binary(d)) == d, s


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_round8_dialect_surfaces(server):
    """The round-8 SQL surfaces drive end-to-end from a real psql client:
    ON CONFLICT upsert, UPDATE ... FROM, savepoints, ASOF JOIN, QUALIFY."""
    _psql(server, "DROP TABLE IF EXISTS pg_r8")
    out = _psql(server, "CREATE TABLE pg_r8 (id INT, v INT)")
    assert out.returncode == 0, out.stderr
    try:
        out = _psql(
            server,
            "SELECT id, v FROM pg_r8 ORDER BY id",
            "-c", "INSERT INTO pg_r8 VALUES (1, 10), (2, 20)",
            "-c", "INSERT INTO pg_r8 VALUES (1, 99), (3, 30)"
                  " ON CONFLICT (id) DO UPDATE SET v = excluded.v",
            "-c", "BEGIN",
            "-c", "SAVEPOINT s1",
            "-c", "UPDATE pg_r8 SET v = 0",
            "-c", "ROLLBACK TO s1",
            "-c", "COMMIT",
        )
        assert out.returncode == 0, out.stderr
        assert out.stdout.split()[-3:] == ["1|99", "2|20", "3|30"], out.stdout
        out = _psql(
            server,
            "SELECT l.id, r.v FROM pg_r8 l ASOF JOIN pg_r8 r"
            " ON l.id = r.id AND l.v >= r.v",
        )
        assert out.returncode == 0, out.stderr
        out = _psql(
            server,
            "SELECT id, v, ROW_NUMBER() OVER (ORDER BY v DESC) AS rn"
            " FROM pg_r8 QUALIFY rn = 1",
        )
        assert out.returncode == 0, out.stderr
        assert out.stdout.strip() == "1|99|1", out.stdout
    finally:
        _psql(server, "DROP TABLE pg_r8")


def _cells(msgs_list):
    """All DataRow cell payloads across a drain (first column only)."""
    return [
        _parse_data_cells(body)[0] for t, body in msgs_list if t == b"D"
    ]


def test_two_connection_snapshot_visibility(server):
    """VERDICT r9 task #1 done-criterion, over the real wire protocol:
    while connection A holds an open transaction, connection B's SELECT
    sees the PRE-BEGIN committed state (served from the BEGIN pin — the
    reference's Validate visibility, validate.hpp:20); after A COMMITs,
    B sees the new state. B's writes stay fenced while A is open; B's
    ReadyForQuery status remains 'I' (transactions are connection-scoped)."""
    a, b = _RawPg(server.port), _RawPg(server.port)
    try:
        a.send(b"Q", b"CREATE TABLE pg_sv AS SELECT 1 AS x\x00")
        a.drain_until(b"Z")
        a.send(b"Q", b"BEGIN\x00")
        assert a.drain_until(b"Z")[-1] == (b"Z", b"T")
        a.send(b"Q", b"UPDATE pg_sv SET x = 2\x00")
        a.drain_until(b"Z")

        # B: committed-only view, idle status, fenced writes
        b.send(b"Q", b"SELECT x FROM pg_sv\x00")
        msgs = b.drain_until(b"Z")
        assert _cells(msgs) == [b"1"], _cells(msgs)
        assert msgs[-1] == (b"Z", b"I")  # B itself is idle
        b.send(b"Q", b"UPDATE pg_sv SET x = 99\x00")
        msgs = b.drain_until(b"Z")
        assert any(t == b"E" for t, _ in msgs)  # write fence error
        assert b"another connection" in dict(msgs)[b"E"]

        # A: sees its own uncommitted write, then commits
        a.send(b"Q", b"SELECT x FROM pg_sv\x00")
        assert _cells(a.drain_until(b"Z")) == [b"2"]
        a.send(b"Q", b"COMMIT\x00")
        assert a.drain_until(b"Z")[-1] == (b"Z", b"I")

        # B: post-commit state is visible, and B can write again
        b.send(b"Q", b"SELECT x FROM pg_sv\x00")
        assert _cells(b.drain_until(b"Z")) == [b"2"]
        b.send(b"Q", b"UPDATE pg_sv SET x = 5\x00")
        assert not any(t == b"E" for t, _ in b.drain_until(b"Z"))
        b.send(b"Q", b"SELECT x FROM pg_sv\x00")
        assert _cells(b.drain_until(b"Z")) == [b"5"]

        # rollback leg: B observed the old snapshot, A aborts
        a.send(b"Q", b"BEGIN; UPDATE pg_sv SET x = 7\x00")
        a.drain_until(b"Z")
        b.send(b"Q", b"SELECT x FROM pg_sv\x00")
        assert _cells(b.drain_until(b"Z")) == [b"5"]
        a.send(b"Q", b"ROLLBACK\x00")
        a.drain_until(b"Z")
        b.send(b"Q", b"SELECT x FROM pg_sv\x00")
        assert _cells(b.drain_until(b"Z")) == [b"5"]

        a.send(b"Q", b"DROP TABLE pg_sv\x00")
        a.drain_until(b"Z")
    finally:
        a.close()
        b.close()


def test_disconnect_rolls_back_abandoned_transaction(server):
    """A client killed after BEGIN must not leave the engine permanently
    write-fenced: connection teardown issues postgres's implicit ROLLBACK
    (ownership is keyed to a per-connection token, not a recyclable thread
    ident)."""
    import time

    a = _RawPg(server.port)
    a.send(b"Q", b"CREATE TABLE pg_dc AS SELECT 1 AS x\x00")
    a.drain_until(b"Z")
    a.send(b"Q", b"BEGIN; UPDATE pg_dc SET x = 2\x00")
    a.drain_until(b"Z")
    a.close()  # vanish mid-transaction — no COMMIT/ROLLBACK sent
    # teardown runs on the handler thread; poll briefly for the rollback
    deadline = time.time() + 10
    while server.engine._txn is not None and time.time() < deadline:
        time.sleep(0.05)
    assert server.engine._txn is None, "abandoned transaction still pinned"
    b = _RawPg(server.port)
    try:
        # the abandoned write was rolled back, and the engine accepts writes
        b.send(b"Q", b"SELECT x FROM pg_dc\x00")
        assert _cells(b.drain_until(b"Z")) == [b"1"]
        b.send(b"Q", b"UPDATE pg_dc SET x = 3\x00")
        assert not any(t == b"E" for t, _ in b.drain_until(b"Z"))
        b.send(b"Q", b"SELECT x FROM pg_dc\x00")
        assert _cells(b.drain_until(b"Z")) == [b"3"]
        b.send(b"Q", b"DROP TABLE pg_dc\x00")
        b.drain_until(b"Z")
    finally:
        b.close()


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_copy_binary_roundtrip(server, tmp_path):
    """COPY WITH (FORMAT binary) through a real psql \\copy: export the pg
    binary stream (signature + length-prefixed per-type send encodings) to
    a file, re-import it, and get byte-identical values back — including
    NULLs, doubles, dates and timestamps. Reference:
    postgres_protocol_handler.hpp speaks the same wire formats."""
    f = tmp_path / "t.bin"
    out = _psql(
        server,
        "CREATE TABLE pg_cb AS SELECT CAST(id AS INT) AS i,"
        " CAST(id * 1.5 AS DOUBLE) AS d,"
        " CASE WHEN id = 1 THEN NULL ELSE CONCAT('s', id) END AS s,"
        " DATE_ADD(DATE'2024-03-01', CAST(id AS INT)) AS dt,"
        " CAST(TIMESTAMP'2024-03-01 10:20:30' AS TIMESTAMP_NTZ) AS ts"
        " FROM RANGE(3)",
    )
    assert out.returncode == 0, out.stderr
    try:
        out = _psql(server, f"\\copy pg_cb TO '{f}' WITH (FORMAT binary)")
        assert out.returncode == 0, out.stderr
        raw = f.read_bytes()
        assert raw.startswith(b"PGCOPY\n\xff\r\n\x00")  # the pg signature
        out = _psql(server, "CREATE TABLE pg_cb2 AS SELECT * FROM pg_cb WHERE 1=0")
        assert out.returncode == 0, out.stderr
        out = _psql(server, f"\\copy pg_cb2 FROM '{f}' WITH (FORMAT binary)")
        assert out.returncode == 0, out.stderr
        a = _psql(server, "SELECT * FROM pg_cb ORDER BY i")
        b = _psql(server, "SELECT * FROM pg_cb2 ORDER BY i")
        assert a.stdout == b.stdout and "1.5" in a.stdout
        # HEADER is a text/csv-only option, like pg
        bad = _psql(server, f"\\copy pg_cb TO '{f}' WITH (FORMAT binary, HEADER)")
        assert "HEADER" in (bad.stderr + bad.stdout)
    finally:
        _psql(server, "DROP TABLE pg_cb; DROP TABLE IF EXISTS pg_cb2")


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_date_timestamp_text_render(server):
    """Regression (round 9): text-format rendering of DATE/TIMESTAMP values
    returned str instead of bytes, crashing ANY psql SELECT of a temporal
    column with \"can't concat str to bytes\"."""
    out = _psql(
        server,
        "SELECT DATE'2024-05-06' AS d,"
        " CAST(TIMESTAMP'2024-05-06 07:08:09' AS TIMESTAMP_NTZ) AS ts",
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "2024-05-06|2024-05-06 07:08:09"


@pytest.mark.skipif(PSQL is None, reason="psql not installed")
def test_psql_repeated_statement_hits_plan_cache(server):
    """The GDFS statement cache serves the wire path too: two identical
    psql SELECTs — the second is a cache hit (same analyzed plan, no
    re-analysis), and DML in between invalidates by epoch so the third
    read sees fresh data."""
    out = _psql(server, "CREATE TABLE pg_pc AS SELECT 5 AS x")
    assert out.returncode == 0, out.stderr
    try:
        eng = server.engine
        h0 = eng._plan_cache.hits
        for _ in range(2):
            out = _psql(server, "SELECT x FROM pg_pc")
            assert out.returncode == 0 and out.stdout.strip() == "5"
        assert eng._plan_cache.hits > h0
        out = _psql(server, "UPDATE pg_pc SET x = 6")
        assert out.returncode == 0, out.stderr
        out = _psql(server, "SELECT x FROM pg_pc")
        assert out.stdout.strip() == "6"  # epoch moved: no stale serve
    finally:
        _psql(server, "DROP TABLE pg_pc")


def test_psql_round9_dialect_surfaces(server):
    """The round-9 SQL surfaces drive end-to-end from a real psql client:
    DISTINCT ON, star EXCLUDE/REPLACE, frame EXCLUDE CURRENT ROW."""
    _psql(server, "DROP TABLE IF EXISTS pg_r9")
    out = _psql(server, "CREATE TABLE pg_r9 (id INT, g INT, v INT)")
    assert out.returncode == 0, out.stderr
    try:
        out = _psql(
            server,
            "SELECT DISTINCT ON (g) g, id, v FROM pg_r9 ORDER BY g, v DESC, id",
            "-c", "INSERT INTO pg_r9 VALUES (1, 0, 10), (2, 0, 30), (3, 1, 5)",
        )
        assert out.returncode == 0, out.stderr
        assert out.stdout.split()[-2:] == ["0|2|30", "1|3|5"], out.stdout
        out = _psql(server, "SELECT * EXCLUDE (id) REPLACE (v * 2 AS v)"
                            " FROM pg_r9 ORDER BY g, v")
        assert out.returncode == 0, out.stderr
        assert out.stdout.split() == ["0|20", "0|60", "1|10"], out.stdout
        out = _psql(
            server,
            "SELECT id, CAST(SUM(v) OVER (ORDER BY id ROWS BETWEEN"
            " UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
            " EXCLUDE CURRENT ROW) AS BIGINT) AS others FROM pg_r9 ORDER BY id",
        )
        assert out.returncode == 0, out.stderr
        assert out.stdout.split() == ["1|35", "2|15", "3|40"], out.stdout
    finally:
        _psql(server, "DROP TABLE pg_r9")


def test_psql_session3_dialect_surfaces(server):
    """Session-3 SQL surfaces end-to-end from psql: DISTINCT window
    aggregates (engine COLLECT_SET rewrite) and the SQL-standard PIVOT
    clause (native Spark parse)."""
    _psql(server, "DROP TABLE IF EXISTS pg_s3")
    out = _psql(server, "CREATE TABLE pg_s3 (g INT, c STRING, v INT)")
    assert out.returncode == 0, out.stderr
    try:
        out = _psql(
            server,
            "SELECT g, COUNT(DISTINCT v) OVER (PARTITION BY g) AS nd"
            " FROM pg_s3 ORDER BY g",
            "-c", "INSERT INTO pg_s3 VALUES (0,'x',7), (0,'y',7), (0,'x',9),"
                  " (1,'x',1)",
        )
        assert out.returncode == 0, out.stderr
        assert out.stdout.split()[-4:] == ["0|2", "0|2", "0|2", "1|1"], out.stdout
        out = _psql(
            server,
            "SELECT * FROM (SELECT g, c, v FROM pg_s3)"
            " PIVOT (SUM(v) FOR c IN ('x' AS x, 'y' AS y)) ORDER BY g",
        )
        assert out.returncode == 0, out.stderr
        assert out.stdout.split() == ["0|16|7", "1|1|"], out.stdout
        out = _psql(server, "SUMMARIZE pg_s3")
        assert out.returncode == 0, out.stderr
        lines = [l for l in out.stdout.splitlines() if l.strip()]
        assert len(lines) == 3 and lines[0].startswith("g|"), out.stdout
    finally:
        _psql(server, "DROP TABLE pg_s3")


# -- plan cache over the wire (VERDICT r9 #5: sql_plan_cache.hpp serves ----
# -- repeated EXECUTEs of one PREPARE; here the same GDFS cache serves the --
# -- extended protocol's Bind and the PREPARE/EXECUTE dialect) --------------
def test_extended_protocol_repeat_bind_hits_plan_cache(server):
    """A second Bind/Execute of the same Parse'd statement with the same
    bound values returns the CACHED analyzed plan: the GDFS hit counter
    moves, the re-bind measurably skips Catalyst analysis, and the entry's
    hit frequency is visible over the wire in meta_plan_cache_entries."""
    import time

    eng = server.engine
    # a wide expression list makes the analysis cost visible (sim_pq_topk
    # pattern: driver-side Catalyst work dominates repeated statements)
    exprs = ", ".join(
        f"CAST($1 AS INTEGER) * {i} + LENGTH(REPEAT('ab', {i % 7})) AS c{i}"
        for i in range(40)
    )
    sql = f"SELECT {exprs}"
    c = _RawPg(server.port)
    try:
        c.parse("pc1", sql, oids=(23,))
        h0, m0 = eng._plan_cache.hits, eng._plan_cache.misses

        t0 = time.perf_counter()
        c.bind("", "pc1", params=(2,))
        c.execute("")
        c.sync()
        c.drain_until(b"Z")
        t_miss = time.perf_counter() - t0
        assert eng._plan_cache.misses == m0 + 1
        assert eng._plan_cache.hits == h0

        # the hit/miss COUNTERS are the caching proof (VERDICT r11: the
        # wall-clock comparison added flake risk on a loaded box for zero
        # added evidence — dropped; t_miss above remains only to exercise
        # the timed path end-to-end)
        for _ in range(3):
            c.bind("", "pc1", params=(2,))
            c.execute("")
            c.sync()
            c.drain_until(b"Z")
        assert eng._plan_cache.hits == h0 + 3
        assert t_miss > 0  # timed path completed; no hit/miss clock race

        # different bound values = different plan cache entry (the
        # reference keys prepared plans per parameter binding too)
        c.bind("", "pc1", params=(3,))
        c.execute("")
        c.sync()
        c.drain_until(b"Z")
        assert eng._plan_cache.misses == m0 + 2
    finally:
        c.close()
    # stats visible over the wire: the hottest entries carry our statement
    out = _psql(
        server,
        "SELECT frequency FROM meta_plan_cache_entries "
        "WHERE statement LIKE 'SELECT CAST%c39%' ORDER BY frequency DESC",
    )
    assert out.returncode == 0, out.stderr
    freqs = [int(x) for x in out.stdout.split()]
    assert freqs and freqs[0] >= 2, out.stdout


def test_psql_prepare_execute_hits_plan_cache(server):
    """The PREPARE/EXECUTE dialect over the simple protocol shares the
    same cache: the second EXECUTE of identical bound values is a hit."""
    eng = server.engine
    out = _psql(
        server,
        "PREPARE pcp FROM 'SELECT $1 + 40 AS x'".replace("$1", "?"),
    )
    assert out.returncode == 0, out.stderr
    h0 = eng._plan_cache.hits
    for _ in range(2):
        out = _psql(server, "EXECUTE pcp (2)")
        assert out.returncode == 0, out.stderr
        assert out.stdout.strip() == "42", out.stdout
    assert eng._plan_cache.hits >= h0 + 1


def test_cross_connection_dml_invalidates_plan_cache(server):
    """VERDICT r10 task 8 — GDFS epoch semantics ACROSS live wire
    connections (gdfs_cache.hpp:15-20): connection A holds a Parse'd
    statement and is serving cache HITS; connection B mutates the
    referenced table; A's next execution of the SAME prepared statement
    must be an epoch INVALIDATION (not a hit), re-analyze, and read B's
    write. Counters pin the negative: hits frozen, invalidations +1."""
    out = _psql(server, "CREATE TABLE pg_xinv AS SELECT 10 AS x")
    assert out.returncode == 0, out.stderr
    eng = server.engine
    a, b = _RawPg(server.port), _RawPg(server.port)
    try:
        def run_a():
            a.bind("", "xi1")
            a.execute("")
            a.sync()
            return [m for t, m in a.drain_until(b"Z") if t == b"D"]

        a.parse("xi1", "SELECT x FROM pg_xinv", oids=())
        h0, i0 = eng._plan_cache.hits, eng._plan_cache.invalidations
        rows = run_a()          # miss (first execution of this text)
        assert rows and rows[-1].endswith(b"10")
        rows = run_a()          # hit
        assert eng._plan_cache.hits == h0 + 1
        assert rows and rows[-1].endswith(b"10")

        # connection B mutates the referenced table over the same wire
        b.parse("", "UPDATE pg_xinv SET x = 11", oids=())
        b.bind("", "")
        b.execute("")
        b.sync()
        b.drain_until(b"Z")

        h1 = eng._plan_cache.hits
        rows = run_a()          # MUST invalidate, not hit
        assert eng._plan_cache.hits == h1, "stale plan served after DML"
        assert eng._plan_cache.invalidations >= i0 + 1
        assert rows and rows[-1].endswith(b"11"), rows
    finally:
        a.close()
        b.close()
        _psql(server, "DROP TABLE pg_xinv")


def test_dollar_in_comment_or_quoted_identifier_is_not_bound():
    """$N inside a comment or a "..." identifier is text, not a parameter
    (the former scanner skipped only '...' literals)."""
    from hyrise_spark.pgwire import _dollar_to_named

    sql = 'SELECT $1 AS "cost $2" -- $3\n, \'$4\' /* $5 */ FROM t WHERE k = $2'
    assert _dollar_to_named(sql) == (
        'SELECT :p1 AS "cost $2" -- $3\n, \'$4\' /* $5 */ FROM t WHERE k = :p2')
