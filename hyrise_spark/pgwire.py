"""PostgreSQL wire-protocol (v3) front end for the Engine.

The reference serves real psql/BI clients through its server component
(src/lib/server/postgres_protocol_handler.hpp, query_handler.hpp:36). This
module is the analog, covering BOTH v3 sub-protocols:

* SIMPLE QUERY: startup (incl. SSLRequest/GSSENC refusal),
  AuthenticationOk trust auth, ParameterStatus, Query ->
  RowDescription/DataRow*/CommandComplete, ErrorResponse with
  transaction-idle recovery, Terminate — enough for `psql -c` and
  interactive psql sessions.
* EXTENDED QUERY (prepared statements, the reference's
  `query_handler.hpp:36 setup_prepared_plan/execute_prepared_plan`
  analog): Parse ($N placeholders -> Spark named parameter markers),
  Bind (text-format params, converted via the Parse-declared type OIDs;
  result format codes honored per column — text OR binary),
  Describe (statement or portal), Execute (row-cap honored),
  Close / Flush / Sync. Binary-format parameters are refused with a
  clear ErrorResponse (text format is what libpq sends by default).

Design note: Bind builds the DataFrame (lazily for queries); for DDL this
means side effects happen at Bind rather than Execute — acceptable for a
shim whose DDL path is also reachable via simple query.

Simple-query results travel in text format (format code 0), per protocol.
Extended-query results honor Bind's result format codes: binary (1) uses
the PostgreSQL binary send-function encodings (network-order ints/floats,
1-byte bool, raw UTF-8 for text, raw bytes for bytea, days/micros since
2000-01-01 for date/timestamp, base-10000 digit groups for numeric) so a
libpq client requesting resultFormat=1 gets real binary values instead of
an error. Rows are capped at `max_rows` like the JSON server — this is an
interactive entry point; the bulk path is the COPY sub-protocol below (or
the writers in `sources/`).

COPY sub-protocol (what psql's \\copy speaks): `COPY (query)|table TO
STDOUT` streams CopyData rows (text or csv format, optional header,
UNCAPPED — rows flow through toLocalIterator, partition-at-a-time);
`COPY table FROM STDIN` accepts CopyData until CopyDone, parses text/csv,
casts to the table schema, and routes through the Engine's INSERT handler.
Quoted-path COPY ('file') stays with the Engine's file import/export.
"""

from __future__ import annotations

import datetime
import decimal
import re
import socket
import socketserver
import struct
import threading
from typing import Any

from pyspark.sql import SparkSession

from .engine import Engine
from .sqltext import sub_outside

_SSL_REQUEST = 80877103
_GSSENC_REQUEST = 80877104
_CANCEL_REQUEST = 80877102
_PROTOCOL_V3 = 196608

# Spark type name -> (pg type oid, typlen); text format throughout.
_PG_OIDS = {
    "boolean": (16, 1),
    "int": (23, 4),
    "bigint": (20, 8),
    "smallint": (21, 2),
    "tinyint": (21, 2),
    "float": (700, 4),
    "double": (701, 8),
    "date": (1082, 4),
    "timestamp": (1114, 8),
    "timestamp_ntz": (1114, 8),
    "string": (25, -1),
    "binary": (17, -1),
}
_TEXT_OID = 25


def _oid_for(spark_type: str) -> tuple[int, int]:
    base = spark_type.split("(")[0]
    if base.startswith("decimal"):
        return 1700, -1
    return _PG_OIDS.get(base, (_TEXT_OID, -1))


def _render(v: Any) -> bytes | None:
    """Text-format rendering of one value (None -> SQL NULL)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return b"t" if v else b"f"
    if isinstance(v, bytes):
        return b"\\x" + v.hex().encode()
    if hasattr(v, "isoformat"):  # date / datetime -> pg text form
        s = v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
        return s.encode()
    if isinstance(v, (list, tuple)):  # pg array literal, shallow
        return (
            "{" + ",".join("NULL" if x is None else str(x) for x in v) + "}"
        ).encode()
    return str(v).encode()


_PG_EPOCH_DATE = datetime.date(2000, 1, 1)
_PG_EPOCH_TS = datetime.datetime(2000, 1, 1)


def _numeric_binary(d: decimal.Decimal) -> bytes:
    """PostgreSQL binary NUMERIC: (ndigits, weight, sign, dscale) header
    followed by base-10000 digit groups, most significant first. weight is
    the exponent (in base-10000 groups) of the first group."""
    t = d.as_tuple()
    dscale = max(0, -t.exponent) if isinstance(t.exponent, int) else 0
    sign = 0x4000 if t.sign else 0x0000
    digits = "".join(map(str, t.digits))
    exp = t.exponent if isinstance(t.exponent, int) else 0
    if exp > 0:  # integral value with positive exponent: expand the zeros
        digits += "0" * exp
        exp = 0
    split = len(digits) + exp  # decimal point position within the string
    intpart = digits[:split].lstrip("0") if split > 0 else ""
    fracpart = "0" * max(0, -split) + digits[max(split, 0):]
    intpart = "0" * ((-len(intpart)) % 4) + intpart
    fracpart = fracpart + "0" * ((-len(fracpart)) % 4)
    groups = [int(intpart[i:i + 4]) for i in range(0, len(intpart), 4)]
    weight = len(groups) - 1
    groups += [int(fracpart[i:i + 4]) for i in range(0, len(fracpart), 4)]
    while groups and groups[0] == 0:
        groups.pop(0)
        weight -= 1
    while groups and groups[-1] == 0:
        groups.pop()
    if not groups:
        weight = 0
    return struct.pack("!hhHh", len(groups), weight, sign, dscale) + b"".join(
        struct.pack("!H", g) for g in groups
    )


def _render_binary(v: Any, oid: int) -> bytes | None:
    """PostgreSQL binary-format send encoding for one value (None -> NULL).
    Covers every OID `_oid_for` can emit; anything mapped to the text OID
    (arrays, maps, structs) sends its text rendering — consistent with the
    advertised type."""
    if v is None:
        return None
    if oid == 16:
        return b"\x01" if v else b"\x00"
    if oid == 21:
        return struct.pack("!h", int(v))
    if oid == 23:
        return struct.pack("!i", int(v))
    if oid == 20:
        return struct.pack("!q", int(v))
    if oid == 700:
        return struct.pack("!f", float(v))
    if oid == 701:
        return struct.pack("!d", float(v))
    if oid == 17:
        return bytes(v)
    if oid == 1082:
        return struct.pack("!i", (v - _PG_EPOCH_DATE).days)
    if oid == 1114:
        if v.tzinfo is not None:  # normalize aware -> naive UTC
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        delta = v - _PG_EPOCH_TS
        return struct.pack("!q", delta.days * 86_400_000_000
                           + delta.seconds * 1_000_000 + delta.microseconds)
    if oid == 1700:
        return _numeric_binary(v if isinstance(v, decimal.Decimal)
                               else decimal.Decimal(str(v)))
    return _render(v)  # text OID: binary repr of text IS the raw bytes


def _col_formats(rfmts: tuple[int, ...], ncols: int) -> list[int]:
    """Bind's result-format-code list -> one code per column (protocol: 0
    codes = all text, 1 code = applies to all, else exactly one per col)."""
    if not rfmts:
        return [0] * ncols
    if len(rfmts) == 1:
        return [rfmts[0]] * ncols
    if len(rfmts) != ncols:
        raise ValueError(
            f"got {len(rfmts)} result format codes for {ncols} columns")
    return list(rfmts)


def _msg(type_byte: bytes, payload: bytes) -> bytes:
    return type_byte + struct.pack("!I", len(payload) + 4) + payload


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


_DOLLAR_PARAM = re.compile(r"\$(\d+)")

# wire-level COPY (what psql's \copy sends). Quoted-path COPY stays with the
# Engine's file import/export; only STDOUT/STDIN are handled here.
_COPY_OUT_RE = re.compile(
    r"^\s*COPY\s+(?:\((?P<query>.+)\)|(?P<table>\w+)(?:\s*\((?P<cols>[^)]*)\))?)"
    r"\s+TO\s+STDOUT\s*(?:WITH\s*)?"
    r"(?:\((?P<opts>[^)]*)\)|(?P<legacy>[A-Za-z][A-Za-z ]*))?\s*;?\s*$",
    re.I | re.S,
)
_COPY_IN_RE = re.compile(
    r"^\s*COPY\s+(?P<table>\w+)(?:\s*\((?P<cols>[^)]*)\))?"
    r"\s+FROM\s+STDIN\s*(?:WITH\s*)?"
    r"(?:\((?P<opts>[^)]*)\)|(?P<legacy>[A-Za-z][A-Za-z ]*))?\s*;?\s*$",
    re.I | re.S,
)


def _copy_opts(m: "re.Match") -> dict[str, str]:
    """Parenthesized options ('FORMAT csv, HEADER on') or legacy bare
    keywords ('CSV HEADER') -> {'format': 'csv', 'header': 'on'}."""
    out: dict[str, str] = {}
    for item in (m.group("opts") or "").split(","):
        parts = item.strip().split(None, 1)
        if not parts:
            continue
        out[parts[0].lower()] = (parts[1].strip().strip("'\"").lower()
                                 if len(parts) > 1 else "on")
    for tok in (m.group("legacy") or "").lower().split():
        if tok in ("csv", "text"):
            out["format"] = tok
        elif tok == "header":
            out["header"] = "on"
        else:
            raise ValueError(f"COPY option {tok!r} not supported")
    fmt = out.get("format", "text")
    if fmt not in ("text", "csv", "binary"):
        raise ValueError(
            f"COPY format {fmt!r} not supported (text, csv or binary)")
    if fmt == "binary" and "header" in out:
        raise ValueError("cannot specify HEADER in BINARY mode")
    return out


# PostgreSQL binary COPY file format (src/backend/commands/copyto.c layout):
# 11-byte signature, int32 flags, int32 header-extension length; then per
# tuple int16 field-count + per field int32 length (-1 = NULL) and the
# type's binary send encoding; int16 -1 trailer.
_COPY_BIN_SIG = b"PGCOPY\n\xff\r\n\x00"


def _copy_text_field(v: Any) -> str:
    """COPY text-format field: \\N for NULL, backslash escapes."""
    if v is None:
        return r"\N"
    t = _render(v)
    assert t is not None
    return (t.decode("utf-8", "replace")
            .replace("\\", "\\\\").replace("\t", "\\t")
            .replace("\n", "\\n").replace("\r", "\\r"))


def _copy_text_parse(field: str) -> str | None:
    if field == r"\N":
        return None
    out, i, n = [], 0, len(field)
    while i < n:
        ch = field[i]
        if ch == "\\" and i + 1 < n:
            nxt = field[i + 1]
            out.append({"t": "\t", "n": "\n", "r": "\r", "\\": "\\"}.get(nxt, nxt))
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _copy_csv_field(v: Any) -> str:
    if v is None:
        return ""
    t = _render(v)
    assert t is not None
    s = t.decode("utf-8", "replace")
    if any(c in s for c in (",", '"', "\n", "\r")):
        return '"' + s.replace('"', '""') + '"'
    return s


def _dollar_to_named(sql: str) -> str:
    """$N placeholders -> Spark named parameter markers :pN (named, not
    positional `?`, so repeated/reordered $N bind correctly). A $N inside
    a string literal, quoted identifier or comment is text, not a
    parameter."""
    return sub_outside(_DOLLAR_PARAM, lambda m: f":p{m[1]}", sql)


def _convert_param(text: str | None, oid: int):
    """Text-format parameter -> Python value, guided by the Parse-declared
    type OID (0/unknown stays a string; Spark coerces strings in most
    predicate positions)."""
    if text is None:
        return None
    if oid in (20, 21, 23):  # int8/int2/int4
        return int(text)
    if oid in (700, 701, 1700):  # float4/float8/numeric
        return float(text)
    if oid == 16:  # bool
        return text in ("t", "true", "1", "on", "yes")
    return text


def _convert_binary_param(raw: bytes | None, oid: int):
    """Binary-format Bind parameter -> Python value (the pg recv-function
    encodings: network-order two's-complement ints, IEEE-754 floats, one
    0/1 byte for bool, raw UTF-8 for text). The inverse of the per-column
    BINARY result encodings in _render_binary. Reference:
    postgres_protocol_handler.hpp reads the same wire formats."""
    if raw is None:
        return None
    if oid == 20:  # int8
        return struct.unpack("!q", raw)[0]
    if oid == 23:  # int4
        return struct.unpack("!i", raw)[0]
    if oid == 21:  # int2
        return struct.unpack("!h", raw)[0]
    if oid == 701:  # float8
        return struct.unpack("!d", raw)[0]
    if oid == 700:  # float4
        return struct.unpack("!f", raw)[0]
    if oid == 16:  # bool
        return raw != b"\x00"
    if oid == 1700:  # numeric: inverse of _numeric_binary
        return _numeric_from_binary(raw)
    if oid == 17:  # bytea: raw bytes
        return bytes(raw)
    if oid == 1082:  # date: days since 2000-01-01
        return _PG_EPOCH_DATE + datetime.timedelta(
            days=struct.unpack("!i", raw)[0])
    if oid == 1114:  # timestamp: microseconds since 2000-01-01
        return _PG_EPOCH_TS + datetime.timedelta(
            microseconds=struct.unpack("!q", raw)[0])
    if oid in (0, 25, 1043):  # unknown/text/varchar: raw UTF-8
        return raw.decode("utf-8")
    raise ValueError(f"binary Bind parameter not supported for type OID {oid}")


def _numeric_from_binary(raw: bytes) -> "decimal.Decimal":
    """Decode PostgreSQL binary NUMERIC (see _numeric_binary): base-10000
    digit groups with a group-exponent weight, sign flag, display scale."""
    ndigits, weight, sign, dscale = struct.unpack_from("!hhHh", raw, 0)
    groups = struct.unpack_from(f"!{ndigits}H", raw, 8)
    if sign == 0xC000:  # NaN
        return decimal.Decimal("NaN")
    # pg NUMERIC can carry far more than the default 28-digit context —
    # size the context to the value (4 digits per group + scale headroom)
    with decimal.localcontext() as ctx:
        ctx.prec = max(50, 4 * (ndigits + abs(weight) + 2) + dscale)
        val = decimal.Decimal(0)
        for i, g in enumerate(groups):
            val += decimal.Decimal(g).scaleb(4 * (weight - i))
        if sign == 0x4000:
            val = -val
        return val.quantize(decimal.Decimal(1).scaleb(-dscale)) if dscale else val


class _PgHandler(socketserver.BaseRequestHandler):
    def handle(self) -> None:
        server: PgWireServer = self.server  # type: ignore[assignment]
        sock: socket.socket = self.request
        # One handler thread per connection: bind a fresh engine client
        # token so transaction ownership is keyed to THIS connection (not a
        # recyclable thread ident), and so teardown can abort an abandoned
        # transaction (postgres's implicit ROLLBACK on disconnect).
        token = server.engine.begin_client_session()
        try:
            if not self._startup(sock):
                return
            self._send(sock, _msg(b"R", struct.pack("!I", 0)))  # AuthenticationOk
            for k, v in (
                ("server_version", "15.0 (hyrise_spark)"),
                ("server_encoding", "UTF8"),
                ("client_encoding", "UTF8"),
                ("DateStyle", "ISO, MDY"),
                ("integer_datetimes", "on"),
            ):
                self._send(sock, _msg(b"S", _cstr(k) + _cstr(v)))
            self._send(sock, _msg(b"K", struct.pack("!II", 1, 0)))  # BackendKeyData
            self._ready(sock)
            self._query_loop(sock, server)
        except (ConnectionResetError, BrokenPipeError, OSError):
            pass
        finally:
            # rolls back iff this connection still owns the open transaction
            server.engine.end_client_session(token)

    # -- startup ------------------------------------------------------------
    def _startup(self, sock: socket.socket) -> bool:
        while True:
            head = self._recv_exact(sock, 4)
            if head is None:
                return False
            (length,) = struct.unpack("!I", head)
            body = self._recv_exact(sock, length - 4)
            if body is None or len(body) < 4:
                return False
            (code,) = struct.unpack("!I", body[:4])
            if code in (_SSL_REQUEST, _GSSENC_REQUEST):
                sock.sendall(b"N")  # no TLS; client retries in cleartext
                continue
            if code == _CANCEL_REQUEST:
                return False  # no out-of-band cancel; close quietly
            if code != _PROTOCOL_V3:
                self._error(sock, f"unsupported protocol version {code}")
                return False
            return True

    # -- main loop ----------------------------------------------------------
    def _query_loop(self, sock: socket.socket, server: "PgWireServer") -> None:
        prepared: dict[str, tuple[str, list[int]]] = {}  # name -> (sql, oids)
        portals: dict[str, tuple[Any, str]] = {}  # name -> (df|None, tag)
        in_error = False  # extended-mode: skip until Sync after an error
        while True:
            head = self._recv_exact(sock, 5)
            if head is None:
                return
            mtype = head[:1]
            (length,) = struct.unpack("!I", head[1:])
            body = self._recv_exact(sock, length - 4)
            if body is None:
                return
            if mtype == b"X":  # Terminate
                return
            if mtype == b"S":  # Sync — always answered, clears error state
                in_error = False
                self._ready(sock)
                continue
            if in_error:
                continue  # discard until Sync (protocol error recovery)
            if mtype == b"Q":
                sql = body.rstrip(b"\x00").decode("utf-8", "replace")
                if not sql.strip():
                    self._send(sock, _msg(b"I", b""))  # EmptyQueryResponse
                    self._ready(sock)
                    continue
                try:
                    self._run_query(sock, server, sql)
                except Exception as exc:  # noqa: BLE001 — surfaced to client
                    self._error(sock, f"{type(exc).__name__}: {exc}")
                self._ready(sock)
                continue
            try:
                if mtype == b"P":
                    self._on_parse(sock, body, prepared)
                elif mtype == b"B":
                    self._on_bind(sock, server, body, prepared, portals)
                elif mtype == b"D":
                    self._on_describe(sock, body, prepared, portals)
                elif mtype == b"E":
                    self._on_execute(sock, server, body, portals)
                elif mtype == b"C":  # Close statement/portal
                    kind, rest = body[:1], body[1:]
                    name = rest.split(b"\x00", 1)[0].decode()
                    (prepared if kind == b"S" else portals).pop(name, None)
                    self._send(sock, _msg(b"3", b""))  # CloseComplete
                elif mtype == b"H":  # Flush — we always send eagerly
                    pass
                else:
                    raise ValueError(f"unsupported message type {mtype!r}")
            except Exception as exc:  # noqa: BLE001 — surfaced to client
                self._error(sock, f"{type(exc).__name__}: {exc}")
                in_error = True

    # -- extended protocol ----------------------------------------------------
    def _on_parse(self, sock, body: bytes, prepared: dict) -> None:
        name, rest = body.split(b"\x00", 1)
        query, rest = rest.split(b"\x00", 1)
        (n_types,) = struct.unpack("!h", rest[:2])
        oids = list(struct.unpack(f"!{n_types}I", rest[2:2 + 4 * n_types]))
        prepared[name.decode()] = (_dollar_to_named(query.decode()), oids)
        self._send(sock, _msg(b"1", b""))  # ParseComplete

    def _on_bind(self, sock, server, body: bytes, prepared: dict, portals: dict) -> None:
        portal, rest = body.split(b"\x00", 1)
        stmt, rest = rest.split(b"\x00", 1)
        off = 0
        (n_fmt,) = struct.unpack_from("!h", rest, off)
        off += 2
        fmts = struct.unpack_from(f"!{n_fmt}h", rest, off)
        off += 2 * n_fmt
        if any(f not in (0, 1) for f in fmts):
            raise ValueError(f"unknown parameter format code in {fmts}")
        (n_params,) = struct.unpack_from("!h", rest, off)
        off += 2
        sql, oids = prepared[stmt.decode()]
        args: dict[str, Any] = {}
        for i in range(n_params):
            (plen,) = struct.unpack_from("!i", rest, off)
            off += 4
            raw = None
            if plen != -1:
                raw = rest[off:off + plen]
                off += plen
            oid = oids[i] if i < len(oids) else 0
            # spec: 0 codes = all text, 1 code = applies to every param,
            # else one code per param
            fmt = fmts[0] if len(fmts) == 1 else (fmts[i] if fmts else 0)
            if fmt == 1:
                args[f"p{i + 1}"] = _convert_binary_param(raw, oid)
            else:
                args[f"p{i + 1}"] = _convert_param(
                    raw.decode("utf-8") if raw is not None else None, oid
                )
        # result format codes: honored per column (0 = text, 1 = binary)
        rfmts: tuple[int, ...] = ()
        if off + 2 <= len(rest):
            (n_rfmt,) = struct.unpack_from("!h", rest, off)
            off += 2
            rfmts = struct.unpack_from(f"!{n_rfmt}h", rest, off)
            if any(f not in (0, 1) for f in rfmts):
                raise ValueError(f"unknown result format code in {rfmts}")
        df = server.engine.execute(sql, args or None)
        tag = server.engine.command_tag(sql) if df is None else None
        # portal = {df, tag, rfmts, rows (collected on first Execute), pos}
        portals[portal.decode()] = {"df": df, "tag": tag, "rfmts": rfmts,
                                    "rows": None, "pos": 0}
        self._send(sock, _msg(b"2", b""))  # BindComplete

    def _on_describe(self, sock, body: bytes, prepared: dict, portals: dict) -> None:
        kind, rest = body[:1], body[1:]
        name = rest.split(b"\x00", 1)[0].decode()
        if kind == b"P":
            portal = portals[name]
            if portal["df"] is None:
                self._send(sock, _msg(b"n", b""))  # NoData
            else:  # RowDescription reflects Bind's result format codes
                df = portal["df"]
                self._send_row_description(
                    sock, df, _col_formats(portal["rfmts"], len(df.dtypes)))
            return
        # statement describe: ParameterDescription + (NoData — schema is only
        # known after Bind in this shim)
        _sql, oids = prepared[name]
        self._send(sock, _msg(b"t", struct.pack("!h", len(oids))
                              + b"".join(struct.pack("!I", o) for o in oids)))
        self._send(sock, _msg(b"n", b""))

    def _on_execute(self, sock, server, body: bytes, portals: dict) -> None:
        name, rest = body.split(b"\x00", 1)
        (max_rows,) = struct.unpack("!i", rest[:4])
        portal = portals[name.decode()]
        if portal["df"] is None:
            self._send(sock, _msg(b"C", _cstr(portal["tag"])))
            return
        if portal["rows"] is None:  # materialize once; fetches resume from pos
            portal["rows"] = server.engine.fetch(portal["df"], server.max_rows)
        rows, pos = portal["rows"], portal["pos"]
        batch = rows[pos:] if max_rows <= 0 else rows[pos:pos + max_rows]
        dtypes = portal["df"].dtypes
        self._send_data_rows(sock, batch,
                             fmts=_col_formats(portal["rfmts"], len(dtypes)),
                             oids=[_oid_for(t)[0] for _, t in dtypes])
        portal["pos"] = pos + len(batch)
        if portal["pos"] >= len(rows):
            self._send(sock, _msg(b"C", _cstr(f"SELECT {portal['pos']}")))
        else:  # client row limit hit mid-result: portal stays fetchable
            self._send(sock, _msg(b"s", b""))  # PortalSuspended

    def _run_query(self, sock: socket.socket, server: "PgWireServer", sql: str) -> None:
        m = _COPY_OUT_RE.match(sql)
        if m:
            return self._copy_out(sock, server, m)
        m = _COPY_IN_RE.match(sql)
        if m:
            return self._copy_in(sock, server, m)
        df = server.engine.execute(sql)
        if df is None:
            self._send(sock, _msg(b"C", _cstr(server.engine.command_tag(sql))))
            return
        rows = server.engine.fetch(df, server.max_rows)
        self._send_row_description(sock, df)
        self._send_data_rows(sock, rows)
        self._send(sock, _msg(b"C", _cstr(f"SELECT {len(rows)}")))

    # -- COPY sub-protocol (psql \copy) -------------------------------------
    def _copy_out(self, sock: socket.socket, server: "PgWireServer", m) -> None:
        """COPY ... TO STDOUT: CopyOutResponse + one CopyData per row.

        This is the one result path WITHOUT the max_rows cap: COPY is the
        bulk-export surface, and rows stream through toLocalIterator()
        (partition-at-a-time through the driver, never a full collect)."""
        opts = _copy_opts(m)
        fmt = opts.get("format", "text")
        header = opts.get("header", "off") in ("on", "true", "1")
        if m.group("query"):
            df = server.engine.execute(m.group("query"))
        else:
            cols = m.group("cols")
            sel = ", ".join(c.strip() for c in cols.split(",")) if cols else "*"
            df = server.engine.execute(f"SELECT {sel} FROM {m.group('table')}")
        ncols = len(df.columns)
        overall = 1 if fmt == "binary" else 0
        self._send(sock, _msg(b"H", struct.pack("!bh", overall, ncols)
                              + struct.pack(f"!{ncols}h", *([overall] * ncols))))
        n = 0
        if fmt == "binary":
            # WITH (FORMAT binary): the pg binary COPY stream over the
            # per-type send encodings already used for binary results
            # (_render_binary) — reference parity:
            # postgres_protocol_handler.hpp speaks the same layout.
            oids = [_oid_for(t)[0] for _, t in df.dtypes]
            self._send(sock, _msg(
                b"d", _COPY_BIN_SIG + struct.pack("!II", 0, 0)))
            for row in df.toLocalIterator():
                parts = [struct.pack("!h", ncols)]
                for v, oid in zip(row, oids):
                    b = _render_binary(v, oid)
                    if b is None:
                        parts.append(struct.pack("!i", -1))
                    else:
                        parts.append(struct.pack("!i", len(b)) + b)
                self._send(sock, _msg(b"d", b"".join(parts)))
                n += 1
            self._send(sock, _msg(b"d", struct.pack("!h", -1)))
        else:
            if fmt == "csv" and header:
                self._send(sock, _msg(b"d", (",".join(df.columns) + "\n").encode()))
            for row in df.toLocalIterator():
                if fmt == "csv":
                    line = ",".join(_copy_csv_field(v) for v in row)
                else:
                    line = "\t".join(_copy_text_field(v) for v in row)
                self._send(sock, _msg(b"d", (line + "\n").encode()))
                n += 1
        self._send(sock, _msg(b"c", b""))
        self._send(sock, _msg(b"C", _cstr(f"COPY {n}")))

    @staticmethod
    def _parse_copy_binary(data: bytes, ncols: int,
                           dtypes: list[str]) -> list[list]:
        """Parse a pg binary COPY stream into typed python rows: signature +
        flags + header extension, then per tuple int16 field-count and
        length-prefixed fields decoded with the per-type recv functions
        (_convert_binary_param — the same codecs binary Bind uses), int16
        -1 trailer. Field types come from the TARGET column dtypes, exactly
        like pg's recv path."""
        oids = [_oid_for(t)[0] for t in dtypes]
        if not data.startswith(_COPY_BIN_SIG):
            raise ValueError("COPY BINARY: missing PGCOPY signature")
        pos = len(_COPY_BIN_SIG)
        _flags, extlen = struct.unpack_from("!II", data, pos)
        pos += 8 + extlen
        rows: list[list] = []
        while True:
            if pos + 2 > len(data):
                raise ValueError("COPY BINARY: truncated stream (no trailer)")
            (cnt,) = struct.unpack_from("!h", data, pos)
            pos += 2
            if cnt == -1:
                break
            if cnt != ncols:
                raise ValueError(
                    f"COPY BINARY row has {cnt} fields, expected {ncols}")
            row = []
            for oid in oids:
                (ln,) = struct.unpack_from("!i", data, pos)
                pos += 4
                if ln == -1:
                    row.append(None)
                else:
                    row.append(_convert_binary_param(data[pos:pos + ln], oid))
                    pos += ln
            rows.append(row)
        return rows

    def _copy_in(self, sock: socket.socket, server: "PgWireServer", m) -> None:
        """COPY table FROM STDIN: CopyInResponse, accumulate CopyData until
        CopyDone, parse (text or csv; csv approximation: unquoted AND quoted
        empty both read as NULL), cast to the table schema, and route
        through the Engine's INSERT handler."""
        import csv as _csv
        import io
        import uuid

        import pyspark.sql.functions as F

        opts = _copy_opts(m)
        fmt = opts.get("format", "text")
        header = opts.get("header", "off") in ("on", "true", "1")
        table = m.group("table")
        target = server.engine.execute(f"SELECT * FROM {table} WHERE 1 = 0")
        tcols = ([c.strip() for c in m.group("cols").split(",")]
                 if m.group("cols") else list(target.columns))
        dtypes = dict(target.dtypes)
        unknown = [c for c in tcols if c not in dtypes]
        if unknown:
            raise ValueError(f"COPY column(s) {unknown} not in {table}")
        ncols = len(tcols)
        overall = 1 if fmt == "binary" else 0
        self._send(sock, _msg(b"G", struct.pack("!bh", overall, ncols)
                              + struct.pack(f"!{ncols}h", *([overall] * ncols))))
        buf = bytearray()
        while True:
            head = self._recv_exact(sock, 5)
            if head is None:
                raise ConnectionResetError
            mtype = head[:1]
            (length,) = struct.unpack("!I", head[1:])
            body = self._recv_exact(sock, length - 4)
            if body is None:
                raise ConnectionResetError
            if mtype == b"d":
                buf += body
            elif mtype == b"c":  # CopyDone
                break
            elif mtype == b"f":  # CopyFail
                raise ValueError("COPY aborted by client: "
                                 + body.split(b"\x00")[0].decode())
            elif mtype in (b"H", b"S"):  # Flush/Sync mid-copy: ignore
                continue
            else:
                raise ValueError(f"unexpected {mtype!r} during COPY FROM STDIN")
        spark = server.engine.spark
        view = f"copy_in_{uuid.uuid4().hex[:10]}"
        if fmt == "binary":
            rows = self._parse_copy_binary(bytes(buf), ncols,
                                           [dtypes[c] for c in tcols])
            sdf = spark.createDataFrame(
                [tuple(r) for r in rows],
                schema=", ".join(f"{c} {dtypes[c]}" for c in tcols),
            )
        else:
            text = buf.decode("utf-8")
            rows: list[list[str | None]] = []
            if fmt == "csv":
                rows = [[None if f == "" else f for f in r]
                        for r in _csv.reader(io.StringIO(text)) if r]
                if header and rows:
                    rows = rows[1:]
            else:
                for line in text.split("\n"):
                    if line in ("", "\\."):
                        continue
                    rows.append([_copy_text_parse(f) for f in line.split("\t")])
            for r in rows:
                if len(r) != ncols:
                    raise ValueError(
                        f"COPY row has {len(r)} fields, expected {ncols}: {r!r}")
            sdf = spark.createDataFrame(
                [tuple(r) for r in rows],
                schema=", ".join(f"{c} string" for c in tcols),
            ).select(*[F.col(c).cast(dtypes[c]).alias(c) for c in tcols])
        sdf.createOrReplaceTempView(view)
        try:
            server.engine.execute(
                f"INSERT INTO {table} ({', '.join(tcols)}) SELECT * FROM {view}"
            )
        finally:
            spark.catalog.dropTempView(view)
        self._send(sock, _msg(b"C", _cstr(f"COPY {len(rows)}")))

    def _send_row_description(self, sock: socket.socket, df,
                              fmts: list[int] | None = None) -> None:
        desc = b"".join(
            _cstr(name)
            + struct.pack(
                "!IhIhih",
                0,  # table oid
                0,  # attnum
                _oid_for(dtype)[0],
                _oid_for(dtype)[1],
                -1,  # typmod
                fmts[i] if fmts else 0,  # format code from Bind (0 = text)
            )
            for i, (name, dtype) in enumerate(df.dtypes)
        )
        self._send(sock, _msg(b"T", struct.pack("!h", len(df.dtypes)) + desc))

    def _send_data_rows(self, sock: socket.socket, rows,
                        fmts: list[int] | None = None,
                        oids: list[int] | None = None) -> None:
        for r in rows:
            cells = []
            for i, v in enumerate(r):
                t = (_render_binary(v, oids[i]) if fmts and fmts[i] == 1
                     else _render(v))
                cells.append(
                    struct.pack("!i", -1) if t is None else struct.pack("!i", len(t)) + t
                )
            self._send(sock, _msg(b"D", struct.pack("!h", len(r)) + b"".join(cells)))

    # -- plumbing -----------------------------------------------------------
    @staticmethod
    def _recv_exact(sock: socket.socket, n: int) -> bytes | None:
        buf = b""
        while len(buf) < n:
            chunk = sock.recv(n - len(buf))
            if not chunk:
                return None
            buf += chunk
        return buf

    @staticmethod
    def _send(sock: socket.socket, data: bytes) -> None:
        sock.sendall(data)

    def _ready(self, sock: socket.socket) -> None:
        # ReadyForQuery carries the backend transaction status: 'T' while a
        # BEGIN is open on THIS connection (psql shows the  =*#  prompt),
        # 'I' otherwise. Transactions are connection-scoped (postgres
        # semantics): another connection's open transaction does not change
        # this connection's status — its reads are served from the snapshot
        # pin and its writes are fenced, but it is itself idle.
        eng = getattr(self.server, "engine", None)
        status = b"T" if (
            eng is not None and eng._txn is not None
            and eng._txn.get("owner") == eng._owner_token()
        ) else b"I"
        self._send(sock, _msg(b"Z", status))

    def _error(self, sock: socket.socket, message: str) -> None:
        payload = (
            b"S" + _cstr("ERROR")
            + b"V" + _cstr("ERROR")
            + b"C" + _cstr("XX000")
            + b"M" + _cstr(message)
            + b"\x00"
        )
        self._send(sock, _msg(b"E", payload))


class PgWireServer(socketserver.ThreadingTCPServer):
    """Serve the Engine over the PostgreSQL v3 simple-query protocol."""

    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, spark: SparkSession, host: str = "127.0.0.1", port: int = 0,
                 max_rows: int = 10_000, engine: Engine | None = None):
        super().__init__((host, port), _PgHandler)
        self.engine = engine if engine is not None else Engine(spark)
        self.max_rows = max_rows
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self.server_address[1]

    def start_background(self) -> None:
        self._thread = threading.Thread(target=self.serve_forever, daemon=True)
        self._thread.start()


def main() -> None:  # pragma: no cover — manual entry point
    import argparse

    from .session import get_spark

    ap = argparse.ArgumentParser(description="hyrise_spark pg-wire server")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=5432)
    ap.add_argument("--max-rows", type=int, default=10_000)
    args = ap.parse_args()
    srv = PgWireServer(get_spark("hyrise_spark_pgwire"), args.host, args.port,
                       args.max_rows)
    print(f"pg-wire server listening on {args.host}:{srv.port}")
    srv.serve_forever()


if __name__ == "__main__":
    main()
