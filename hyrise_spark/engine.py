"""Engine — SQL front door + statement router.

Reference pipeline: SQLPipeline -> SQLTranslator -> Optimizer -> LQPTranslator
-> scheduler (/root/reference/src/lib/sql/sql_pipeline_statement.hpp:50-52).
On Spark the parse/optimize/execute stages ARE `spark.sql`; the engine adds
what Spark's dialect doesn't route natively for the reference surface:

- multi-statement strings (SQLPipeline splits on ';', sql_pipeline.cpp)
- IMPORT/EXPORT statements (operators/import.hpp:23, export.hpp:24) over
  csv / tbl / parquet / binary-as-parquet
- CREATE/DROP VIEW against the Catalog (maintenance/create_view.hpp)
- meta-table queries (utils/meta_tables/*): `meta_tables`, `meta_columns`, ...
- prepared statements (storage/prepared_plan.hpp) via parameterized spark.sql
"""

from __future__ import annotations

import datetime
import itertools
import re
import threading
import time
import uuid
import warnings
import weakref
from copy import copy as _shallow_copy
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from hyrise_spark.catalog import Catalog, read_parquet
from hyrise_spark.sqltext import (
    find_top_level,
    mask,
    match_paren,
    split_statements,
    split_top_level,
    sub_outside,
)

_IMPORT_RE = re.compile(
    r"^\s*IMPORT\s+FROM\s+'(?P<path>[^']+)'\s+INTO\s+(?P<table>\w+)\s*$", re.I
)
_EXPORT_RE = re.compile(
    r"^\s*EXPORT\s+(?P<table>\w+)\s+TO\s+'(?P<path>[^']+)'\s*$", re.I
)
# COPY t FROM/TO 'file' [WITH (FORMAT TBL|CSV|BINARY|PARQUET)] — the
# reference's Import/Export alias (sql_translator.cpp:1847-1870; an explicit
# FORMAT overrides extension inference)
_COPY_FROM_RE = re.compile(
    r"^\s*COPY\s+(?P<table>\w+)\s+FROM\s+'(?P<path>[^']+)'"
    r"(?:\s+WITH\s*\(\s*FORMAT\s+(?P<fmt>\w+)\s*\))?\s*$",
    re.I,
)
# COPY <t>|(<query>) TO 'path' [[WITH] (FORMAT f[, PARTITION_BY (c, ...)])]
# — the query form and hive-partitioned parquet output are DuckDB dialect
# (beyond the reference's table-only Export, export.hpp:24); PARTITION_BY
# is the scale-relevant shape: a 100 TB export writes one directory per
# key so downstream scans partition-prune.
_COPY_TO_RE = re.compile(
    r"^\s*COPY\s+(?:(?P<table>\w+)|\((?P<query>.+)\))\s+TO\s+'(?P<path>[^']+)'"
    r"(?:\s+(?:WITH\s+)?\(\s*FORMAT\s+(?P<fmt>\w+)"
    r"(?:\s*,\s*PARTITION_BY\s*(?:\(\s*(?P<pcols>[\w\s,]+?)\s*\)|(?P<pcol>\w+)))?"
    r"\s*\))?\s*$",
    re.I | re.S,
)
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(?P<orrepl>OR\s+REPLACE\s+)?VIEW\s+(?P<name>\w+)\s*"
    r"(?:\(\s*(?P<cols>\w+(?:\s*,\s*\w+)*)\s*\)\s*)?AS\s+(?P<sql>.+)$",
    re.I | re.S,
)
# Materialized views (beyond the reference, whose views are virtual-only —
# create_view.hpp): CREATE materializes the defining query into a catalog
# table snapshot; the definition is kept so REFRESH recomputes it. Staleness
# between refreshes is the SQL-standard contract.
_CREATE_MATVIEW_RE = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?P<name>\w+)\s+AS\s+(?P<sql>.+)$",
    re.I | re.S,
)
_REFRESH_MATVIEW_RE = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(?P<name>\w+)\s*$", re.I
)
_DROP_MATVIEW_RE = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(?P<ifex>IF\s+EXISTS\s+)?(?P<name>\w+)\s*$",
    re.I,
)
_DROP_VIEW_RE = re.compile(
    r"^\s*DROP\s+VIEW\s+(?P<ifex>IF\s+EXISTS\s+)?(?P<name>\w+)\s*$", re.I
)
_DROP_TABLE_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?P<ifex>IF\s+EXISTS\s+)?(?P<name>\w+)\s*$", re.I
)
_CREATE_TABLE_RE = re.compile(
    r"^\s*CREATE\s+(?P<orrepl>OR\s+REPLACE\s+)?TABLE\s+"
    r"(?P<ifnx>IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)\s+AS\s+(?P<sql>.+)$",
    re.I | re.S,
)
# CREATE TABLE [IF NOT EXISTS] t (col TYPE, ...) — empty table from a schema
# (maintenance/create_table.hpp analog; the col-defs parse as a Spark DDL
# schema string)
_CREATE_TABLE_SCHEMA_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<ifnx>IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)\s*"
    r"\((?P<cols>.+)\)\s*$",  # .+ so DECIMAL(10,2)/VARCHAR(n) col defs match
    re.I | re.S,
)
# hyrise prepared-statement dialect (sql_translator.cpp:1808-1850):
# PREPARE name FROM 'SELECT ... ?'  /  EXECUTE name (lit, ...)
_PREPARE_RE = re.compile(
    r"^\s*PREPARE\s+(?P<name>\w+)\s+FROM\s+'(?P<sql>.+)'\s*$", re.I | re.S
)
_EXECUTE_RE = re.compile(
    r"^\s*EXECUTE\s+(?P<name>\w+)\s*(?:\((?P<args>.*)\))?\s*$", re.I | re.S
)
# postgres: DEALLOCATE [PREPARE] name | ALL
_DEALLOCATE_RE = re.compile(
    r"^\s*DEALLOCATE\s+(?:PREPARE\s+)?(?P<name>\w+)\s*$", re.I
)


_ENGINE_SEQ = itertools.count()


def _parse_literal(tok: str):
    """One EXECUTE argument literal -> Python value."""
    t = tok.strip()
    if t.upper() == "NULL":
        return None
    if t.startswith("'") and t.endswith("'"):
        return t[1:-1].replace("''", "'")
    if re.fullmatch(r"-?\d+", t):
        return int(t)
    if re.fullmatch(r"-?\d*\.\d+(?:[eE][+-]?\d+)?|-?\d+[eE][+-]?\d+", t):
        return float(t)
    raise ValueError(f"cannot parse EXECUTE argument {tok!r}")
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<table>\w+)\s+(?P<rest>.+)$", re.I | re.S
)
_INSERT_COLS_RE = re.compile(r"^\(\s*(?P<cols>\w+(?:\s*,\s*\w+)*)\s*\)\s*(?P<rest>.+)$", re.S)


def _insert_columns(body: str) -> tuple[list[str] | None, str]:
    """An INSERT body's optional column list, and the VALUES/SELECT after
    it: `(b, id) VALUES ...` -> (["b", "id"], "VALUES ..."). A
    parenthesized `(SELECT ...)` is a source, not a column list."""
    m = _INSERT_COLS_RE.match(body)
    if m and m["cols"].split(",")[0].strip().upper() != "SELECT":
        return [c.strip() for c in m["cols"].split(",")], m["rest"].strip()
    return None, body
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<table>\w+)(?:\s+(?P<rest>.+))?\s*$", re.I | re.S
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<table>\w+)\s+SET\s+(?P<rest>.+)$",
    re.I | re.S,
)
# Time travel (MVCC-visibility analog, mvcc_data.hpp: begin/end commit-ids
# let old transactions read old row versions; here any table reference may
# pin a past write-version): `<table> VERSION AS OF <n>`. Resolved by view
# substitution BEFORE routing, so it works inside any SELECT/MERGE/CTE.
_VERSION_RE = re.compile(
    r"\b(?P<t>\w+)\s+VERSION\s+AS\s+OF\s+(?P<v>\d+)"
    r"(?:\s+(?:AS\s+)?(?P<a>(?!WHERE\b|JOIN\b|ON\b|GROUP\b|ORDER\b|LEFT\b"
    r"|RIGHT\b|INNER\b|FULL\b|CROSS\b|LIMIT\b|HAVING\b|UNION\b|EXCEPT\b"
    r"|INTERSECT\b|WHEN\b|USING\b|SET\b|VALUES\b)\w+))?",
    re.I,
)
_TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+(?:TABLE\s+)?(?P<table>\w+)\s*$", re.I
)
_ALTER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>\w+)\s+(?P<action>.+)$", re.I | re.S
)
_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<table>\w+)"
    r"(?:\s+(?:AS\s+)?(?!USING\b)(?P<talias>\w+))?"
    r"\s+USING\s+(?P<rest>.+)$",
    re.I | re.S,
)
_TXN_TAIL = r"(?:\s+(?:TRANSACTION|WORK))?\s*$"
_BEGIN_RE = re.compile(r"^\s*BEGIN" + _TXN_TAIL, re.I)
_START_RE = re.compile(r"^\s*START\s+TRANSACTION" + _TXN_TAIL, re.I)
_COMMIT_RE = re.compile(r"^\s*COMMIT" + _TXN_TAIL, re.I)
_ROLLBACK_TXN_RE = re.compile(r"^\s*ROLLBACK" + _TXN_TAIL, re.I)
_SAVEPOINT_RE = re.compile(r"^\s*SAVEPOINT\s+(?P<name>\w+)\s*$", re.I)
_ROLLBACK_TO_RE = re.compile(
    r"^\s*ROLLBACK(?:\s+(?:TRANSACTION|WORK))?\s+TO\s+(?:SAVEPOINT\s+)?(?P<name>\w+)\s*$",
    re.I,
)
_RELEASE_RE = re.compile(
    r"^\s*RELEASE\s+(?:SAVEPOINT\s+)?(?P<name>\w+)\s*$", re.I
)
_VACUUM_RE = re.compile(r"^\s*VACUUM\s+(?P<table>\w+)\s*$", re.I)
# SHOW TABLES / SHOW COLUMNS t — the reference rewrites these onto its meta
# tables (sql_translator.cpp:1583-1597); same mapping here
_SHOW_TABLES_RE = re.compile(r"^\s*SHOW\s+TABLES\s*$", re.I)
_SHOW_COLUMNS_RE = re.compile(
    r"^\s*SHOW\s+COLUMNS\s+(?:FROM\s+)?(?P<t>\w+)\s*$", re.I)
_SUMMARIZE_RE = re.compile(
    r"^\s*SUMMARIZE\s+(?:(?P<table>\w+)\s*$|(?P<query>SELECT\b.+))", re.I | re.S)
_META_REF_RE = re.compile(r"\bmeta_\w+", re.I)
# Engine-dialect markers. Each one routes a SELECT to its rewrite in
# _dispatch (which EXPLAIN shares); they are searched on the literal- and
# comment-free mask (sqltext.mask), never on the raw text.
_GROUPS_FRAME_RE = re.compile(r"\bGROUPS\s+BETWEEN\b", re.I)
_FRAME_EXCLUDE_RE = re.compile(
    r"\bEXCLUDE\s+(?:CURRENT\s+ROW|GROUP|TIES|NO\s+OTHERS)\b", re.I)
_WINDOW_FILTER_RE = re.compile(r"\bFILTER\s*\(\s*WHERE\b", re.I)
_DISTINCT_AGG_RE = re.compile(
    r"\b(?:COUNT|SUM|AVG|MIN|MAX)\s*\(\s*DISTINCT\b", re.I)
_OVER_RE = re.compile(r"\bOVER\b", re.I)
_NAMED_WINDOW_RE = re.compile(r"\bWINDOW\s+[A-Za-z_]\w*\s+AS\s*\(", re.I)
_OVER_NAME_RE = re.compile(r"\bOVER\s+([A-Za-z_]\w*)", re.I)
_STAR_MODIFIER_RE = re.compile(
    r"\*\s+(?:EXCLUDE\s*(?:\(|\w)|REPLACE\s*\()", re.I)
_DISTINCT_ON_RE = re.compile(r"^\s*SELECT\s+DISTINCT\s+ON\s*\(", re.I)
_SUBQUERY_RE = re.compile(r"\(\s*SELECT\b", re.I)
_EXPLAIN_RE = re.compile(
    r"^\s*EXPLAIN\s+(?:(?:(?P<analyze>ANALYZE)"
    r"|(?P<mode>FORMATTED|EXTENDED|CODEGEN|COST))\b)?\s*(?P<body>.+)$",
    re.I | re.S,
)
# ASOF JOIN (DuckDB/QuestDB dialect; beyond the reference's join vocabulary,
# types.hpp:210). Shape: one equi-key + one time inequality in ON; the
# inequality's comparison picks the direction (l.ts >= r.ts -> latest
# earlier right row; l.ts <= r.ts -> earliest later).
_ASOF_RE = re.compile(
    r"^\s*SELECT\s+(?P<list>.+?)\s+FROM\s+"
    r"(?P<lt>\w+)(?:\s+(?:AS\s+)?(?!ASOF\b)(?P<la>\w+))?"
    r"\s+ASOF\s+(?P<left>LEFT\s+)?JOIN\s+"
    r"(?P<rt>\w+)(?:\s+(?:AS\s+)?(?!ON\b)(?P<ra>\w+))?"
    r"\s+ON\s+(?P<cond>.+?)\s*$",
    re.I | re.S,
)
# SQL scalar UDFs (SQL:2016 PSM-lite; beyond the reference, whose only
# "functions" are the three built-ins at function_expression.hpp:14-18).
# Spark executes the body as a catalyst expression — JVM-side, codegen'd,
# NOT a Python UDF; persistence is session-scoped like views here, so the
# statement is normalized onto CREATE OR REPLACE TEMPORARY FUNCTION.
_CREATE_FUNCTION_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?FUNCTION\s+"
    r"(?P<name>\w+)(?P<rest>\s*\(.+)$",
    re.I | re.S,
)
_DROP_FUNCTION_RE = re.compile(
    r"^\s*DROP\s+(?:TEMPORARY\s+)?FUNCTION\s+(?P<ifex>IF\s+EXISTS\s+)?(?P<name>\w+)\s*$",
    re.I,
)
# Nondeterministic SQL functions inside DML: a lazy snapshot plan would
# re-roll them on every later action (and RETURNING would see a different
# roll than the table swap). Statements matching this pin their evaluation
# once via localCheckpoint.
_NONDET_RE = re.compile(
    r"\b(?:rand|randn|random|uuid|shuffle|monotonically_increasing_id)\s*\(",
    re.I,
)
# Time functions Spark's optimizer folds to a literal (ComputeCurrentTime):
# an optimized plan kept for re-execution (Engine.fetch) would freeze them.
_TIME_FN_RE = re.compile(
    r"\b(?:current_timestamp|current_date|current_time|localtimestamp|now"
    r"|curdate|unix_timestamp)\b",
    re.I,
)
# Executed-plan nodes that keep state between executions: a re-executed
# Exchange reuses its shuffle files, a BroadcastExchange its relation, a
# Subquery its result, and an AdaptiveSparkPlan its materialized query
# stages (ReusedExchange, SubqueryBroadcast, ... match too).
_STATEFUL_NODE_RE = re.compile(r"Exchange|Subquery|AdaptiveSparkPlan|QueryStage")
_NAME_RE = re.compile(r"\w+")
# Spark-native temp views (no catalog entry) keep their SQL text and
# re-resolve its names on every read; see _read_closure
_SESSION_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?TEMP(?:ORARY)?\s+VIEW\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?(?:\w+\s*\.\s*)?`?(?P<name>\w+)",
    re.I,
)

# -- statement routing ----------------------------------------------------------
# Hyrise decides what a statement is once (SQLTranslator switches on the
# parsed statement type, sql_translator.cpp:355-383). Here its first word,
# read from the mask ("(" opens a parenthesized query), picks one row of
# _ROUTES, and every reader takes the answer from Engine._route: the write
# fence, the plan-cache gate, the plan views, the epoch bump of a Spark
# pass-through, the meta_log ROLLBACK tag and pgwire's CommandComplete tag.
# A row is (words, kind, cases); the first case (pattern, handler[, kind])
# that matches names the Engine method that runs the statement, and may
# refine the kind. A statement no case matches goes to Spark as written.
_LEAD_RE = re.compile(r"\s*(\(|\w+)")
_ROUTES = (
    # query: reads. Behind another connection's open transaction they read
    # its BEGIN pin (_snapshot_read). The texts Spark plans (_query) are
    # cached; SHOW, DESCRIBE, SUMMARIZE and EXPLAIN are cheap to plan or
    # compute their rows when they run, so they are not.
    (("SELECT", "WITH", "VALUES", "TABLE", "FROM", "("), "query", ((re.compile(""), "_query"),)),
    (("EXPLAIN",), "query", ((_EXPLAIN_RE, "_explain"),)),
    (("SHOW",), "query", ((_SHOW_TABLES_RE, "_show"), (_SHOW_COLUMNS_RE, "_show"))),
    (("DESCRIBE", "DESC"), "query", ()),
    (("SUMMARIZE",), "query", ((_SUMMARIZE_RE, "_summarize"),)),
    # write: change catalog state. Fenced behind another connection's open
    # transaction: the engine has one transaction slot, and a write resolved
    # against the pin would be dropped with it. Never cached; the handler
    # moves the version of the table it writes, or the epoch.
    (("INSERT",), "write", ((_INSERT_RE, "_insert_stmt"),)),
    (("UPDATE",), "write", ((_UPDATE_RE, "_update_stmt"),)),
    (("DELETE",), "write", ((_DELETE_RE, "_delete_stmt"),)),
    (("TRUNCATE",), "write", ((_TRUNCATE_RE, "_delete_stmt"),)),
    (("MERGE",), "write", ((_MERGE_RE, "_merge_stmt"),)),
    (("ALTER",), "write", ((_ALTER_RE, "_alter"),)),
    (("CREATE",), "write", (
        (_CREATE_MATVIEW_RE, "_create_matview"), (_CREATE_VIEW_RE, "_create_view"),
        (_CREATE_TABLE_RE, "_create_table"), (_CREATE_TABLE_SCHEMA_RE, "_create_table"),
        (_CREATE_FUNCTION_RE, "_create_function"))),
    (("DROP",), "write", (
        (_DROP_MATVIEW_RE, "_drop_matview"), (_DROP_VIEW_RE, "_drop_view"),
        (_DROP_TABLE_RE, "_drop_table"), (_DROP_FUNCTION_RE, "_drop_function"))),
    (("REFRESH",), "write", ((_REFRESH_MATVIEW_RE, "_refresh_matview"),)),
    (("VACUUM",), "write", ((_VACUUM_RE, "_vacuum"),)),
    (("IMPORT",), "write", ((_IMPORT_RE, "_import"),)),
    (("COPY",), "write", ((_COPY_FROM_RE, "_import"), (_COPY_TO_RE, "_export", "export"))),
    # txn: act on the one transaction slot, so fenced like a write
    (("BEGIN",), "txn", ((_BEGIN_RE, "_txn_stmt"),)),
    (("START",), "txn", ((_START_RE, "_txn_stmt"),)),
    (("COMMIT",), "txn", ((_COMMIT_RE, "_txn_stmt"),)),
    (("ROLLBACK",), "txn",
     ((_ROLLBACK_TXN_RE, "_txn_stmt"), (_ROLLBACK_TO_RE, "_rollback_to_savepoint"))),
    (("SAVEPOINT",), "txn", ((_SAVEPOINT_RE, "_savepoint"),)),
    (("RELEASE",), "txn", ((_RELEASE_RE, "_release_savepoint"),)),
    # session: the prepared statements are pinned state too, so fenced
    (("PREPARE",), "session", ((_PREPARE_RE, "_prepare_stmt"),)),
    (("DEALLOCATE",), "session", ((_DEALLOCATE_RE, "_deallocate"),)),
    # None: EXECUTE of a prepared statement has the kind of the prepared
    # text, of any other name that of a pass-through
    (("EXECUTE",), None, ((_EXECUTE_RE, "_execute_stmt"),)),
    # export: writes files, not catalog state, so like a read it sees the
    # pin (postgres runs COPY TO during another session's transaction);
    # the write moves the epoch, as a cached plan may read the file
    (("EXPORT",), "export", ((_EXPORT_RE, "_export"),)),
)
_ROUTE_BY_WORD = {w: (kind, cases) for words, kind, cases in _ROUTES for w in words}
# passthrough, any other text Spark runs (SET, RESET, USE, ...): pinned like
# a read, never cached, and it moves the epoch (_spark), as the state it
# changes (a conf, the current database, a temp view) has no table version
_PASSTHROUGH = ("passthrough", ())


class Route(NamedTuple):
    verb: str  # the first word, upper case
    kind: str  # query, write, txn, session, export or passthrough
    handler: str | None  # the Engine method that runs it; None: Spark
    match: "re.Match[str] | None"  # the handler's pattern on `text`
    text: str
    mask: str  # sqltext.mask(text)


def _keeps_state(plan) -> bool:
    """Does the executed plan `plan` (a JVM SparkPlan) hold a node, or an
    expression subquery, that keeps state between executions?"""
    todo = [plan]
    while todo:
        node = todo.pop()
        if (_STATEFUL_NODE_RE.search(node.nodeName())
                or not node.subqueries().isEmpty()):
            return True
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return False


class Engine:
    """`execute(sql)` -> last statement's DataFrame (or None for DDL)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.catalog = Catalog(spark)
        self._prepared: dict[str, str] = {}
        self._functions: dict[str, str] = {}  # SQL scalar UDFs, by name
        self._matviews: dict[str, str] = {}  # materialized views: defining SQL
        # open-transaction snapshot (None = autocommit); see _begin()
        self._txn: dict | None = None
        # Statement lock: serializes statement dispatch (analysis, catalog
        # mutation, the snapshot-read temp-view swap) across connection
        # threads — the documented single-writer engine design. RLock so
        # nested dispatch (SHOW TABLES rewrite, rollback re-running function
        # definitions) re-enters. EXECUTION of the returned lazy plans is
        # not held: plans are immutable once analyzed, so collection runs
        # lock-free on the caller's thread.
        self._stmt_lock = threading.RLock()
        # per-connection client tokens (pgwire binds one via
        # begin_client_session); falls back to thread ident for embedded use
        self._client_local = threading.local()
        # fenced writers waiting out another connection's transaction
        # (_lock_timeout_ms) park here; _commit/_rollback notify
        self._txn_cv = threading.Condition()
        self._in_snap_read = False  # reentrancy guard for _snapshot_read
        # per-engine scratch temp-view namespace: DML/QUALIFY/RETURNING
        # register transient views on the SHARED SparkSession; a fixed name
        # let two concurrently-dispatching Engine instances (the sharded
        # TPC-C writers) clobber each other MID-ANALYSIS, splicing one
        # engine's table into another's lineage. The per-engine suffix makes
        # view registration race-free across engines (within one engine the
        # statement lock already serializes).
        self._sv = f"__hs_e{next(_ENGINE_SEQ)}"
        # statement/plan cache (sql_plan_cache.hpp analog, GDFS eviction)
        from hyrise_spark.plan_cache import GDFSCache

        self._plan_cache = GDFSCache(capacity=1024)
        # cached statement frame -> () until its first fetch, then
        # (max_rows, its limited frame) for the physical-plan reuse in
        # fetch(); weak, so an entry the cache dropped goes once no caller
        # holds its frame
        self._physical: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
        self._physical_lock = threading.Lock()
        # Spark-native temp views created through the router: name -> text
        self._session_views: dict[str, str] = {}
        # meta_transactions / meta_plan_cache read engine state through the
        # catalog (the meta builders only see the catalog)
        self.catalog.txn_status = lambda: self._txn
        self.catalog.plan_cache = self._plan_cache

    # -- connection/client sessions ------------------------------------------
    # The reference scopes a TransactionContext to its session
    # (transaction_manager.hpp); postgres scopes BEGIN to the connection and
    # issues an implicit ROLLBACK when the connection drops. Thread idents
    # are recycled by CPython after thread death, so transaction ownership is
    # keyed to an explicit per-connection token instead: a later connection
    # on a reused thread id can never silently join (or abort) an abandoned
    # transaction.
    def begin_client_session(self) -> str:
        """Bind the calling thread (one pgwire connection = one handler
        thread) to a fresh client token; returns it for end_client_session."""
        tok = uuid.uuid4().hex
        self._client_local.token = tok
        return tok

    def end_client_session(self, token: str) -> None:
        """Connection teardown: abort an abandoned open transaction owned by
        this client (postgres's implicit ROLLBACK on disconnect), so a dead
        connection can never leave the engine permanently write-fenced."""
        with self._stmt_lock:
            if self._txn is not None and self._txn.get("owner") == token:
                self._rollback()
        if getattr(self._client_local, "token", None) == token:
            del self._client_local.token

    def _owner_token(self):
        tok = getattr(self._client_local, "token", None)
        if tok is not None:
            return tok
        return ("thread", threading.get_ident())

    # -- statement routing --------------------------------------------------
    def execute(self, sql: str, args: dict | list | None = None) -> DataFrame | None:
        result: DataFrame | None = None
        # SQLPipeline's multi-statement handling; comments go here, so no
        # routing regex below ever sees one
        for stmt in split_statements(sql):
            result = self._logged_execute(stmt, args)
        return result

    def _logged_execute(self, stmt: str, args) -> DataFrame | None:
        """Run one statement and append to the meta_log ring buffer
        (meta_log_table.hpp analog — driver-side, capped at 1000 entries)."""
        log = self.catalog.statement_log
        entry = {
            "timestamp": datetime.datetime.now(datetime.timezone.utc).isoformat(),
            "statement": stmt,
            "status": "ok",
            "duration_ms": 0,
        }
        t0 = time.perf_counter()
        try:
            return self._execute_one(stmt, args, entry)
        except Exception:
            entry["status"] = "error"
            raise
        finally:
            entry["duration_ms"] = int((time.perf_counter() - t0) * 1000)
            log.append(entry)
            del log[:-1000]

    def _route(self, stmt: str) -> Route:
        """Classify `stmt` by its first word (_ROUTES)."""
        ms = mask(stmt)
        lead = _LEAD_RE.match(ms)
        verb = lead[1].upper() if lead else ""
        kind, cases = _ROUTE_BY_WORD.get(verb, _PASSTHROUGH)
        handler = m = None
        for case in cases:
            m = case[0].match(stmt)
            if m:
                handler = case[1]
                kind = case[2] if len(case) > 2 else kind
                break
        if kind is None:  # EXECUTE: the kind of the prepared text
            text = m and self._prepared.get(m["name"])
            kind, handler = ((self._route(text).kind, handler) if text
                             else ("passthrough", None))
        return Route(verb, kind, handler, m, stmt, ms)

    def command_tag(self, sql: str) -> str:
        """pgwire's CommandComplete tag: the last statement's first word."""
        stmts = split_statements(sql)
        return (self._route(stmts[-1]).verb if stmts else "") or "OK"

    def _execute_one(self, stmt: str, args, entry: dict | None = None) -> DataFrame | None:
        """Run one statement; `entry` is its meta_log entry, if logged."""
        deadline = None
        while True:
            with self._stmt_lock:
                route = self._route(stmt)
                txn = self._txn
                if entry is not None and txn is None and route.verb == "ROLLBACK":
                    entry["status"] = "noop"  # nothing open to abort (warned)
                fenced = (txn is not None
                          and txn.get("owner") != self._owner_token()
                          and not self._in_snap_read)
                if not fenced:
                    return self._cached_dispatch(route, args)
                if route.kind not in ("write", "txn", "session"):
                    return self._snapshot_read(route, args)  # see _ROUTES
                # fenced (see _ROUTES): writers queue up to
                # `hyrise_spark.lock_timeout` ms (pg's lock_timeout knob;
                # default 0 = reject immediately)
                if deadline is None:
                    t_ms = self._lock_timeout_ms()
                    if t_ms <= 0:
                        raise RuntimeError(
                            "a transaction begun on another connection is "
                            "in progress; this single-writer engine "
                            "serializes write transactions — retry after "
                            "it commits or rolls back (or set "
                            "hyrise_spark.lock_timeout to wait)"
                        )
                    deadline = time.monotonic() + t_ms / 1000.0
            # wait OUTSIDE the statement lock (the owner needs it to
            # commit/rollback); woken by _commit/_rollback's notify_all
            with self._txn_cv:
                if self._txn is txn:
                    self._txn_cv.wait(max(0.0, deadline - time.monotonic()))
            if time.monotonic() >= deadline:
                with self._stmt_lock:
                    still = (self._txn is not None
                             and self._txn.get("owner") != self._owner_token())
                if still:
                    raise RuntimeError(
                        "canceling statement due to lock timeout: a "
                        "transaction begun on another connection is still "
                        "in progress"
                    )

    def _lock_timeout_ms(self) -> int:
        """pg's lock_timeout analog, via the writable meta_settings surface
        (`INSERT INTO meta_settings VALUES ('hyrise_spark.lock_timeout',
        '<ms>')`): how long a fenced writer waits for another connection's
        open transaction before erroring. 0 (default) = fail immediately."""
        try:
            return int(self.spark.conf.get("hyrise_spark.lock_timeout", "0"))
        except ValueError:
            return 0

    def _cached_dispatch(self, route: Route, args) -> DataFrame | None:
        """SQLPlanCache analog (sql_plan_cache.hpp): return the cached
        analyzed DataFrame for an identical statement while nothing it reads
        has changed; otherwise dispatch and cache. The cached value is an
        immutable lazy plan, so a hit skips exactly the parse +
        dialect-rewrite + Catalyst-analysis cost (the driver-side dominant
        cost of repeated wide-expression statements), never data freshness:
        the entry's stamp covers the catalog epoch and the version of every
        table its statement can read (plan_cache.py). Only queries Spark
        plans are cached, none over the meta_* tables (whose content changes
        without a catalog mutation) or with a nondeterministic function."""
        stmt = route.text
        if (self._txn is not None
                or self._in_snap_read
                or route.handler != "_query"
                or _META_REF_RE.search(stmt)
                or _NONDET_RE.search(stmt)):
            # While a transaction is open (or resolving a snapshot read) the
            # session carries TWO visibilities — owner sees uncommitted,
            # others see the pin — and the stamp cannot distinguish them:
            # a plan cached by one would leak the wrong state to the other.
            # Bypass entirely; autocommit statements repopulate after COMMIT.
            return self._dispatch(stmt, args, route)
        # Parameterized statements cache per (text, bound values) — the
        # reference's prepared-plan cache keys the same way
        # (sql_plan_cache.hpp serves repeated EXECUTEs of one PREPARE).
        if args is None:
            key = stmt
        elif isinstance(args, dict):
            key = stmt + "\x00" + repr(sorted(args.items()))
        else:
            key = stmt + "\x00" + repr(list(args))
        df = self._plan_cache.get(key, self.catalog.stamp)
        if df is not None:
            return df
        names, text = self._read_closure(stmt)
        stamp = self.catalog.stamp(names)
        t0 = time.perf_counter()
        df = self._dispatch(stmt, args, route)
        if df is not None:
            self._plan_cache.put(
                key, df, stamp, (time.perf_counter() - t0) * 1000.0,
                deps=names,
            )
            if not _TIME_FN_RE.search(text):
                with self._physical_lock:
                    self._physical[df] = ()
        return df

    def _read_closure(self, stmt: str) -> tuple[tuple[str, ...], str]:
        """(every lower-case name `stmt` can read, the text they come from):
        the statement's identifiers, closed over the SQL of the catalog
        views, Spark-native temp views and SQL functions it names. Keywords,
        columns and words inside literals come along; an extra name only
        costs an extra invalidation, a missing one would serve a stale
        plan."""
        bodies = dict(self.catalog._views)
        bodies.update(self._session_views)
        bodies.update(self._functions)
        texts, seen = [stmt], set()
        for text in texts:  # grows while it is walked: the closure
            for w in _NAME_RE.findall(text):
                w = w.lower()
                if w not in seen:
                    seen.add(w)
                    if w in bodies:
                        texts.append(bodies[w])
        return tuple(sorted(seen)), "\n".join(texts)

    def fetch(self, df: DataFrame, max_rows: int) -> list:
        """At most `max_rows` rows of a statement's result: the collect
        behind the line-JSON server and both pgwire result paths.

        The first fetch of a cached statement (_cached_dispatch) keeps its
        limited Dataset, and a plan-cache hit collects that Dataset again:
        Spark re-executes the optimized, planned physical plan it already
        has, so the hit skips optimization, physical planning and scan
        set-up too (the SQLPhysicalPlanCache half of sql_plan_cache.hpp).
        Reuse is safe only for a plan that keeps nothing between
        executions, so the Dataset is kept only when its executed plan has
        no Exchange, broadcast, reused exchange, subquery or adaptive node
        (_keeps_state), and only for statements that fold no time
        function. Each reuse still runs its job and reads the data; no
        result is ever reused."""
        with self._physical_lock:
            kept = self._physical.get(df)
        if kept is None:  # not a cached statement, or its plan keeps state
            return df.limit(max_rows).collect()
        if kept and kept[0] == max_rows:
            self._plan_cache.note_physical_hit()
            return kept[1].collect()
        limited = df.limit(max_rows)
        rows = limited.collect()
        stateful = _keeps_state(limited._jdf.queryExecution().executedPlan())
        with self._physical_lock:
            if stateful:
                self._physical.pop(df, None)
            else:
                self._physical[df] = (max_rows, limited)
        return rows

    def _dispatch(self, stmt: str, args, route: Route | None = None) -> DataFrame | None:
        """Run `stmt` through the handler its route names, or Spark."""
        r = route or self._route(stmt)
        if _VERSION_RE.search(r.mask):
            r = self._route(self._resolve_versions(stmt))
        if r.handler is None:
            return self._spark(r, args)
        return getattr(self, r.handler)(r, args)

    def _spark(self, r: Route, args) -> DataFrame:
        """Spark runs the text as written. Any statement but a query changes
        state no table version tracks, so it moves the epoch."""
        if r.kind != "query":
            self.catalog.bump_epoch()
            m = _SESSION_VIEW_RE.match(r.text)
            if m:
                self._session_views[m["name"].lower()] = r.text
        return self.spark.sql(r.text, args=args)

    def _query(self, r: Route, args) -> DataFrame:
        """The query path: the engine's dialect rewrites, then Spark."""
        stmt, ms, verb = r.text, r.mask, r.verb
        if verb in ("SELECT", "WITH") and _META_REF_RE.search(ms):
            self._materialize_meta_tables(stmt)
        # quote-/paren-aware: 'ASOF' inside a string literal or subquery is
        # not this dialect (the QUALIFY check below gets the same treatment)
        rm = re.match(
            r"^\s*WITH\s+RECURSIVE\s+(?P<name>\w+)\s*"
            r"(?:\((?P<cols>[^)]*)\))?\s+AS\s*\(",
            stmt, re.I)
        if rm:
            copen = stmt.index("(", rm.end() - 1)
            cclose = match_paren(stmt, copen)
            if cclose == -1:
                raise ValueError("WITH RECURSIVE: unbalanced CTE body")
            body = stmt[copen + 1:cclose]
            u = find_top_level(body, "UNION")
            is_distinct_union = (
                u != -1
                and not re.match(r"\s*ALL\b", body[u + len("UNION"):], re.I)
            )
            if is_distinct_union:
                # Spark rejects this outright (UNION_NOT_SUPPORTED_IN_
                # RECURSIVE_CTE); the engine runs the fixpoint itself
                rest = stmt[cclose + 1:].lstrip()
                if rest.startswith(","):
                    raise ValueError(
                        "WITH RECURSIVE ... UNION: a single recursive CTE "
                        "is supported (no trailing CTE list)")
                return self._recursive_union_sql(
                    rm["name"], rm["cols"], body[:u],
                    body[u + len("UNION"):], rest)
            # UNION ALL form: Spark runs it natively
        a = find_top_level(stmt, "ASOF")
        if a != -1 and re.match(r"ASOF\s+(?:LEFT\s+)?JOIN\b", stmt[a:], re.I):
            m = _ASOF_RE.match(stmt)
            if not m:
                raise ValueError(
                    "ASOF JOIN: supported shape is SELECT <list> FROM <l> [AS a]"
                    " ASOF [LEFT] JOIN <r> [AS b] ON <equi-key AND time-inequality>"
                )
            return self._asof_join_sql(m)
        if verb == "SELECT" and find_top_level(stmt, "QUALIFY") != -1:
            return self._qualify_sql(stmt)
        if verb == "SELECT" and _GROUPS_FRAME_RE.search(ms):
            return self._groups_frame_sql(stmt)
        if _DISTINCT_ON_RE.match(ms):
            return self._distinct_on_sql(stmt)
        if verb == "SELECT" and (_FRAME_EXCLUDE_RE.search(ms)
                                 or _WINDOW_FILTER_RE.search(ms)
                                 or _DISTINCT_AGG_RE.search(ms)) \
                and _OVER_RE.search(ms):
            return self._window_dialect_sql(stmt)
        if verb == "SELECT" and _STAR_MODIFIER_RE.search(ms):
            return self._star_modifiers_sql(stmt)
        if verb in ("SELECT", "WITH") and _SUBQUERY_RE.search(ms):
            # corpus lines 385-386: outer column inside a scalar
            # subquery's projection — hoist it out (no-op when n/a)
            stmt = self._rewrite_correlated_scalar_projection(stmt)
        if self.catalog.validated_uccs and verb == "SELECT":
            # redundant-DISTINCT elimination over validated UCCs — the
            # ucc_discovery_plugin's group-by reduction
            # (ucc_discovery_plugin.cpp:348); saves HashAggregate + Exchange
            from hyrise_spark.ucc import maybe_strip_redundant_distinct

            stmt = maybe_strip_redundant_distinct(stmt, self.catalog)
        return self.spark.sql(stmt, args=args)

    def _explain(self, r: Route, args) -> DataFrame:
        """EXPLAIN builds its query through the router, so the plan shown
        is the plan that runs: dialect rewrites, the hoisted correlated
        projection, materialized meta tables, the validated-UCC DISTINCT
        strip. It renders Spark's EXPLAIN result shape (one row, column
        `plan`), which works from psql too. Any other body (a command, a
        write) Spark explains itself."""
        m = r.match
        body = self._route(m["body"])
        if body.handler != "_query":
            return self.spark.sql(r.text, args=args)
        # _dispatch, not _execute_one: a plan-cache hit may be a frame that
        # already ran, whose adaptive plan is the final one
        df = self._dispatch(body.text, args, body)
        jqe = df._jdf.queryExecution()
        mode = (m["mode"] or "simple").lower()
        if m["analyze"]:
            # EXPLAIN ANALYZE (postgres dialect; beyond the reference, whose
            # console offers `visualize` instead): EXECUTE the query to a
            # noop sink, then report the plan that actually ran — with AQE
            # the FINAL adaptive plan (isFinalPlan=true), i.e. the
            # runtime-re-planned joins/partition coalescing a pre-execution
            # EXPLAIN cannot show. It executes through THIS QueryExecution
            # (a .write would clone the plan and leave this one
            # unexecuted): rows stay on executors, only the count crosses to
            # the driver.
            jqe.toRdd().count()
            mode = "formatted"
        text = jqe.explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString(mode)
        )
        return self.spark.createDataFrame([(text,)], "plan string")

    def _show(self, r: Route, args) -> DataFrame:
        t = r.match.groupdict().get("t")
        return self._execute_one("SELECT * FROM meta_tables" if t is None else
                                 "SELECT * FROM meta_columns WHERE table_name = "
                                 f"'{t.lower()}'", None)

    # -- transactions ---------------------------------------------------------
    def _txn_stmt(self, r: Route, args) -> None:
        """BEGIN/COMMIT/ROLLBACK are routed like the reference's
        (sql_translator.cpp:377-380 -> transaction_manager.hpp). Here the
        transaction is implemented ON the snapshot version ring: BEGIN pins
        the whole catalog state (table plans are lazy and immutable, so the
        pin is a dict of references, not data); COMMIT drops the pin;
        ROLLBACK restores it — every statement applied inside the
        transaction, including its appended history versions, un-happens.
        Other connections read the BEGIN pin, the reference's committed-only
        visibility (validate.hpp:20), and are fenced from writing."""
        if r.verb in ("BEGIN", "START"):
            self._begin()
        elif r.verb == "COMMIT":
            self._commit()
        else:
            self._rollback()

    # -- DDL ------------------------------------------------------------------
    def _vacuum(self, r: Route, args) -> None:
        # postgres-parity spelling of the MvccDeletePlugin-analog manual
        # compaction (mvcc_delete_plugin.hpp; also reachable via meta_exec
        # ('mvcc','compact_tables')): rewrite the table's snapshot lineage
        # to flat parquet
        name = r.match["table"]
        if not self.catalog.has_table(name):
            raise ValueError(f"VACUUM: no such table: {name}")
        self.catalog.compact_table(name)

    def _import(self, r: Route, args) -> DataFrame:
        g = r.match.groupdict()
        return self.import_table(g["path"], g["table"], fmt=g.get("fmt"))

    def _export(self, r: Route, args) -> None:
        """EXPORT t TO 'path', COPY t|(query) TO 'path' [(FORMAT f, ...)]"""
        g = r.match.groupdict()
        parts = g.get("pcols") or g.get("pcol")
        pby = ([c.strip() for c in parts.split(",") if c.strip()]
               if parts else None)
        if g.get("query") is not None:
            # built through the router, so dialect SELECTs export too; not a
            # write, which a fenced connection would run against the pin
            body = self._route(g["query"].strip())
            if body.kind != "query":
                raise ValueError(f"COPY (...) TO exports a query, not {body.verb}")
            df = self._dispatch(body.text, args, body)
            self.export_frame(df, g["path"], fmt=g["fmt"], partition_by=pby)
        else:
            self.export_table(g["table"], g["path"], fmt=g.get("fmt"),
                              partition_by=pby)

    def _create_matview(self, r: Route, args) -> None:
        m = r.match
        # materialize NOW: snapshot semantics — localCheckpoint cuts the
        # lineage to the base tables, so later base-table DML does not leak
        # into the stored result (stale-until-REFRESH contract)
        df = self.spark.sql(m["sql"]).localCheckpoint(eager=True)
        self.catalog.add_table(m["name"], df)
        self._matviews[m["name"].lower()] = m["sql"]

    def _refresh_matview(self, r: Route, args) -> None:
        name = r.match["name"]
        sql = self._matviews.get(name.lower())
        if sql is None:
            raise ValueError(f"no such materialized view: {name}")
        self.catalog.replace_table(name, self.spark.sql(sql).localCheckpoint(eager=True))

    def _drop_matview(self, r: Route, args) -> None:
        m = r.match
        if self._matviews.pop(m["name"].lower(), None) is not None:
            self.catalog.drop_table(m["name"])
        elif not m["ifex"]:
            raise ValueError(f"no such materialized view: {m['name']}")

    def _create_view(self, r: Route, args) -> None:
        m = r.match
        sql = m["sql"]
        if m["cols"]:
            # explicit view column list (count_view3-style, corpus line
            # 371): rename through a derived-table alias
            sql = f"SELECT * FROM ({sql}) AS __v({m['cols']})"
        if m["orrepl"] and self.catalog.has_view(m["name"]):
            self.catalog.replace_view(m["name"], sql)
        else:
            self.catalog.add_view(m["name"], sql)

    def _drop_view(self, r: Route, args) -> None:
        if not r.match["ifex"] or self.catalog.has_view(r.match["name"]):
            self.catalog.drop_view(r.match["name"])

    def _drop_table(self, r: Route, args) -> None:
        if not r.match["ifex"] or self.catalog.has_table(r.match["name"]):
            self.catalog.drop_table(r.match["name"])

    def _create_table(self, r: Route, args) -> None:
        g = r.match.groupdict()
        name = g["name"]
        if g["ifnx"] and self.catalog.has_table(name):
            return
        if g.get("cols") is not None:
            # an empty table from a schema. VARCHAR(n)/CHAR(n) -> STRING, as
            # hyrise stores both (pmr_string); Spark's char/varchar types need
            # preserveCharVarcharTypeInfo to appear in a DataFrame schema
            cols = re.sub(r"\b(?:VARCHAR|CHAR)\s*\(\s*\d+\s*\)", "STRING", g["cols"],
                          flags=re.I)
            self.catalog.add_table(name, self.spark.createDataFrame([], schema=cols))
        elif g.get("orrepl") and self.catalog.has_table(name):
            # CREATE OR REPLACE TABLE (DuckDB dialect): the defining query
            # reads the OLD table state (snapshot semantics), so resolve the
            # plan BEFORE the drop
            self.catalog.recreate_table(name, self.spark.sql(g["sql"]))
        else:
            self.catalog.add_table(name, self.spark.sql(g["sql"]))

    def _create_function(self, r: Route, args) -> None:
        m = r.match
        self.spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {m['name']}{m['rest']}")
        self._functions[m["name"].lower()] = r.text.strip()
        self.catalog.bump_epoch()

    def _drop_function(self, r: Route, args) -> None:
        m = r.match
        if m["name"].lower() in self._functions:
            self.spark.sql(f"DROP TEMPORARY FUNCTION {m['name']}")
            del self._functions[m["name"].lower()]
            self.catalog.bump_epoch()
        elif not m["ifex"]:
            raise ValueError(f"no such function: {m['name']}")

    # -- prepared statements (statement text) ------------------------------
    def _prepare_stmt(self, r: Route, args) -> None:
        # hyrise doubles quotes inside the statement string literal
        self.prepare(r.match["name"], r.match["sql"].replace("''", "'"))

    def _deallocate(self, r: Route, args) -> None:
        name = r.match["name"]
        if name.upper() == "ALL":
            self._prepared.clear()
        elif self._prepared.pop(name, None) is None:
            raise ValueError(f"prepared statement {name!r} does not exist")

    def _execute_stmt(self, r: Route, args) -> DataFrame | None:
        raw = (r.match["args"] or "").strip()
        vals = [_parse_literal(t) for t in split_top_level(raw)] if raw else []
        return self.execute_prepared(r.match["name"], vals)

    # -- DML statements ---------------------------------------------------
    def _insert_stmt(self, r: Route, args) -> DataFrame | None:
        m = r.match
        rest, ret = self._split_returning(m["rest"])
        if rest is None:  # e.g. 'INSERT INTO t RETURNING x' — no body
            raise ValueError(f"cannot parse INSERT statement: {r.text.strip()!r}")
        k = find_top_level(rest, "CONFLICT")
        if k != -1 and re.search(r"\bON\s*$", rest[:k], re.I):
            if ret:
                raise ValueError(
                    "RETURNING is not supported with ON CONFLICT "
                    "(use MERGE for upsert-with-result)"
                )
            head = rest[: re.search(r"\bON\s*$", rest[:k], re.I).start()]
            return self._insert_on_conflict(m["table"], head, rest[k:], args)
        return self._insert(m["table"], rest, args=args, returning=ret)

    def _merge_stmt(self, r: Route, args) -> DataFrame | None:
        return self._merge(r.match["table"], r.match["talias"], r.match["rest"])

    def _delete_stmt(self, r: Route, args) -> DataFrame | None:
        """DELETE FROM t [USING ...] [WHERE ...] [RETURNING ...], TRUNCATE t"""
        m = r.match
        rest, ret = self._split_returning(m.groupdict().get("rest"))
        cond = None
        if rest and rest.strip():
            um = re.match(r"^\s*USING\s+(?P<src>.+)$", rest, re.I | re.S)
            if um:
                # DELETE ... USING (postgres/DuckDB): delete target rows
                # with a match in the USING source — exactly MERGE's
                # WHEN MATCHED THEN DELETE
                if ret:
                    raise ValueError("RETURNING unsupported with USING")
                src = um["src"]
                w = find_top_level(src, "WHERE")
                if w == -1:
                    raise ValueError("DELETE ... USING requires a WHERE join condition")
                src, jcond = src[:w].rstrip(), src[w + len("WHERE"):].strip()
                return self._merge(
                    m["table"], None,
                    f"{src} ON {jcond} WHEN MATCHED THEN DELETE",
                )
            wm = re.match(r"^\s*WHERE\s+(?P<cond>.+)$", rest, re.I | re.S)
            if not wm:
                raise ValueError(f"DELETE: cannot parse trailing {rest!r}")
            cond = wm["cond"]
        return self._delete(m["table"], cond, args=args, returning=ret)

    def _update_stmt(self, r: Route, args) -> DataFrame | None:
        m = r.match
        rest, ret = self._split_returning(m["rest"])
        if rest is None:  # e.g. 'UPDATE t RETURNING x' — no SET clause
            raise ValueError(f"cannot parse UPDATE statement: {r.text.strip()!r}")
        f = find_top_level(rest, "FROM")
        w = find_top_level(rest, "WHERE")
        if f != -1 and (w == -1 or f < w):
            # UPDATE ... FROM (postgres/DuckDB): per-row update using the
            # matching source row — MERGE's WHEN MATCHED UPDATE, with the
            # stricter (deterministic) ANSI one-match cardinality check
            # instead of postgres's arbitrary-row pick
            if ret:
                raise ValueError("RETURNING unsupported with UPDATE ... FROM")
            if w == -1:
                raise ValueError("UPDATE ... FROM requires a WHERE join condition")
            sets = rest[:f].rstrip()
            src = rest[f + len("FROM"):w].strip()
            jcond = rest[w + len("WHERE"):].strip()
            return self._merge(
                m["table"], None,
                f"{src} ON {jcond} WHEN MATCHED THEN UPDATE SET {sets}",
            )
        sets, cond = (rest, None) if w == -1 else (
            rest[:w], rest[w + len("WHERE"):].strip())
        return self._update(m["table"], sets.strip(), cond, args=args,
                            returning=ret)

    def _recursive_union_sql(self, name: str, cols: str | None,
                             base_sql: str, step_sql: str,
                             final_sql: str) -> DataFrame:
        """Recursive CTE with UNION (distinct) — the cycle-safe recursion
        postgres/DuckDB run natively and Spark rejects
        (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE). Standard semantics: the
        working table each iteration is the PREVIOUS iteration's new rows
        (frontier), and a row joins the result at most once — so traversal
        over a CYCLIC graph terminates at the fixpoint, which the UNION ALL
        form cannot do.

        The engine drives the fixpoint loop: each iteration binds `name` to
        the frontier, evaluates the step, and keeps `new = step \\ seen`.
        Per-iteration frames are eagerly localCheckpointed (bounded plan
        depth — the same lineage-truncation discipline as the compaction
        trail); the only driver-side data is the emptiness probe. Iteration
        count is the recursion's own depth (frontier expansion: graph
        diameter), capped at 1000 like the reference caps nothing but
        postgres's sane-recursion expectations."""
        spark = self.spark
        col_list = ([c.strip() for c in cols.split(",")] if cols else None)
        acc = spark.sql(base_sql).distinct()
        if col_list:
            acc = acc.toDF(*col_list)
        acc = acc.localCheckpoint(eager=True)
        frontier = acc
        try:
            for _ in range(1000):
                frontier.createOrReplaceTempView(name)
                new = spark.sql(step_sql)
                if col_list or list(new.columns) != list(acc.columns):
                    new = new.toDF(*acc.columns)
                # subtract IS distinct-semantics EXCEPT (dedups its left
                # side), so no separate .distinct() pass: one aggregation
                # shuffle per iteration, not two
                new = new.subtract(acc).localCheckpoint(eager=False)
                # count() materializes the lazy checkpoint AND answers the
                # emptiness probe in the SAME job — previously this was two
                # driver-synchronized jobs per iteration (eager checkpoint +
                # isEmpty), measured ~25% of the fixpoint's wall time
                if new.count() == 0:
                    break
                # lazy: the flat accumulator (measured faster than a
                # deepening union tree, whose per-round subtract re-plans k
                # inputs) is persisted as a side effect of the NEXT round's
                # subtract job rather than by its own materialization job
                acc = acc.unionAll(new).localCheckpoint(eager=False)
                frontier = new
            else:
                raise ValueError(
                    "WITH RECURSIVE ... UNION: no fixpoint after 1000 "
                    "iterations")
            acc.createOrReplaceTempView(name)
            return spark.sql(final_sql)
        finally:
            # the final frame is already analyzed against the view; drop it
            # so the CTE name cannot shadow catalog tables afterwards — and
            # if the CTE name legitimately SHADOWED a registered table
            # (standard SQL allows that), restore the table's view rather
            # than leaving the name unbound
            spark.catalog.dropTempView(name)
            if self.catalog.has_table(name):
                self.catalog.get_table(name).createOrReplaceTempView(name)

    def _asof_join_sql(self, m: "re.Match[str]") -> DataFrame:
        """ASOF [LEFT] JOIN (DuckDB dialect; beyond the reference's join
        vocabulary): for each left row, keep the single best-matching right
        row under the ON clause's time inequality — latest-earlier for
        `l.ts >= r.ts`, earliest-later for `l.ts <= r.ts`.

        Rewrite: tag each left row with monotonically_increasing_id, run the
        ordinary (left) equi+range join, keep ROW_NUMBER()=1 per left row
        ordered by the right time. Pair blowup is bounded by per-key match
        width pre-dedup; for heavy time-series use the single-shuffle union
        form (operators/joins.py::asof_join) — this SQL surface favors
        compatibility (it is also how engines without a native asof execute
        it). Oracle: DuckDB's native ASOF JOIN (registered `join_asof_sql`).
        """
        la = m["la"] or m["lt"]
        ra = m["ra"] or m["rt"]
        cond = m["cond"].strip()
        # a trailing WHERE (swallowed into the regex's cond) is a POST-match
        # filter in asof semantics: it must not change WHICH right row
        # matches, so it is evaluated on the matched row, not folded into ON
        w = find_top_level(cond, "WHERE")
        where = None
        if w != -1:
            cond, where = cond[:w].rstrip(), cond[w + len("WHERE"):].strip()

        def _side(tok: str) -> str:
            """L/R/other for one comparison operand."""
            if re.fullmatch(r"\d+(?:\.\d+)?|'[^']*'", tok):
                return "lit"
            if "." in tok:
                # SQL identifiers compare case-insensitively: 'ON E.ts >= o.ts'
                # with alias 'e' must still classify E.ts as the left side
                a = tok.split(".", 1)[0].casefold()
                return ("L" if a == la.casefold()
                        else ("R" if a == ra.casefold() else "lit"))
            return "unq"  # unqualified column: table unknown

        # The time inequality is the term whose two operands come from the
        # two different sides — a one-sided comparison (`r.rt > 12`) is a
        # plain filter, never the asof ordering. Exactly one such term may
        # exist (DuckDB's rule).
        candidates = []
        for t in re.split(r"\bAND\b", cond, flags=re.I):
            mm = re.match(
                r"^\s*(?P<x>[\w.']+)\s*(?P<op><=|>=|<|>)\s*(?P<y>[\w.']+)\s*$", t
            )
            if not mm:
                continue
            sx, sy = _side(mm["x"]), _side(mm["y"])
            if {sx, sy} == {"L", "R"} or (sx, sy) in (
                ("L", "unq"), ("unq", "R"), ("R", "unq"), ("unq", "L"),
            ):
                # resolve which operand is the RIGHT side's time expression
                right_first = sx == "R" or (sx == "unq" and sy == "L")
                candidates.append((mm, right_first))
        if not candidates:
            raise ValueError(
                "ASOF JOIN: ON must contain exactly one time inequality "
                "between the two tables (<, <=, >, >=)"
            )
        if len(candidates) > 1:
            raise ValueError(
                "ASOF JOIN: ON contains more than one cross-table inequality "
                "— the asof ordering would be ambiguous"
            )
        ineq, right_first = candidates[0]
        op = ineq["op"]
        if right_first:  # r.ts OP l.ts
            rexpr, right_is_smaller = ineq["x"], op in ("<", "<=")
        else:  # l.ts OP r.ts
            rexpr, right_is_smaller = ineq["y"], op in (">", ">=")
        order = "DESC" if right_is_smaller else "ASC"
        join_kw = "LEFT JOIN" if m["left"] else "JOIN"
        keep = f", ({where}) AS __asof_keep" if where else ""
        inner = (
            f"SELECT {m['list']}, ROW_NUMBER() OVER "
            f"(PARTITION BY {la}.__asof_lid ORDER BY {rexpr} {order}) AS __asof_rn"
            f"{keep} "
            f"FROM (SELECT *, monotonically_increasing_id() AS __asof_lid "
            f"FROM {m['lt']}) AS {la} "
            f"{join_kw} {m['rt']} AS {ra} ON {cond}"
        )
        df = self.spark.sql(inner).filter("__asof_rn = 1")
        if where:
            df = df.filter("COALESCE(__asof_keep, FALSE)")
        return df.drop("__asof_rn", "__asof_lid", "__asof_keep")

    def _groups_frame_sql(self, stmt: str) -> DataFrame:
        """GROUPS frame mode (SQL:2011; the reference DECLARES it —
        window_expression.hpp:30 FrameType::Groups — but cannot execute any
        window, lqp_translator.cpp:523-526). Spark has no native GROUPS mode
        either; a GROUPS frame is exactly a RANGE frame over DENSE_RANK of
        the window's ORDER BY key — peer groups become consecutive integers,
        so `GROUPS BETWEEN a AND b` ≡ `RANGE BETWEEN a AND b` over that
        rank (the same rewrite plans/windows.py::window_groups_frame builds
        as a DataFrame; here the actual SQL TEXT routes through it, so the
        identical statement runs natively on DuckDB as the oracle).

        Rewrite: for each OVER spec carrying a GROUPS frame, inject
        `DENSE_RANK() OVER (PARTITION BY p ORDER BY o) AS __hs_grp_k` into a
        subquery over the statement's FROM..WHERE part (one shared rank per
        distinct (p, o) pair), and rewrite the spec to
        `PARTITION BY p ORDER BY __hs_grp_k RANGE BETWEEN a AND b` — frame
        bound tokens carry over verbatim (CURRENT ROW in RANGE-over-rank =
        equal rank = the peer group, exactly GROUPS' CURRENT ROW).
        Supported shape: windowed SELECT without top-level GROUP BY (window
        frames over grouped output would need the aggregation inside the
        subquery — not a GROUPS-specific problem; wrap manually)."""
        for kw in ("GROUP", "HAVING"):
            if find_top_level(stmt, kw) != -1:
                raise ValueError(
                    "GROUPS frame rewrite supports windowed SELECTs without "
                    "top-level GROUP BY/HAVING — wrap the aggregation in a "
                    "subquery"
                )
        f = find_top_level(stmt, "FROM")
        if f == -1:
            raise ValueError("GROUPS frame: no top-level FROM")
        head, tail = stmt[:f], stmt[f:]
        # trailing top-level ORDER BY / LIMIT belong to the OUTER query
        outer = ""
        for kw in ("ORDER", "LIMIT"):
            k = find_top_level(tail, kw)
            if k != -1:  # ORDER first: a LIMIT after it rides along
                tail, outer = tail[:k].rstrip(), tail[k:]
                break
        # scan every OVER (...) spec; rewrite those with a GROUPS frame
        # key: whitespace/case-normalized (pb, ob); value keeps the original
        # text (string literals inside expressions must not be case-mangled)
        ranks: dict[tuple[str, str], tuple[str, str, str]] = {}
        out, i = [], 0
        spec_re = re.compile(r"\bOVER\s*\(", re.I)
        while True:
            m = spec_re.search(head, i)
            if not m:
                out.append(head[i:])
                break
            j = match_paren(head, m.end() - 1) + 1
            if j == 0:
                raise ValueError("GROUPS frame: unbalanced OVER spec")
            spec = head[m.end():j - 1]
            sm = re.match(
                r"^\s*(?:PARTITION\s+BY\s+(?P<pb>.*?))?\s*"
                r"ORDER\s+BY\s+(?P<ob>.*?)\s*"
                r"GROUPS\s+BETWEEN\s+(?P<lo>.+?)\s+AND\s+(?P<hi>.+?)"
                r"(?:\s+(?P<ex>EXCLUDE\s+(?:CURRENT\s+ROW|GROUP|TIES|"
                r"NO\s+OTHERS)))?\s*$",
                spec, re.I | re.S,
            )
            if sm is None:
                out.append(head[i:j])  # not a GROUPS spec — leave verbatim
                i = j
                continue
            pb, ob = (sm["pb"] or "").strip(), sm["ob"].strip()
            key = (" ".join(pb.lower().split()), " ".join(ob.lower().split()))
            col, pb, ob = ranks.setdefault(
                key, (f"__hs_grp_{len(ranks)}", pb, ob)
            )
            part = f"PARTITION BY {pb} " if pb else ""
            # a trailing EXCLUDE clause carries through verbatim: after the
            # GROUPS -> RANGE-over-dense-rank rewrite, peers are exactly
            # the equal-rank rows, so the exclusion rewrite downstream
            # (RANGE-mode peer-total subtraction) is exact for it
            ex = f" {sm['ex']}" if sm["ex"] else ""
            out.append(head[i:m.end()])
            out.append(
                f"{part}ORDER BY {col} "
                f"RANGE BETWEEN {sm['lo']} AND {sm['hi']}{ex})"
            )
            i = j
        if not ranks:
            raise ValueError(
                "GROUPS BETWEEN found but no parsable OVER spec — supported "
                "form: OVER ([PARTITION BY p] ORDER BY o GROUPS BETWEEN "
                "<bound> AND <bound>)"
            )
        dr = ", ".join(
            "DENSE_RANK() OVER ("
            + (f"PARTITION BY {pb} " if pb else "")
            + f"ORDER BY {ob}) AS {col}"
            for col, pb, ob in ranks.values()
        )
        inner = f"SELECT *, {dr} {tail}"
        # Re-parent the select list onto the subquery: for the common
        # single-table FROM, alias the subquery with the ORIGINAL table
        # alias (or table name) so qualified references (g.p, lineitem.x)
        # still resolve; multi-relation FROMs keep the synthetic alias and
        # require unqualified columns (Spark raises UNRESOLVED_COLUMN with
        # the offending name otherwise).
        fm = re.match(
            r"^FROM\s+(?P<t>\w+)(?:\s+(?:AS\s+)?(?P<a>\w+))?\s*"
            r"(?:WHERE\b.*)?$",
            tail.strip(), re.I | re.S,
        )
        sub_alias = (fm["a"] or fm["t"]) if fm else "__hs_groups"
        final = f"{''.join(out)} FROM ({inner}) {sub_alias} {outer}"
        # compose with the other window dialect forms (VERDICT r9 #8): a
        # GROUPS spec may also carry FILTER / EXCLUDE / DISTINCT — the
        # shared normalization pass rewrites them over the now-RANGE frame
        # (FILTER first, so the exclusion pattern sees fn(CASE..) OVER)
        final = self._rewrite_window_dialect(final)
        df = self.spark.sql(final)
        # a SELECT * in the user's list expands to the subquery's columns —
        # the injected rank helpers must not leak
        return df.drop(*(col for col, _, _ in ranks.values()))

    def _qualify_sql(self, stmt: str) -> DataFrame:
        """QUALIFY clause (DuckDB/Snowflake/BigQuery dialect; SQL windows are
        beyond the reference, which declares but cannot execute them,
        lqp_translator.cpp:523-526): filter on window-function results after
        windows are computed — the window analog of HAVING.

        Rewrite, two attempts:
          1. outer-wrap:  SELECT * FROM (<query sans QUALIFY>) WHERE <pred>
             — covers predicates over select-list ALIASES (`QUALIFY rn = 1`).
          2. on analysis failure (the predicate contains a bare window
             function, not allowed in WHERE): inject `(<pred>) AS __q` into
             the select list, filter, drop — covers
             `QUALIFY ROW_NUMBER() OVER (...) = 1`.
        Trailing ORDER BY / LIMIT after QUALIFY run post-filter, like DuckDB.
        """
        import pyspark.sql.functions as F

        stmt = self._rewrite_window_dialect(stmt)  # dialect forms compose
        q = find_top_level(stmt, "QUALIFY")
        head, tail = stmt[:q].rstrip(), stmt[q + len("QUALIFY"):].strip()
        pred, rest = tail, ""
        for kw in ("ORDER", "LIMIT"):
            k = find_top_level(tail, kw)
            if k != -1 and (not rest or k < len(pred)):
                pred, rest = tail[:k].rstrip(), tail[k:]
        try:
            df = self.spark.sql(f"SELECT * FROM ({head}) WHERE {pred}")
        except Exception:  # noqa: BLE001 — window fn in pred: inject instead
            f = find_top_level(head, "FROM")
            if f == -1:
                raise
            # SELECT DISTINCT: the injected flag must not join the dedup key
            # (QUALIFY runs BEFORE DISTINCT in DuckDB's clause order) — strip
            # DISTINCT for the windowed pass, re-dedup after the filter
            dm = re.match(r"^\s*SELECT\s+DISTINCT\b", head, re.I)
            if dm:
                injected = (f"SELECT {head[dm.end():f].rstrip()},"
                            f" ({pred}) AS __qualify {head[f:]}")
            else:
                injected = f"{head[:f].rstrip()}, ({pred}) AS __qualify {head[f:]}"
            df = self.spark.sql(injected).filter(F.col("__qualify")).drop("__qualify")
            if dm:
                df = df.distinct()
        if rest:
            qv = f"{self._sv}_qualify"
            df.createOrReplaceTempView(qv)
            df = self.spark.sql(f"SELECT * FROM {qv} {rest}")
        return df

    def _distinct_on_sql(self, stmt: str) -> DataFrame:
        """DISTINCT ON (postgres / DuckDB dialect; the reference's DISTINCT
        surface is plain SELECT DISTINCT, sql_translator.cpp:436): keep ONE
        row per distinct key combination — the first under ORDER BY.

        Rewrite: ROW_NUMBER() OVER (PARTITION BY <on-keys> ORDER BY <query's
        ORDER BY, or the keys when absent — postgres documents the pick as
        unpredictable then>) = 1, i.e. the standard greatest-n-per-group
        top-1. Spark plans this as WindowGroupLimit (partial below the
        exchange, final above — two-stage top-k), so only ~1 row per key per
        input partition crosses the shuffle: the form scales to arbitrarily
        wide scans. Oracle: DuckDB runs the SAME text natively.
        Supported shape: SELECT DISTINCT ON (keys) <list> FROM ...
        [WHERE ...] [ORDER BY ...] [LIMIT n] — no GROUP BY (postgres allows
        it but the combination is rarely meaningful; raise instead)."""
        stmt = self._rewrite_window_dialect(stmt)  # dialect forms compose
        m = re.match(r"^\s*SELECT\s+DISTINCT\s+ON\s*", stmt, re.I)
        p = stmt.find("(", m.end())
        q = match_paren(stmt, p)
        if q == -1:
            raise ValueError("DISTINCT ON: unbalanced key list")
        keys = stmt[p + 1:q].strip()
        body = stmt[q + 1:]
        f = find_top_level(body, "FROM")
        if f == -1:
            raise ValueError("DISTINCT ON: no top-level FROM")
        sel = body[:f].strip()
        rest = body[f:]
        if find_top_level(rest, "GROUP") != -1:
            raise ValueError("DISTINCT ON with GROUP BY is not supported")
        order, limit = "", ""
        k = find_top_level(rest, "ORDER")
        if k != -1:
            order, rest = rest[k:].strip(), rest[:k].rstrip()
        k = find_top_level(order or rest, "LIMIT")
        if k != -1:
            if order:
                order, limit = order[:k].rstrip(), order[k:].strip()
            else:
                limit, rest = rest[k:].strip(), rest[:k].rstrip()
        win_order = re.sub(r"^ORDER\s+BY\s+", "", order, flags=re.I) or keys
        # WINDOW expressions in the select list must be computed on the
        # PRE-distinct rows (postgres/DuckDB clause order: windows run
        # before DISTINCT ON keeps one row per key) — hoist them into the
        # inner query under synthetic aliases; plain expressions evaluate
        # identically on the survivor row and stay in the outer select.
        inner_extra, out_items = [], []
        if sel == "*":
            out = "* EXCEPT (__don_rn)"
        else:
            for i, item in enumerate(split_top_level(sel)):
                item = item.strip()
                # anywhere in the item, incl. nested in CAST/ROUND parens
                if not re.search(r"\bOVER\s*\(",
                                 mask(item), re.I):
                    out_items.append(item)
                    continue
                am = re.match(r"^(?P<expr>.+)\s+AS\s+(?P<alias>\w+)\s*$",
                              item, re.I | re.S)
                if not am:
                    raise ValueError(
                        "DISTINCT ON: window expressions in the select "
                        f"list need an alias: {item!r}")
                inner_extra.append(f"{am['expr'].strip()} AS __don_a{i}")
                out_items.append(f"__don_a{i} AS {am['alias']}")
            out = ", ".join(out_items)
        extra = (", " + ", ".join(inner_extra)) if inner_extra else ""
        return self.spark.sql(
            f"SELECT {out} FROM ("
            f"  SELECT *{extra}, ROW_NUMBER() OVER (PARTITION BY {keys}"
            f"    ORDER BY {win_order}) AS __don_rn {rest}"
            f") __don WHERE __don_rn = 1 {order} {limit}"
        )

    def _window_dialect_sql(self, stmt: str) -> DataFrame:
        """Window dialect forms Spark lacks, composed as text transforms:
        `fn(x) FILTER (WHERE p) OVER (...)` first (it can wrap an excluded
        frame), then SQL:2011 frame exclusion.

        The DISTINCT-fold type sniff resolves bare columns against the
        REGISTERED views; a statement-local derived column that shadows a
        registered integral name can make the BIGINT accumulator type-
        mismatch at analysis (ADVICE r11). Retry once with the
        always-type-legal DOUBLE fold before surfacing the error."""
        try:
            return self.spark.sql(self._rewrite_window_dialect(stmt))
        except Exception as e:  # analysis-time accumulator/element clash
            if ("DATATYPE_MISMATCH" not in str(e)
                    or not self._has_window_distinct(mask(stmt))):
                raise
            self._fold_force_double = True
            try:
                return self.spark.sql(self._rewrite_window_dialect(stmt))
            finally:
                self._fold_force_double = False

    def _rewrite_window_dialect(self, stmt: str) -> str:
        """Both window text transforms in composition order — also applied
        by the QUALIFY / DISTINCT ON rewrites to their inner statements, so
        the dialect forms compose (e.g. DISTINCT ON over an excluded-frame
        select list). No-ops when the markers are absent.

        Named windows normalize FIRST (round 12): when a dialect marker is
        present anywhere, every `OVER w` inlines its WINDOW-clause spec and
        the clause is dropped — SQL:2011 allows the EXCLUDE to live INSIDE
        `WINDOW w AS (...)`, which the expression-level rewrites below
        could otherwise never reach (and Spark's parser would reject the
        surviving clause text); a DISTINCT aggregate over `OVER w` is then
        rewritten like one over an inline spec. Marker-free statements
        keep their WINDOW clause untouched — Spark runs those natively."""
        ms = mask(stmt)
        if _NAMED_WINDOW_RE.search(ms) and (
                _FRAME_EXCLUDE_RE.search(ms) or _WINDOW_FILTER_RE.search(ms)
                or _DISTINCT_AGG_RE.search(ms)):
            stmt = self._inline_named_windows(stmt)
        if _WINDOW_FILTER_RE.search(mask(stmt)):
            stmt = self._rewrite_window_filter(stmt)
        if _FRAME_EXCLUDE_RE.search(mask(stmt)):
            stmt = self._rewrite_frame_exclusion(stmt)
        if self._has_window_distinct(mask(stmt)):
            stmt = self._rewrite_window_distinct(stmt)
        return stmt

    def _inline_named_windows(self, stmt: str) -> str:
        """Inline every `OVER w` against the statement's top-level WINDOW
        clause and DROP the clause. Parsing runs over the literal mask;
        specs that reference another named window raise. Returns the
        statement unchanged when no parsable clause exists."""
        w = find_top_level(stmt, "WINDOW")
        if w == -1:
            return stmt
        masked = mask(stmt)
        specs: dict[str, str] = {}
        i = w + len("WINDOW")
        clause_end = i
        while True:
            dm = re.match(r"\s*([A-Za-z_]\w*)\s+AS\s*\(", stmt[i:], re.I)
            if not dm:
                break
            popen = i + dm.end() - 1
            pclose = match_paren(masked, popen)
            if pclose == -1:
                raise ValueError("named window: unbalanced WINDOW spec")
            spec = stmt[popen + 1:pclose].strip()
            if re.match(r"^[A-Za-z_]\w*\s*(?:$|ORDER|ROWS|RANGE|GROUPS)",
                        spec, re.I):
                raise ValueError(
                    "named window: WINDOW specs that reference another "
                    "named window are not supported with dialect rewrites")
            specs[dm[1].lower()] = spec
            clause_end = pclose + 1
            cm = re.match(r"\s*,", stmt[clause_end:])
            if not cm:
                break
            i = clause_end + cm.end()
        if not specs:
            return stmt
        out = stmt[:w] + " " + stmt[clause_end:]

        def inline(m: "re.Match[str]") -> str:
            spec = specs.get(m[1].lower())
            return m[0] if spec is None else f"OVER ({spec})"

        return sub_outside(_OVER_NAME_RE, inline, out)

    @staticmethod
    def _has_window_distinct(ms: str) -> bool:
        """True when the masked statement contains a DISTINCT aggregate AND
        a window (OVER) anywhere — the paren-insensitive probe for the
        collect_set rewrite (ADVICE r9: the old `[^)]*` probe missed
        nested-paren args like SUM(DISTINCT CAST(x AS BIGINT)) OVER).
        The rewriter itself does exact paren matching and no-ops on plain
        GROUP BY distincts, so a false positive here only re-routes a
        native statement through spark.sql unchanged."""
        return bool(_DISTINCT_AGG_RE.search(ms) and _OVER_RE.search(ms))

    def _rewrite_window_distinct(self, stmt: str) -> str:
        """DISTINCT window aggregates (DuckDB/postgres run
        `COUNT(DISTINCT x) OVER (...)` natively — the oracle; Spark raises
        DISTINCT_WINDOW_FUNCTION_UNSUPPORTED). Rewrite over the per-frame
        distinct set:

          COUNT(DISTINCT x) OVER w -> CAST(SIZE(COLLECT_SET(x) OVER w)
                                           AS BIGINT)
          SUM(DISTINCT x) OVER w   -> AGGREGATE(COLLECT_SET(x) OVER w,
                                        CAST(0 AS DOUBLE), (a, v) -> a + v)
          AVG(DISTINCT x) OVER w   -> the SUM form / the COUNT form
          MIN/MAX(DISTINCT x)      -> DISTINCT stripped (a no-op for both)

        COLLECT_SET deduplicates AND drops NULLs per frame — exactly the
        DISTINCT-aggregate input multiset — so COUNT is exact for EVERY
        frame spec (partition-only or framed), and the same Window operator
        computes it: no extra shuffle. SUM/AVG fold in DOUBLE (the lambda
        needs one static accumulator type): exact on integer / cents
        lattices below 2^53, and the empty frame yields NULL like the
        native aggregate. The distinct set must fit one row's window
        state — the same bound DuckDB's own windowed DISTINCT hash table
        carries; at 100 TB a high-cardinality distinct-count belongs in
        approx_count_distinct, which IS window-legal in Spark."""
        out, i = [], 0
        # search/paren-match over the length-preserving literal mask
        # (round 12: same hardening as the exclusion scanner, ADVICE r11)
        masked = mask(stmt)
        # the fold type sniff reads only the views this statement names: a
        # same-named column of an unrelated view must not break the
        # unanimous answer
        views = set(re.findall(r"[a-z_]\w*", masked.lower()))
        pat = re.compile(
            r"(?P<fn>COUNT|SUM|AVG|MIN|MAX)\s*\(\s*DISTINCT\b", re.I)
        while True:
            m = pat.search(masked, i)
            if not m:
                out.append(stmt[i:])
                break
            op = masked.index("(", m.start())
            close = match_paren(masked, op)
            if close == -1:
                raise ValueError("window DISTINCT: unbalanced aggregate")
            om = re.match(r"\s*OVER\s*\(", masked[close + 1:], re.I)
            if not om:
                # named windows were inlined by _rewrite_window_dialect, so
                # a name left here has no spec in the WINDOW clause
                nm = re.match(r"\s*OVER\s+([A-Za-z_]\w*)",
                              masked[close + 1:], re.I)
                if nm:
                    raise ValueError(
                        f"window DISTINCT: named window '{nm[1]}' is not "
                        "defined in the WINDOW clause")
                # GROUP BY DISTINCT agg — native in Spark
                out.append(stmt[i:close + 1])
                i = close + 1
                continue
            fn = m["fn"].upper()
            arg = stmt[m.end():close].strip()
            oopen = close + 1 + om.end() - 1
            oclose = match_paren(masked, oopen)
            if oclose == -1:
                raise ValueError("window DISTINCT: unbalanced OVER spec")
            spec = stmt[oopen + 1:oclose]
            em = re.search(
                r"\s*EXCLUDE\s+(?P<mode>CURRENT\s+ROW|GROUP|TIES|"
                r"NO\s+OTHERS)\s*$", mask(spec), re.I)
            exmode = None
            if em:  # mask is length-preserving: em offsets index `spec`
                exmode = re.sub(r"\s+", " ", em["mode"].upper())
                spec = spec[:em.start()].rstrip()
                if exmode == "NO OTHERS":
                    exmode = None  # SQL:2011's explicit default
            if exmode is not None:
                expr = self._distinct_exclusion_expr(fn, arg, spec, exmode,
                                                     views)
            elif fn in ("MIN", "MAX"):
                expr = f"{fn}({arg}) OVER ({spec})"
            else:
                dset = f"COLLECT_SET({arg}) OVER ({spec})"
                if fn == "COUNT":
                    expr = f"CAST(SIZE({dset}) AS BIGINT)"
                else:
                    acc0, step = self._distinct_fold_acc0(arg, views)
                    expr = self._guarded_fold_expr(fn, dset, acc0, step)
            out.append(stmt[i:m.start()])
            out.append(expr)
            i = oclose + 1
        return "".join(out)

    def _distinct_exclusion_expr(self, fn: str, arg: str, spec: str,
                                 mode: str, views: set[str]) -> str:
        """DISTINCT window aggregates composed with SQL:2011 frame
        exclusion (round 12; previously a ValueError at the exclusion
        rewriter). The frame's VALUE MULTISET decides everything:
        flist = COLLECT_LIST(arg) OVER (frame) — drops NULLs, which is
        exactly the DISTINCT-aggregate input — plus plist over the
        peer-group frame when peers matter.

          EXCLUDE CURRENT ROW: v survives iff it occurs in the frame on
            some row other than the current one. Provably RANGE-mode
            frames slice the ONE element at the current row's in-frame
            position out of the frame list (cut="self", O(frame) per
            row — tie-order independent because the removed element
            always VALUE-equals the current row); other frame shapes use
            the per-value survival test — count(v) > 1 when v equals the
            current row's value, count(v) >= 1 otherwise — valid under
            ANY frame mode containing the current row.
          EXCLUDE GROUP: v survives iff count_frame(v) > count_peers(v).
            (VERDICT r11 #6 sketched ARRAY_EXCEPT(frame_set, peer_set);
            that set-level form wrongly drops a value that occurs BOTH
            inside and outside the peer group — the per-value multiset
            count comparison is the correct difference, pinned by a test
            with exactly that collision.) But counting is only NEEDED
            when the peer run's frame positions are unknown: RANGE-mode
            frames hold the WHOLE contiguous peer run (order-distance
            0), so the kept multiset is a position-slice concat
            (_range_kept_values_expr, O(frame) per row) and the multiset
            count comparison (O(frame x distinct)) remains only as the
            fallback for frame shapes _range_frame_lower cannot
            classify. ROWS-mode frames with FINITE bounds (round-12
            second wave) take the same position-slice route via
            _rows_kept_values_expr — the kept multiset IS the concat of
            the two slices, so DISTINCT is just ARRAY_DISTINCT over it;
            unbounded ROWS sides raise.
          EXCLUDE TIES: the GROUP survivors plus the current row's own
            value (ARRAY_UNION — set semantics are what DISTINCT wants).

        COUNT = SIZE(survivors); SUM/AVG fold the survivor array with
        the type-sniffed accumulator; MIN/MAX = ARRAY_MIN/ARRAY_MAX —
        which also closes the MIN/MAX(DISTINCT) + EXCLUDE gap. The frame
        multiset must fit one row's window state, the same documented
        bound as the plain DISTINCT rewrite; all windows share the
        spec's partition/order — ONE Window operator."""
        ms = mask(spec)
        bm = re.search(
            r"\b(?P<m>ROWS|RANGE)\s+BETWEEN\s+(?P<lo>.+?)\s+AND\s+"
            r"(?P<hi>.+?)\s*$", ms, re.I)
        po = self._window_po(spec, ms, bm)
        if bm and (re.search(r"\bFOLLOWING\s*$", bm["lo"], re.I)
                   or re.search(r"\bPRECEDING\s*$", bm["hi"], re.I)):
            raise ValueError(
                "window DISTINCT: EXCLUDE needs a frame containing the "
                "current row (lower bound PRECEDING/CURRENT ROW, upper "
                "bound FOLLOWING/CURRENT ROW)")
        _sh = None if bm else self._SHORTHAND_FRAME_RE.search(ms)
        if (not bm and mode != "CURRENT ROW"
                and _sh is not None and _sh.group("kw").upper() == "ROWS"):
            raise ValueError(
                "window DISTINCT: shorthand ROWS frames (ROWS k PRECEDING) "
                "with EXCLUDE GROUP/TIES are not supported — spell the "
                "frame as ROWS BETWEEN k PRECEDING AND CURRENT ROW")
        flist = f"COLLECT_LIST({arg}) OVER ({spec})"
        if mode == "CURRENT ROW":
            lo = self._range_frame_lower(spec, bm)
            if lo is not None:
                # provably RANGE-mode frame: the excluded run is ONE
                # element at the current row's in-frame position —
                # same O(frame) slice, cut="self"
                kept = self._range_kept_values_expr(arg, spec, po, lo,
                                                    cut="self")
                surv = f"ARRAY_DISTINCT({kept})"
            elif (fstart := self._rows_first_pos_expr(ms, bm, po)) is not None:
                # ROWS-mode frame with a constant-offset lower bound
                # (round 13, VERDICT r12 #5 residual): the current row's
                # in-frame position is plain position arithmetic — same
                # one-element slice cut, no per-value frame rescans
                kept = self._kept_values_expr(arg, spec, po, fstart,
                                              cut="self")
                surv = f"ARRAY_DISTINCT({kept})"
            else:
                # unclassified frames (e.g. GROUPS mode): per-value
                # multiset survival (v survives iff it occurs on some row
                # other than the current one) — valid under ANY frame
                # containing the current row
                surv = (f"FILTER(ARRAY_DISTINCT({flist}), v ->"
                        f" (NOT (v <=> ({arg})))"
                        f" OR SIZE(FILTER({flist}, e -> e <=> v)) > 1)")
        elif bm and bm["m"].upper() == "ROWS":
            # GROUP/TIES under a bounded ROWS frame: the kept multiset is
            # the position-slice concat — DISTINCT is a set over it
            kept = self._rows_kept_values_expr(fn, arg, spec, po,
                                               bm["lo"], bm["hi"])
            surv = f"ARRAY_DISTINCT({kept})"
            if mode == "TIES":
                surv = self._ties_add_self(surv, arg)
        else:
            lo = self._range_frame_lower(spec, bm)
            if lo is not None:
                # GROUP/TIES under a provably RANGE-mode frame (round-12
                # second pass): peers are a CONTIGUOUS run wholly inside
                # the frame, so the kept multiset is a position-slice
                # concat — O(frame) per row instead of the multiset
                # count-comparison's O(frame x distinct)
                kept = self._range_kept_values_expr(arg, spec, po, lo)
                surv = f"ARRAY_DISTINCT({kept})"
            else:
                peers = f"{po} RANGE BETWEEN CURRENT ROW AND CURRENT ROW"
                plist = f"COLLECT_LIST({arg}) OVER ({peers})"
                surv = (f"FILTER(ARRAY_DISTINCT({flist}), v ->"
                        f" SIZE(FILTER({flist}, e -> e <=> v)) >"
                        f" SIZE(FILTER({plist}, e -> e <=> v)))")
            if mode == "TIES":
                surv = self._ties_add_self(surv, arg)
        if fn in ("MIN", "MAX"):
            return f"ARRAY_{fn}({surv})"
        if fn == "COUNT":
            return f"CAST(SIZE({surv}) AS BIGINT)"
        acc0, step = self._distinct_fold_acc0(arg, views)
        return self._guarded_fold_expr(fn, surv, acc0, step)

    @staticmethod
    def _ties_add_self(surv: str, arg: str) -> str:
        """EXCLUDE TIES keeps the current row's own value: union the
        (already-distinct, NULL-free) survivor array with the current
        value, referencing the survivor expression ONCE. The former
        `CASE WHEN arg IS NULL THEN surv ELSE ARRAY_UNION(surv,
        ARRAY(arg)) END` inlined the kept-multiset text twice — every
        copy re-runs the per-row array chain over the buffered frame
        (see _guarded_fold_expr for the cost mechanism). ARRAY_UNION with
        an empty right side returns the distinct left side unchanged, so
        the NULL case needs no separate branch."""
        return (f"ARRAY_UNION({surv},"
                f" FILTER(ARRAY({arg}), x -> x IS NOT NULL))")

    @staticmethod
    def _guarded_fold_expr(fn: str, arr: str, acc0: str, step: str) -> str:
        """SUM/AVG fold over a (possibly enormous) array expression with
        SQL empty-input semantics, referencing the array text exactly ONCE.
        The former `CASE WHEN SIZE(arr) = 0 THEN NULL ELSE AGGREGATE(arr,
        ...) [/ SIZE(arr)] END` form inlined `arr` 2-3x. Spark DOES
        deduplicate the identical COLLECT_* window functions inside the
        copies (plan evidence: plans/r13/window_count_distinct_exclude_*
        both buffer 7 collect_lists), but every inlined copy re-runs the
        O(frame)-per-row FILTER/TRANSFORM/ARRAY_DISTINCT chain over the
        buffered array in the projection — that interpreted per-row array
        work is what the dedup removes (measured: SUM(DISTINCT) EXCLUDE
        TIES alone cost +0.75 s of window_count_distinct_exclude's 1.6 s
        at sf0.1; this change A/B 0.79x). A struct accumulator counts
        while folding and the finish lambda supplies the empty->NULL (and
        AVG's /n) semantics. The element count stays INT (like SIZE) so
        AVG's division types — and therefore decimal result scales — are
        unchanged. `step` is `(acc, v) -> <expr>`, the form every
        _distinct_fold_acc0 accumulator has."""
        body = re.sub(r"\bacc\b", "acc.s", step.split("->", 1)[1].strip())
        start = f"NAMED_STRUCT('s', {acc0}, 'n', 0)"
        merge = f"(acc, v) -> NAMED_STRUCT('s', {body}, 'n', acc.n + 1)"
        fin = ("acc -> CASE WHEN acc.n = 0 THEN NULL ELSE acc.s END"
               if fn == "SUM" else
               "acc -> CASE WHEN acc.n = 0 THEN NULL ELSE acc.s / acc.n END")
        return f"AGGREGATE({arr}, {start}, {merge}, {fin})"

    @staticmethod
    def _decimal_fold(scale: int) -> tuple[str, str]:
        """(accumulator zero, step lambda) for an exact decimal fold.
        Precision budget: Spark types p1,s + p2,s addition as
        (max(p1-s, p2-s) + 1 + s, s) and SHAVES THE SCALE when that
        precision exceeds 38 — a DECIMAL(38,s) accumulator therefore
        rounds every partial sum at scale s-1 (observed: the 9-scale fold
        drifted +0.5 ulp-at-8 per addition). Folding at DECIMAL(37,s)
        with the element pre-cast to DECIMAL(36,s) keeps every
        intermediate at exactly (38,s): no scale loss, exact while the
        running sum stays below 10^(37-s). AGGREGATE also requires the
        step's static type to equal the accumulator's, hence the outer
        re-cast to (37,s).

        Scale > 36 cannot fit this budget: the element pre-cast to
        DECIMAL(36,s) would silently ROUND (or overflow to NULL under
        non-ANSI mode) instead of erroring, diverging from an exact
        decimal oracle — fail loud instead (ADVICE r11)."""
        if scale > 36:
            raise ValueError(
                f"window DISTINCT: decimal scale {scale} exceeds the exact "
                "fold budget (36) — DECIMAL(36,s) element casts would "
                "silently round; rewrite with a lower-scale cast")
        s = scale
        return (
            f"CAST(0 AS DECIMAL(37,{s}))",
            f"(acc, v) -> CAST(acc + CAST(v AS DECIMAL(36,{s}))"
            f" AS DECIMAL(37,{s}))",
        )

    def _distinct_fold_acc0(self, arg: str,
                            views: set[str] | None = None) -> tuple[str, str]:
        """(accumulator zero, step lambda) for the SUM/AVG(DISTINCT)
        collect_set fold, chosen from the ARGUMENT's type — never from the
        session decimal flag (ADVICE r10: Spark's AGGREGATE raises
        DATATYPE_MISMATCH when a DECIMAL(38,6) zero folds DOUBLE elements,
        and a fixed scale of 6 silently rounds higher-scale decimal args).
        Signals, in order:

        - explicit integral cast    -> BIGINT (exact integer lattice)
        - explicit DECIMAL(p,s) cast -> DECIMAL(38,s), the arg's OWN scale
        - bare (optionally qualified) column -> the resolved type from the
          registered views named in `views` (lower case; None: every
          registered view), but only when it is unambiguous: all-integral
          folds in BIGINT, all-decimal in DECIMAL(38, max s); any float /
          mixed / unresolved match falls through
        - anything else -> DOUBLE (always type-legal: Spark widens every
          numeric element into a DOUBLE accumulator; exact below 2^53,
          which matches DuckDB's own double arithmetic for float args)
        """
        if getattr(self, "_fold_force_double", False):
            # retry pass after a shadowed-name DATATYPE_MISMATCH — the
            # always-legal accumulator (see _window_dialect_sql)
            return "CAST(0 AS DOUBLE)", "(acc, v) -> acc + v"
        if re.search(r"\bAS\s+(?:BIGINT|INT(?:EGER)?|SMALLINT"
                     r"|TINYINT)\s*\)\s*$", arg, re.I):
            return "CAST(0 AS BIGINT)", "(acc, v) -> acc + v"
        m = re.search(r"\bAS\s+DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)\s*\)\s*$",
                      arg, re.I)
        if m:
            if int(m.group(1)) > 36:
                raise ValueError(
                    f"window DISTINCT: declared DECIMAL precision "
                    f"{m.group(1)} exceeds the exact fold budget (36) — "
                    "the element cast would silently narrow (ADVICE r11)")
            return self._decimal_fold(int(m.group(2)))
        cm = re.fullmatch(r"(?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*)", arg.strip())
        if cm:
            types = self._registered_column_types(cm.group(1), views)
            if types:
                from pyspark.sql import types as T

                integral = (T.ByteType, T.ShortType, T.IntegerType,
                            T.LongType)
                if all(isinstance(t, integral) for t in types):
                    return "CAST(0 AS BIGINT)", "(acc, v) -> acc + v"
                if all(isinstance(t, T.DecimalType) for t in types):
                    return self._decimal_fold(max(t.scale for t in types))
        return self._expr_fold_acc0(arg, views)

    def _expr_fold_acc0(self, arg: str,
                        views: set[str] | None) -> tuple[str, str]:
        """Type sniff for simple ARITHMETIC expression args (ADVICE r11:
        `SUM(DISTINCT price * 2) OVER ...` on a decimal column fell to the
        DOUBLE fold, risking last-ulp drift vs DuckDB's exact decimal
        SUM(DISTINCT)). Accepts expressions built ONLY from (qualified)
        column names, integer literals, + - * and parens; every named
        column must resolve UNANIMOUSLY across the registered views:

        - all decimal: exact decimal fold. Scale bound: the max column
          scale when the expression is additive; the SUM of the decimal
          operands' scales when `*` appears (a product's scale is the sum
          of its factors' scales; using the upper bound keeps the fold
          exact at a higher-than-needed scale).
        - all integral: BIGINT fold (exact integer lattice).

        Division, floats, functions, string/date literals, or any
        unresolved/ambiguous column fall through to the DOUBLE fold
        (exact below 2^53 — documented rows-only risk beyond)."""
        double = ("CAST(0 AS DOUBLE)", "(acc, v) -> acc + v")
        s = mask(arg)
        if not re.fullmatch(r"[\w\s.+\-*()]+", s) or "/" in s:
            return double
        idents = re.findall(r"(?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*)", s)
        if not idents or re.search(r"[A-Za-z_]\w*\s*\(", s):
            return double
        if re.search(r"\d\.\d|\.\d|\d\.(?!\w)|\d[eE][+-]?\d", s):
            return double  # fractional/exponent literal -> not exact lattice
        from pyspark.sql import types as T

        integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        scales: list[int] = []
        all_int = True
        for name in idents:
            types = self._registered_column_types(name, views)
            if not types:
                return double
            if all(isinstance(t, T.DecimalType) for t in types):
                scales.append(max(t.scale for t in types))
                all_int = False
            elif all(isinstance(t, integral) for t in types):
                scales.append(0)
            else:
                return double
        if all_int:
            return "CAST(0 AS BIGINT)", "(acc, v) -> acc + v"
        scale = sum(scales) if "*" in s else max(scales)
        if scale > 36:
            return double
        return self._decimal_fold(scale)

    def _registered_column_types(self, col: str,
                                 views: set[str] | None) -> list:
        """Resolved Spark types of every column named `col`
        (case-insensitive) of the registered views in `views` (None: all
        of them). Best-effort: statement-local aliases and derived tables
        are invisible here, which is why the caller only trusts an
        UNANIMOUS answer."""
        out: list = []
        try:
            names = [t.name for t in self.spark.catalog.listTables()
                     if views is None or t.name.lower() in views]
        except Exception:
            return out
        low = col.lower()
        for name in names:
            try:
                fields = self.spark.table(name).schema.fields
            except Exception:
                continue
            out.extend(f.dataType for f in fields if f.name.lower() == low)
        return out

    def _rewrite_window_filter(self, stmt: str) -> str:
        """FILTER clause on WINDOW functions (SQL:2003 T612; DuckDB/postgres
        run it natively — the oracle; Spark supports FILTER on GROUP BY
        aggregates but not over windows). Every standard aggregate ignores
        NULLs, so the rewrite is exact for all of them:

          fn(x) FILTER (WHERE p) OVER (...) -> fn(CASE WHEN p THEN x END)
                                               OVER (...)
          COUNT(*) FILTER (WHERE p)         -> COUNT(CASE WHEN p THEN 1 END)

        Same Window operator, zero extra passes."""
        out, i = [], 0
        pat = re.compile(
            r"(?P<fn>\w+)\s*\(\s*(?P<arg>(?:[^()]|\([^()]*\))*?|\*)\s*\)"
            r"\s+FILTER\s*\(", re.I)
        while True:
            m = pat.search(stmt, i)
            if not m:
                out.append(stmt[i:])
                break
            fclose = match_paren(stmt, m.end() - 1)
            if fclose == -1:
                raise ValueError("window FILTER: unbalanced clause")
            # only rewrite the windowed form — GROUP BY FILTER is native
            rest = stmt[fclose + 1:]
            if not re.match(r"\s*OVER\b", rest, re.I):
                out.append(stmt[i:fclose + 1])
                i = fclose + 1
                continue
            inner = stmt[m.end():fclose].strip()
            wm = re.match(r"WHERE\s+(?P<pred>.+)$", inner, re.I | re.S)
            if not wm:
                raise ValueError(
                    f"window FILTER: expected FILTER (WHERE <pred>), got "
                    f"FILTER ({inner})")
            fn, arg, pred = m["fn"], m["arg"].strip(), wm["pred"].strip()
            dm = re.match(r"DISTINCT\b\s*(?P<rest>.+)$", arg, re.I | re.S)
            if dm:
                # fn(DISTINCT x) FILTER (WHERE p) OVER — keep DISTINCT
                # OUTSIDE the CASE so the later DISTINCT-window rewrite
                # (collect_set) sees it; NULLs from failing predicates are
                # dropped by the distinct set exactly like by the aggregate
                out.append(stmt[i:m.start()])
                out.append(
                    f"{fn}(DISTINCT CASE WHEN {pred}"
                    f" THEN ({dm['rest'].strip()}) END)")
                i = fclose + 1
                continue
            val = "1" if arg == "*" else f"({arg})"
            out.append(stmt[i:m.start()])
            out.append(f"{fn}(CASE WHEN {pred} THEN {val} END)")
            i = fclose + 1
        return "".join(out)

    def _rewrite_frame_exclusion(self, stmt: str) -> str:
        """Window frame exclusion (SQL:2011 EXCLUDE CURRENT ROW / GROUP /
        TIES; the reference declares frames but cannot execute windows,
        window_expression.hpp:30, lqp_translator.cpp:523-526; DuckDB runs
        the clause natively — the oracle). Spark has no frame exclusion,
        and re-aiming the bounds cannot express it (peers of the current
        row must stay/leave independently of the bounds), so the rewrite
        is arithmetic over the un-excluded frame:

          EXCLUDE CURRENT ROW : full - current row's contribution
          EXCLUDE GROUP       : full - peer-group total, where the peer
                                total is the SAME aggregate over
                                `RANGE BETWEEN CURRENT ROW AND CURRENT ROW`
                                (exactly the peer group)
          EXCLUDE TIES        : full - peer-group total + current row

        For RANGE-mode frames (incl. the default frame) the peer total is
        exact as-is: a RANGE frame containing the current row contains ALL
        its peers (order-distance 0). For ROWS-mode frames (round 11) the
        peer group may be PARTIALLY in frame, so the excluded amount is
        assembled from constant-offset prefix windows — see
        _rows_group_exclusion_expr. MIN/MAX (round 12) are not
        subtraction-invertible, so they use SEGMENTATION instead — see
        _minmax_exclusion_expr; DISTINCT aggregates are left intact here
        for the DISTINCT-window rewrite, which composes EXCLUDE itself
        (_distinct_exclusion_expr). SUM/AVG yield NULL when the excluded
        frame is empty. Every added window expression shares the SAME
        partition/order — no extra shuffle, one Window pass."""
        out, i = [], 0
        # find the aggregate call, then paren-match its argument — the
        # FILTER rewrite can nest CASEs arbitrarily deep (round 11: a
        # one-nesting-level arg regex silently SKIPPED such calls, leaving
        # EXCLUDE in the text for Spark's parser to choke on). All
        # SEARCHING/matching runs over the length-preserving literal mask
        # so aggregate names, parens and EXCLUDE keywords inside string
        # literals are invisible (ADVICE r11); OUTPUT slices come from the
        # original text at the same offsets.
        masked = mask(stmt)
        pat = re.compile(r"\b(?P<fn>SUM|COUNT|AVG|MIN|MAX)\s*\(", re.I)
        while True:
            m = pat.search(masked, i)
            if not m:
                out.append(stmt[i:])
                break
            aclose = match_paren(masked, m.end() - 1)
            if aclose == -1:
                raise ValueError("frame exclusion: unbalanced aggregate")
            om = re.match(r"\s+OVER\s*\(", masked[aclose + 1:], re.I)
            if not om:  # plain GROUP BY aggregate — copy through
                out.append(stmt[i:m.end()])
                i = m.end()
                continue
            oopen = aclose + 1 + om.end() - 1
            close = match_paren(masked, oopen)
            if close == -1:
                raise ValueError("frame exclusion: unbalanced OVER spec")
            spec = stmt[oopen + 1:close]
            em = re.search(
                r"\s*EXCLUDE\s+(?P<mode>CURRENT\s+ROW|GROUP|TIES|"
                r"NO\s+OTHERS)\s*$",
                masked[oopen + 1:close], re.I)
            if not em:
                out.append(stmt[i:close + 1])
                i = close + 1
                continue
            fn, arg = m["fn"].upper(), stmt[m.end():aclose].strip()
            if re.match(r"DISTINCT\b", arg, re.I):
                # DISTINCT aggregates are handled by the collect-based
                # DISTINCT-window rewrite, which runs AFTER this one in
                # _rewrite_window_dialect and understands the trailing
                # EXCLUDE itself (round 12; VERDICT r11 #6) — copy through
                out.append(stmt[i:close + 1])
                i = close + 1
                continue
            mode = re.sub(r"\s+", " ", em["mode"].upper())
            if mode == "NO OTHERS":
                # SQL:2011's explicit default: exclude nothing — strip it
                out.append(stmt[i:oopen + 1])
                out.append(spec[:em.start()].rstrip())
                out.append(")")
                i = close + 1
                continue
            spec2 = spec[:em.start()].rstrip()
            ms2 = masked[oopen + 1:close][:em.start()].rstrip()
            bm = re.search(
                r"\b(?P<mode>ROWS|RANGE)\s+BETWEEN\s+(?P<lo>.+?)\s+AND\s+"
                r"(?P<hi>.+?)\s*$", ms2, re.I)
            # partition/order prefix of the spec with the frame clause
            # (incl. SHORTHAND frames) cut off — sliced from the ORIGINAL
            # text (PARTITION BY expressions may contain literals),
            # position found on the mask
            po2 = self._window_po(spec2, ms2, bm)
            if bm and (re.search(r"\bFOLLOWING\s*$", bm["lo"], re.I)
                       or re.search(r"\bPRECEDING\s*$", bm["hi"], re.I)):
                raise ValueError(
                    "frame exclusion: the frame must contain the current "
                    "row (lower bound PRECEDING/CURRENT ROW, upper bound "
                    "FOLLOWING/CURRENT ROW)")
            _sh = None if bm else self._SHORTHAND_FRAME_RE.search(ms2)
            if (not bm and mode != "CURRENT ROW"
                    and _sh is not None
                    and _sh.group("kw").upper() == "ROWS"):
                # shorthand `ROWS k PRECEDING` (round-12 review): the peer
                # group can stick out ABOVE the frame's CURRENT ROW upper
                # bound, which the peers-in-frame arithmetic below does
                # not model (RANGE shorthand is safe — its CURRENT ROW
                # upper bound includes all peers) — fail loud
                raise ValueError(
                    "frame exclusion: shorthand ROWS frames (ROWS k "
                    "PRECEDING) with EXCLUDE GROUP/TIES are not supported "
                    "— spell the frame as ROWS BETWEEN k PRECEDING AND "
                    "CURRENT ROW")
            if fn in ("MIN", "MAX"):
                expr = self._minmax_exclusion_expr(
                    fn, arg, spec2, po2, bm, mode)
            elif mode == "CURRENT ROW":
                if fn == "COUNT" and arg == "*":
                    expr = f"(COUNT(*) OVER ({spec2}) - 1)"
                elif fn == "COUNT":
                    expr = (f"(COUNT({arg}) OVER ({spec2})"
                            f" - CASE WHEN ({arg}) IS NULL THEN 0 ELSE 1 END)")
                else:
                    cnt = (f"(COUNT({arg}) OVER ({spec2})"
                           f" - CASE WHEN ({arg}) IS NULL THEN 0 ELSE 1 END)")
                    sum_ex = (f"(SUM({arg}) OVER ({spec2})"
                              f" - COALESCE({arg}, 0))")
                    if fn == "SUM":
                        expr = (f"(CASE WHEN {cnt} = 0 THEN NULL"
                                f" ELSE {sum_ex} END)")
                    else:  # AVG
                        expr = (f"(CASE WHEN {cnt} = 0 THEN NULL"
                                f" ELSE {sum_ex} / {cnt} END)")
            elif bm and bm["mode"].upper() == "ROWS":
                # GROUP / TIES under a ROWS frame (round 11; the reference
                # declares the full SQL:2011 vocabulary,
                # window_expression.hpp:11-30). The peer group can be
                # PARTIALLY in frame, so the excluded amount is
                #   peers-in-frame = peer-total
                #                  - peers cut off left of the frame
                #                  - peers cut off right of the frame
                # and both cut-offs are prefix-window differences at
                # CONSTANT row offsets (see _rows_group_exclusion_expr).
                expr = self._rows_group_exclusion_expr(
                    fn, arg, spec2, po2, bm["lo"], bm["hi"],
                    keep_self=(mode == "TIES"))
            else:  # GROUP / TIES — RANGE-mode frames (incl. the default)
                peer = po2 + " RANGE BETWEEN CURRENT ROW AND CURRENT ROW"
                keep_self = mode == "TIES"
                if fn == "COUNT" and arg == "*":
                    expr = (f"(COUNT(*) OVER ({spec2})"
                            f" - COUNT(*) OVER ({peer})"
                            + (" + 1)" if keep_self else ")"))
                else:
                    this_cnt = f"CASE WHEN ({arg}) IS NULL THEN 0 ELSE 1 END"
                    cnt = (f"(COUNT({arg}) OVER ({spec2})"
                           f" - COUNT({arg}) OVER ({peer})"
                           + (f" + {this_cnt})" if keep_self else ")"))
                    if fn == "COUNT":
                        expr = cnt
                    else:
                        sum_ex = (f"(SUM({arg}) OVER ({spec2})"
                                  f" - COALESCE(SUM({arg}) OVER ({peer}), 0)"
                                  + (f" + COALESCE({arg}, 0))"
                                     if keep_self else ")"))
                        if fn == "SUM":
                            expr = (f"(CASE WHEN {cnt} = 0 THEN NULL"
                                    f" ELSE {sum_ex} END)")
                        else:  # AVG
                            expr = (f"(CASE WHEN {cnt} = 0 THEN NULL"
                                    f" ELSE {sum_ex} / {cnt} END)")
            out.append(stmt[i:m.start()])
            out.append(expr)
            i = close + 1
        return "".join(out)

    def _rows_group_exclusion_expr(self, fn: str, arg: str, spec2: str,
                                   po: str, lo: str, hi: str,
                                   keep_self: bool) -> str:
        """EXCLUDE GROUP/TIES under a ROWS frame `ROWS BETWEEN k1 PRECEDING
        AND k2 FOLLOWING` (bounds may also be CURRENT ROW / UNBOUNDED).

        Peers occupy the contiguous position interval [first_peer,
        last_peer]; the frame occupies [pos-k1, pos+k2]. The amount to
        subtract is the aggregate over their INTERSECTION:

            peers_in_frame = peer_total
                           - sum over [first_peer, pos-k1-1]   (cut left)
                           - sum over [pos+k2+1, last_peer]    (cut right)

        Each position-interval sum is a difference of prefix aggregates at
        CONSTANT row offsets from the current row, all window-expressible:

            prefix(pos-k1-1)   = agg OVER (ROWS UNBOUNDED PRECEDING
                                           AND (k1+1) PRECEDING)
            prefix(first_peer-1) = agg OVER (RANGE UNB.PREC AND CURRENT ROW)
                                 - agg OVER (RANGE CURRENT AND CURRENT)
            prefix(last_peer)  = agg OVER (RANGE UNB.PREC AND CURRENT ROW)
            prefix(pos+k2)     = agg OVER (ROWS UNB.PREC AND k2 FOLLOWING)

        with positions from ROW_NUMBER / COUNT(*) prefixes and each cut
        guarded by a CASE (it applies only when peers actually stick out
        of the frame on that side). Exact for SUM/COUNT/AVG; all windows
        share the partition/order, so Spark evaluates them in ONE Window
        operator — no extra shuffle."""
        def bound(text: str, side: str):
            t = re.sub(r"\s+", " ", text.strip().upper())
            if t == f"UNBOUNDED {side}":
                return None
            if t == "CURRENT ROW":
                return 0
            km = re.fullmatch(rf"(\d+) {side}", t)
            if km:
                return int(km[1])
            raise ValueError(
                f"frame exclusion: unsupported ROWS bound {text!r} with "
                "EXCLUDE GROUP/TIES (integer offsets and CURRENT ROW only)")

        k1, k2 = bound(lo, "PRECEDING"), bound(hi, "FOLLOWING")
        peers = f"{po} RANGE BETWEEN CURRENT ROW AND CURRENT ROW"
        le = f"{po} RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        pos = f"ROW_NUMBER() OVER ({po})"
        last_peer = f"COUNT(*) OVER ({le})"
        first_peer = f"({last_peer} - COUNT(*) OVER ({peers}) + 1)"

        def excluded(agg: str) -> str:
            """Aggregate-over-peers-in-frame for `agg` in {SUM(x),
            COUNT(x), COUNT(*)} as a window-expression string."""
            peer_tot = f"COALESCE({agg} OVER ({peers}), 0)"
            terms = [peer_tot]
            if k1 is not None:
                cut = (f"(COALESCE({agg} OVER ({po} ROWS BETWEEN UNBOUNDED"
                       f" PRECEDING AND {k1 + 1} PRECEDING), 0)"
                       f" - (COALESCE({agg} OVER ({le}), 0) - {peer_tot}))")
                terms.append(f"CASE WHEN ({pos} - {k1}) > {first_peer}"
                             f" THEN {cut} ELSE 0 END")
            if k2 is not None:
                cut = (f"(COALESCE({agg} OVER ({le}), 0)"
                       f" - COALESCE({agg} OVER ({po} ROWS BETWEEN UNBOUNDED"
                       f" PRECEDING AND {k2} FOLLOWING), 0))")
                terms.append(f"CASE WHEN {last_peer} > ({pos} + {k2})"
                             f" THEN {cut} ELSE 0 END")
            return "(" + " - ".join(terms) + ")"

        if fn == "COUNT" and arg == "*":
            ex = excluded("COUNT(*)")
            back = " + 1)" if keep_self else ")"
            return f"(COUNT(*) OVER ({spec2}) - {ex}{back}"
        this_cnt = f"CASE WHEN ({arg}) IS NULL THEN 0 ELSE 1 END"
        ex_cnt = excluded(f"COUNT({arg})")
        cnt = (f"(COUNT({arg}) OVER ({spec2}) - {ex_cnt}"
               + (f" + {this_cnt})" if keep_self else ")"))
        if fn == "COUNT":
            return cnt
        ex_sum = excluded(f"SUM({arg})")
        ssum = (f"(COALESCE(SUM({arg}) OVER ({spec2}), 0) - {ex_sum}"
                + (f" + COALESCE({arg}, 0))" if keep_self else ")"))
        if fn == "SUM":
            return f"(CASE WHEN {cnt} = 0 THEN NULL ELSE {ssum} END)"
        return f"(CASE WHEN {cnt} = 0 THEN NULL ELSE {ssum} / {cnt} END)"

    def _minmax_exclusion_expr(self, fn: str, arg: str, spec2: str,
                               po: str, bm, mode: str) -> str:
        """MIN/MAX under SQL:2011 frame exclusion (round 12; the round-11
        rewriter rejected them as not subtraction-invertible — the
        reference declares the full vocabulary for every window function,
        window_expression.hpp:11-30). Exclusion is SEGMENTATION instead
        of arithmetic — three strategies by frame mode:

        * EXCLUDE CURRENT ROW, ROWS frame: the frame splits at the
          current row into two CONSTANT-OFFSET segments
          (`lo .. 1 PRECEDING` and `1 FOLLOWING .. hi`) combined with
          LEAST/GREATEST (both skip NULL operands). No arrays, any
          bounds incl. UNBOUNDED, one Window pass.

        * RANGE-mode frames (incl. the default frame), GROUP/TIES: every
          peer shares the current order value, so the peer group is a
          CONTIGUOUS run lying WHOLLY inside any frame that contains the
          current row — survivors are position slices of the frame list
          around that run (_range_kept_values_expr, round-12 second
          pass: O(frame) per row). TIES adds the current row's value
          back via LEAST/GREATEST; CURRENT ROW cuts the ONE element at
          the current row's in-frame position (cut="self") instead of
          the peer run. Frame shapes _range_frame_lower cannot classify
          fall back to per-VALUE multiset comparison over COLLECT_LISTs
          of the frame and the peer-group frame: a value survives
          EXCLUDE GROUP iff it occurs
          MORE times in the frame than among the peers (NB: set-level
          ARRAY_EXCEPT(frame_set, peer_set) would wrongly drop a value
          occurring both inside AND outside the peer group — the count
          comparison is the true multiset difference); under CURRENT ROW
          a value equal to the current row's survives only when it
          occurs elsewhere too. Either way the frame multiset must fit
          one row's window state — the bound the DISTINCT-window rewrite
          already documents; an unbounded-frame min-exclude at 100 TB
          belongs in a restructured query.

        * EXCLUDE GROUP/TIES, ROWS frame with FINITE integer bounds: the
          peer group may be PARTIALLY in frame, so survivors are
          POSITION slices of the frame list. Rows stay order-intact via
          a struct wrap (COLLECT_LIST drops bare NULLs, which would
          shift every index); the peer run's in-frame 1-based interval
          comes from the same ROW_NUMBER/COUNT prefixes
          _rows_group_exclusion_expr uses; survivors are
          SLICE(1..A) ++ SLICE(B+1..). Arrays are O(k1+k2+1) — bounded
          by the frame constants, scale-safe. UNBOUNDED sides raise
          (the per-row array would be O(partition)).

        All added windows share the spec's partition/order, so Spark
        plans ONE Window operator. VERDICT r11 #2 sketched
        `min(prefix ending at group-start-1, suffix starting at
        group-end+1)` as plain prefix windows, but those endpoints are
        NOT constant row offsets (the current row's position inside its
        peer group varies), hence the in-frame index arithmetic here."""
        comb = "LEAST" if fn == "MIN" else "GREATEST"
        amin = "ARRAY_MIN" if fn == "MIN" else "ARRAY_MAX"
        rows_frame = bool(bm) and bm["mode"].upper() == "ROWS"
        if mode == "CURRENT ROW" and rows_frame:
            lo, hi = bm["lo"].strip(), bm["hi"].strip()
            segs = []
            if not re.fullmatch(r"CURRENT\s+ROW|0\s+PRECEDING", lo, re.I):
                segs.append(f"{fn}({arg}) OVER ({po} ROWS BETWEEN {lo}"
                            f" AND 1 PRECEDING)")
            if not re.fullmatch(r"CURRENT\s+ROW|0\s+FOLLOWING", hi, re.I):
                segs.append(f"{fn}({arg}) OVER ({po} ROWS BETWEEN"
                            f" 1 FOLLOWING AND {hi})")
            if not segs:  # frame was exactly the current row
                return f"(CASE WHEN FALSE THEN ({arg}) END)"
            if len(segs) == 1:
                return f"({segs[0]})"
            return f"{comb}({segs[0]}, {segs[1]})"
        if not rows_frame:  # RANGE-mode frames
            flist = f"COLLECT_LIST({arg}) OVER ({spec2})"
            if mode == "CURRENT ROW":
                lo = self._range_frame_lower(spec2, bm)
                if lo is not None:
                    # provably RANGE-mode: one-element slice cut at the
                    # current row's in-frame position — O(frame) per row
                    nn = self._range_kept_values_expr(arg, spec2, po, lo,
                                                      cut="self")
                    return f"{amin}({nn})"
                surv = (f"FILTER(ARRAY_DISTINCT({flist}), v ->"
                        f" (NOT (v <=> ({arg})))"
                        f" OR SIZE(FILTER({flist}, e -> e <=> v)) > 1)")
                return f"{amin}({surv})"
            lo = self._range_frame_lower(spec2, bm)
            if lo is not None:
                # GROUP/TIES under a provably RANGE-mode frame (round-12
                # second pass): position-slice the contiguous peer run out
                # — O(frame) per row, no per-value frame rescans
                nn = self._range_kept_values_expr(arg, spec2, po, lo)
                base = f"{amin}({nn})"
                return f"{comb}({base}, ({arg}))" if mode == "TIES" else base
            peers = f"{po} RANGE BETWEEN CURRENT ROW AND CURRENT ROW"
            plist = f"COLLECT_LIST({arg}) OVER ({peers})"
            surv = (f"FILTER(ARRAY_DISTINCT({flist}), v ->"
                    f" SIZE(FILTER({flist}, e -> e <=> v)) >"
                    f" SIZE(FILTER({plist}, e -> e <=> v)))")
            base = f"{amin}({surv})"
            return f"{comb}({base}, ({arg}))" if mode == "TIES" else base

        # GROUP / TIES under a ROWS frame: position-slice the frame list
        nn = self._rows_kept_values_expr(fn, arg, spec2, po,
                                         bm["lo"], bm["hi"])
        base = f"{amin}({nn})"
        return f"{comb}({base}, ({arg}))" if mode == "TIES" else base

    @staticmethod
    def _rows_first_pos_expr(ms: str, bm, po: str) -> "str | None":
        """1-based PARTITION position of a ROWS-mode frame's first row as
        a SQL expression, or None when the frame is not ROWS-mode or its
        lower bound is not a constant offset. Covers BETWEEN forms (the
        caller's frame match `bm`) and shorthand `ROWS k PRECEDING` (the
        shared anchored scanner). Used by the DISTINCT + EXCLUDE CURRENT
        ROW slice route (round 13): ROWS frames are position-defined, so
        the current row's in-frame index is plain arithmetic."""
        if bm is not None:
            if bm.group(1).upper() != "ROWS":
                return None
            lo = bm["lo"]
        else:
            fm = Engine._SHORTHAND_FRAME_RE.search(ms)
            if fm is None or fm.group("kw").upper() != "ROWS":
                return None
            lo = fm.group("lo")
        t = re.sub(r"\s+", " ", lo.strip().upper())
        pos = f"ROW_NUMBER() OVER ({po})"
        if t == "UNBOUNDED PRECEDING":
            return "1"
        if t in ("CURRENT ROW", "0 PRECEDING", "0 FOLLOWING"):
            return f"({pos})"
        km = re.fullmatch(r"(\d+) PRECEDING", t)
        if km:
            return f"GREATEST(1, {pos} - {km[1]})"
        return None

    def _rows_kept_values_expr(self, fn: str, arg: str, spec2: str,
                               po: str, lo: str, hi: str) -> str:
        """Non-NULL frame values SURVIVING an EXCLUDE GROUP under a ROWS
        frame with FINITE integer bounds, as position slices of a
        struct-wrapped frame list (shared by the MIN/MAX and DISTINCT
        exclusion rewrites). O(k1+k2+1) per row — bounded by the frame
        constants; UNBOUNDED sides raise."""
        def bound(text: str, side: str) -> int:
            t = re.sub(r"\s+", " ", text.strip().upper())
            if t == "CURRENT ROW":
                return 0
            km = re.fullmatch(rf"(\d+) {side}", t)
            if km:
                return int(km[1])
            raise ValueError(
                f"frame exclusion: {fn} with EXCLUDE GROUP/TIES under a "
                f"ROWS frame needs FINITE integer bounds, got {text!r} "
                "(an UNBOUNDED side would make the per-row frame array "
                "O(partition))")

        k1 = bound(lo, "PRECEDING")
        bound(hi, "FOLLOWING")  # finiteness validation; the right cut
        # itself needs only the frame count + last_peer below
        pos = f"ROW_NUMBER() OVER ({po})"
        fstart = f"GREATEST(1, {pos} - {k1})"
        return self._kept_values_expr(arg, spec2, po, fstart)

    # ONE shorthand-frame scanner shared by _window_po and
    # _range_frame_lower (ADVICE r12: two divergent scans — one without
    # re.S — could classify the same spec differently). Anchored to a real
    # frame-start token so an identifier named rows/range/groups inside
    # PARTITION BY/ORDER BY (`ORDER BY rows RANGE 10 PRECEDING`) can never
    # truncate the partition/order prefix mid-spec: after the keyword the
    # bound must open with UNBOUNDED / CURRENT / a number / INTERVAL.
    _SHORTHAND_FRAME_RE = re.compile(
        r"\b(?P<kw>ROWS|RANGE|GROUPS)\s+(?!BETWEEN\b)"
        r"(?=UNBOUNDED\b|CURRENT\b|\d|INTERVAL\b)(?P<lo>.+?)\s*$",
        re.I | re.S,
    )

    @staticmethod
    def _window_po(spec: str, ms: str, bm) -> str:
        """Partition/order prefix of a window spec — the frame clause cut
        off. BETWEEN forms use the caller's frame match; SHORTHAND frames
        (`RANGE 10 PRECEDING`) use the shared anchored scanner (round-12
        fix: the old `spec if not bm` left the shorthand clause inside
        `po`, so every derived window the exclusion rewrites appended
        became `... RANGE 10 PRECEDING RANGE BETWEEN ...` — a parse
        error). Positions found on the mask, slice from the original."""
        if bm:
            return spec[:bm.start()].rstrip()
        fm = Engine._SHORTHAND_FRAME_RE.search(ms)
        return spec[:fm.start()].rstrip() if fm else spec

    @staticmethod
    def _range_frame_lower(spec: str, bm) -> "str | None":
        """Original-text LOWER BOUND of a provably RANGE-mode frame —
        BETWEEN form (from the caller's frame match `bm`), shorthand
        `RANGE x PRECEDING`, or the default frame (no frame clause at
        all) — else None, sending the caller to the per-value multiset
        fallback (e.g. a frame shape this scanner cannot classify).
        Bounds are SLICED FROM THE ORIGINAL spec text: interval bounds
        contain string literals the caller's mask blanks out."""
        if bm is not None:
            if bm.group(1).upper() != "RANGE":
                return None
            return spec[bm.start("lo"):bm.end("lo")]
        ms = mask(spec)
        fm = Engine._SHORTHAND_FRAME_RE.search(ms)
        if fm:
            if fm.group("kw").upper() != "RANGE":
                return None
            return spec[fm.start("lo"):fm.end("lo")]
        if re.search(r"\b(ROWS|RANGE|GROUPS)\b", ms, re.I):
            return None  # unrecognized frame shape — multiset fallback
        return "UNBOUNDED PRECEDING"  # default frame: RANGE UNB..CURRENT

    def _range_kept_values_expr(self, arg: str, spec2: str, po: str,
                                lo: str, cut: str = "peers") -> str:
        """Non-NULL frame values SURVIVING an EXCLUDE GROUP (cut="peers")
        or EXCLUDE CURRENT ROW (cut="self") under a RANGE-mode frame
        (incl. the default frame), as position slices (round 12, second
        pass): peers form a CONTIGUOUS run in row order whose in-frame
        interval the COUNT prefixes locate, so the kept multiset needs
        no per-value rescans — O(frame) per row instead of the multiset
        count-comparison's O(frame x distinct). The frame's first-row
        position comes from the lower bound: UNBOUNDED PRECEDING pins it
        at 1; any other RANGE lower bound satisfies `fstart = last_peer
        + 1 - COUNT(*) over [lo..CURRENT ROW]` because a RANGE frame's
        CURRENT ROW upper edge is the peer-group END."""
        t = re.sub(r"\s+", " ", lo.strip().upper())
        if t == "UNBOUNDED PRECEDING":
            fstart = "1"
        else:
            le = f"{po} RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
            last_peer = f"COUNT(*) OVER ({le})"
            thru = f"COUNT(*) OVER ({po} RANGE BETWEEN {lo} AND CURRENT ROW)"
            fstart = f"({last_peer} + 1 - {thru})"
        return self._kept_values_expr(arg, spec2, po, fstart, cut)

    def _kept_values_expr(self, arg: str, spec2: str, po: str,
                          fstart: str, cut: str = "peers") -> str:
        """Shared slice core: non-NULL frame values with a contiguous run
        cut out, given `fstart` — the 1-based PARTITION position of the
        frame's first row. cut="peers" removes the whole peer-group run
        (EXCLUDE GROUP/TIES); cut="self" removes only the current row's
        own element (EXCLUDE CURRENT ROW — a one-element run). Why the
        "self" cut is sound: every derived window here (the COLLECT_LIST,
        ROW_NUMBER and COUNT prefixes) shares the spec's partition/order,
        so they evaluate over ONE sorted stream inside the same Window
        operator — the in-frame index `pos - fstart + 1` therefore
        addresses exactly the element COLLECT_LIST appended for the
        current row, regardless of how ties are ordered (peers share the
        ORDER key, not necessarily the aggregate argument; positional
        consistency, not value identity, is the invariant). The run's
        1-based in-frame interval [A+1, B] comes from the same
        ROW_NUMBER/COUNT prefixes _rows_group_exclusion_expr uses; the
        struct wrap keeps bare-NULL rows so the index arithmetic never
        shifts. All windows share the spec's partition/order — one
        Window operator."""
        fl = f"COLLECT_LIST(NAMED_STRUCT('v', {arg})) OVER ({spec2})"
        if cut == "self":
            pos = f"ROW_NUMBER() OVER ({po})"
            a_ = f"({pos} - {fstart})"
            b_ = f"({pos} - {fstart} + 1)"
        else:
            le = f"{po} RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
            peers = f"{po} RANGE BETWEEN CURRENT ROW AND CURRENT ROW"
            fcnt = f"COUNT(*) OVER ({spec2})"
            last_peer = f"COUNT(*) OVER ({le})"
            first_peer = f"({last_peer} - COUNT(*) OVER ({peers}) + 1)"
            a_ = f"GREATEST(0, {first_peer} - {fstart})"
            b_ = (f"(LEAST({last_peer}, {fstart} + {fcnt} - 1)"
                  f" - {fstart} + 1)")
        fcnt2 = f"COUNT(*) OVER ({spec2})"
        vals = (f"CONCAT(SLICE({fl}, 1, {a_}),"
                f" SLICE({fl}, {b_} + 1, GREATEST(0, {fcnt2} - {b_})))")
        return f"FILTER(TRANSFORM({vals}, s -> s.v), x -> x IS NOT NULL)"

    def _star_modifiers_sql(self, stmt: str) -> DataFrame:
        """`SELECT * EXCLUDE (cols) [REPLACE (expr AS col, ...)]` (DuckDB
        star modifiers; the reference projects explicit column lists only,
        projection.hpp). Rewrite: expand `*` against the FROM clause's
        analyzed schema (a LIMIT 0 analysis — no execution, no scan), drop
        EXCLUDE'd names, substitute REPLACE expressions in position, then
        run the explicit projection. Column pruning then reaches the scan
        exactly as if the user had typed the list — EXCLUDE'd columns are
        never read. Oracle: DuckDB runs the SAME text natively."""
        m = re.match(
            r"^\s*SELECT\s+(?P<d>DISTINCT\s+)?\*\s+"
            r"(?:EXCLUDE\s*(?:\((?P<ex>[^)]*)\)|(?P<ex1>\w+))\s*)?"
            r"(?:REPLACE\s*\(\s*(?P<rep>.*?)\s*\)\s+)?FROM\s",
            stmt, re.I | re.S)
        if not m or (m["ex"] is None and m["ex1"] is None
                     and m["rep"] is None):
            raise ValueError(
                "star modifiers: supported shape is SELECT [DISTINCT] * "
                "EXCLUDE (c1, ...) [REPLACE (expr AS c, ...)] FROM ...")
        rest = stmt[m.end() - len("FROM "):]
        # schema of the FROM part only (strip trailing clauses; WHERE etc.
        # cannot change the column set)
        src = rest[len("FROM"):]
        for kw in ("WHERE", "GROUP", "ORDER", "LIMIT"):
            k = find_top_level(src, kw)
            if k != -1:
                src = src[:k]
        cols = self.spark.sql(f"SELECT * FROM {src} LIMIT 0").columns
        excluded = {c.strip().strip('"').lower()
                    for c in (m["ex"] or m["ex1"] or "").split(",")
                    if c.strip()}
        unknown = excluded - {c.lower() for c in cols}
        if unknown:
            raise ValueError(f"EXCLUDE: no such column(s): {sorted(unknown)}")
        repl = {}
        for part in split_top_level(m["rep"] or ""):
            rm = re.match(r"^(?P<expr>.+)\s+AS\s+(?P<col>\w+)\s*$",
                          part.strip(), re.I | re.S)
            if not rm:
                raise ValueError(f"REPLACE: expected `expr AS col`: {part!r}")
            if rm["col"].lower() not in {c.lower() for c in cols}:
                raise ValueError(f"REPLACE: no such column: {rm['col']}")
            repl[rm["col"].lower()] = rm["expr"].strip()
        sel = ", ".join(
            f"{repl[c.lower()]} AS `{c}`" if c.lower() in repl else f"`{c}`"
            for c in cols if c.lower() not in excluded)
        return self.spark.sql(f"SELECT {m['d'] or ''}{sel} {rest}")

    # -- correlated columns in a subquery's SELECT list ---------------------
    # Reference corpus lines 385-386 (sqlite_testrunner_queries.sql) put an
    # OUTER column inside a scalar subquery's projection:
    #     SELECT (SELECT MAX(b) + t.a FROM mixed) FROM t
    # The reference executes this through its correlated-parameter path
    # (sql_translator.cpp, correlated_parameter_expression.hpp); Spark
    # allows correlation only in predicates. Since the outer reference is
    # constant per outer row, additive outer terms hoist out of the
    # subquery unchanged:  (SELECT agg ± outer FROM s) ≡
    # ((SELECT agg FROM s) ± outer)  — exact also for the empty-subquery
    # case (NULL ± x = NULL). The rewrite requires the remaining
    # projection to contain an aggregate and the subquery to have no
    # GROUP BY, so the subquery returns exactly one row and the identity
    # holds in every context (projection, predicate, IN-list).
    _AGG_FN_RE = re.compile(
        r"\b(?:MIN|MAX|SUM|AVG|COUNT|STDDEV(?:_SAMP|_POP)?"
        r"|VAR(?:IANCE|_SAMP|_POP)?|ANY_VALUE|FIRST|LAST)\s*\(",
        re.I,
    )
    _FROM_CLAUSE_KEYWORDS = frozenset(
        "JOIN INNER LEFT RIGHT FULL OUTER CROSS SEMI ANTI NATURAL "
        "LATERAL ON AS USING AND OR NOT ASOF".split()
    )

    def _rewrite_correlated_scalar_projection(self, stmt: str) -> str:
        """Hoist qualified outer-column terms out of scalar-subquery
        projections (text-level, paren-balanced, innermost-first)."""
        out, i = stmt, 0
        while True:
            sm = _SUBQUERY_RE.search(mask(out), i)
            if sm is None:
                return out
            popen = sm.start()
            pclose = match_paren(out, popen)
            if pclose == -1:
                return out
            # derived tables / IN-lists after FROM are not scalar contexts
            before = out[:popen].rstrip()
            prev_word = re.search(r"(\w+)$", before)
            if prev_word and prev_word[1].upper() in (
                # derived table / quantified contexts: the paren must keep
                # enclosing a relation, not become a scalar expression
                "FROM", "JOIN", "LATERAL", "EXISTS", "ANY", "ALL", "SOME",
            ):
                i = popen + 1
                continue
            sub = out[popen + 1:pclose]
            rewritten = self._hoist_outer_terms(
                self._rewrite_correlated_scalar_projection(sub))
            if rewritten != sub:
                out = out[:popen + 1] + rewritten + out[pclose:]
            i = popen + 1 + len(rewritten) + 1

    def _hoist_outer_terms(self, sub: str) -> str:
        m = re.match(r"^\s*SELECT\s+", sub, re.I)
        if not m or re.match(r"^\s*SELECT\s+DISTINCT\b", sub, re.I):
            return sub
        f = find_top_level(sub, "FROM")
        if f == -1 or find_top_level(sub, "GROUP", f) != -1:
            return sub
        for setop in ("UNION", "INTERSECT", "EXCEPT"):
            if find_top_level(sub, setop, f) != -1:
                return sub
        proj, rest = sub[m.end():f], sub[f:]
        if len(split_top_level(proj)) != 1:
            return sub  # multi-column subquery is never scalar
        # the subquery's own relation names/aliases: every identifier in
        # its FROM clause text (conservative — a false "internal" match
        # just leaves the statement unrewritten, failing as before)
        clause_end = len(rest)
        for kw in ("WHERE", "HAVING", "ORDER", "LIMIT"):
            k = find_top_level(rest, kw)
            if k != -1:
                clause_end = min(clause_end, k)
        own = {
            t.upper()
            for t in re.findall(r"[A-Za-z_]\w*", rest[len("FROM"):clause_end])
        } - self._FROM_CLAUSE_KEYWORDS
        # drop one trailing top-level alias (unobservable on a scalar sub)
        alias = re.search(r"\s+AS\s+[A-Za-z_]\w*\s*$", proj, re.I)
        if alias and find_top_level(proj, "AS", alias.start()) != -1:
            proj = proj[:alias.start()]
        # additive hoisting is only sound over a pure +/- expression: a
        # top-level comparison / logical / concat operator (ADVICE r10:
        # `MAX(b) > 5 - t.a` must NOT become `(MAX(b) > 5) - t.a`) binds
        # LOOSER than +/-, so moving a term across it inverts precedence.
        # Bail and let Spark report the correlation as unsupported.
        if self._has_top_level_comparison(proj):
            return sub
        terms = self._split_additive_terms(proj)
        hoisted, kept = [], []
        for sign, text in terms:
            qc = re.match(r"^\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*$", text)
            if qc and qc[1].upper() not in own:
                hoisted.append((sign, text.strip()))
            else:
                kept.append((sign, text))
        if not hoisted or not kept:
            return sub
        remaining = "".join(
            (s if n or s == "-" else "") + t
            for n, (s, t) in enumerate(kept)
        )
        if not self._AGG_FN_RE.search(mask(remaining)):
            return sub
        tail = "".join(f" {s} {t}" for s, t in hoisted)
        # the caller re-wraps in the original parens, so this yields
        # ((SELECT agg FROM ...) ± outer ...) — a parenthesized expression
        return f"(SELECT {remaining.strip()} {rest}){tail}"

    @staticmethod
    def _has_top_level_comparison(s: str) -> bool:
        """True when `s` contains, outside parens and string literals, any
        operator that binds looser than +/- : comparisons (= < > <> != etc.),
        string concat ||, or the logical/predicate keywords. Guard for
        `_hoist_outer_terms` (ADVICE r10)."""
        top, depth = [], 0
        for ch in mask(s):
            depth += (ch == "(") - (ch == ")")
            top.append(ch if depth == 0 and ch not in "()" else " ")
        top = "".join(top)
        if re.search(r"[=<>!]|\|\|", top):
            return True
        return bool(re.search(
            r"\b(?:AND|OR|NOT|LIKE|ILIKE|IS|IN|BETWEEN|EXISTS)\b", top, re.I))

    @staticmethod
    def _split_additive_terms(s: str) -> list[tuple[str, str]]:
        """Split at top-level binary +/- into (sign, text) pairs; a +/-
        directly after another operator or at the start is unary and stays
        inside its term."""
        terms, depth, start, sign, prev = [], 0, 0, "+", ""
        for i, ch in enumerate(mask(s)):
            depth += (ch == "(") - (ch == ")")
            if (ch in "+-" and depth == 0
                    and prev not in ("", "+", "-", "*", "/", "%", "(", ",")):
                terms.append((sign, s[start:i]))
                sign, start = ch, i + 1
            if not ch.isspace():
                prev = ch
        terms.append((sign, s[start:]))
        return terms

    # -- transactions (transaction_manager.hpp analog on the version ring) --
    # The reference's TransactionContext tracks read/write sets against MVCC
    # begin/end commit-ids; rolling back marks the written rows invalid
    # (abort.hpp). This engine's tables are immutable snapshot chains
    # (catalog.history), so the equivalent is structural: BEGIN pins the
    # catalog/engine state (dict-of-references — lazy plans, no data copy),
    # ROLLBACK restores the pin and the in-transaction history versions
    # simply cease to exist (exactly "never committed"), COMMIT releases it.
    # Physical side effects are NOT transactional, same as the reference:
    # COPY TO/Export files and compaction rewrites stay on disk (a rolled-
    # back compaction's file is queued for purge_compaction_trail).
    def _snapshot(self, copy: bool = True) -> dict:
        """Pin the catalog/engine state: dicts of references to lazy,
        immutable DataFrame plans — no data is copied. copy=False hands back
        the live containers themselves (see _install)."""
        own = _shallow_copy if copy else (lambda x: x)
        return {
            "catalog": self.catalog.state(copy),
            "compact_trash": own(self.catalog._compact_trash),
            "functions": own(self._functions),
            "matviews": own(self._matviews),
            "prepared": own(self._prepared),
        }

    def _install(self, snap: dict, copy: bool = True) -> None:
        """Put the catalog/engine at `snap` and bring Spark's session
        registry in line with it. ROLLBACK and ROLLBACK TO SAVEPOINT install
        their pin (abort.hpp analog: every statement applied since the pin
        un-happens, _restore). A read from another connection while a
        transaction is open installs the BEGIN pin, dispatches, and installs
        the live state back (_snapshot_read): the reference's Validate
        visibility, where every scan validates row versions against the
        snapshot commit-id so a concurrent reader sees committed state only
        (validate.hpp:20, transaction_manager.hpp). `spark.sql` analyzes
        eagerly, so the read's DataFrame has the pinned plans baked in and
        stays valid after the swap back and after the owner's COMMIT or
        ROLLBACK: every pinned plan is immutable.

        Only what differs from the state being replaced is touched: temp
        views and temp functions `snap` lacks are dropped, tables whose plan
        is not the identical object are re-registered, views whose SQL
        changed or that mention a changed name re-resolve, and SQL function
        bodies that differ re-run. The cost is therefore O(objects the
        transaction touched), not O(catalog) (measured: the naive
        re-register-everything form cost ~4.5 ms/table — 1.8 s to roll back
        a no-op transaction in a 400-table catalog).

        A pin is installed as a copy, so it can be installed again (the next
        snapshot read, a second ROLLBACK TO the same savepoint). copy=False
        installs `snap`'s own containers: for the live state a snapshot read
        sets aside with `_snapshot(copy=False)` and puts back once."""
        cat = self.catalog
        own = _shallow_copy if copy else (lambda x: x)
        old_tables, old_views, old_fns = cat._tables, cat._views, self._functions
        cat.set_state(snap["catalog"], copy)
        self._functions = own(snap["functions"])
        self._matviews = own(snap["matviews"])
        self._prepared = own(snap["prepared"])
        for name in ((old_tables.keys() | old_views.keys())
                     - cat._tables.keys() - cat._views.keys()):
            self.spark.catalog.dropTempView(name)
        for name in old_fns.keys() - self._functions.keys():
            self.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
        changed = [
            n for n, df in cat._tables.items() if old_tables.get(n) is not df
        ]
        for name in changed:
            cat._tables[name].createOrReplaceTempView(name)
        cat.refresh_views(changed + [
            v for v, sql in cat._views.items() if old_views.get(v) != sql
        ])
        for name, create_sql in list(self._functions.items()):
            if old_fns.get(name) != create_sql:
                self._dispatch(create_sql, None)

    def _restore(self, snap: dict) -> None:
        """ROLLBACK [TO SAVEPOINT]: settle the compaction trash against the
        pin, then install it. The install swaps tables, views and functions
        at once, which no table version follows, so the plan-cache epoch
        moves here (a rollback on connection teardown comes here without
        passing _execute_one)."""
        cat = self.catalog
        cat.bump_epoch()
        pinned_paths = snap["catalog"]["compact_paths"]
        # Trash is restored from the pin so paths a DROP TABLE (or trail
        # eviction) queued DURING the transaction do not survive the
        # rollback — the restored table's plans still read those files, and
        # a later purge_compaction_trail would rmtree data the user believes
        # was never dropped. Then: a compaction file WRITTEN since the pin
        # is unreferenced after restore — queue it for the physical purge.
        restored_refs = {p for trail in pinned_paths.values() for p in trail}
        snap_trash = set(snap["compact_trash"])
        trash = list(snap["compact_trash"])
        # files queued pre-txn stay queued; files queued during the txn stay
        # queued only if the restore does not re-reference them
        trash.extend(
            p for p in cat._compact_trash
            if p not in snap_trash and p not in restored_refs
        )
        for t, trail in cat.compact_paths.items():
            kept = set(pinned_paths.get(t, []))
            trash.extend(
                p for p in trail if p not in kept and p not in restored_refs
            )
        cat._compact_trash = trash
        self._install(snap)

    # -- committed-only reads for concurrent connections ---------------------
    def _snapshot_read(self, route: Route, args) -> DataFrame | None:
        """Resolve a non-owner connection's read against the BEGIN pin
        instead of the live catalog (see _install)."""
        # the live containers are set aside, not copied: the pin's copy is
        # what the read can touch, and live goes back exactly once
        live = self._snapshot(copy=False)
        self._in_snap_read = True
        try:
            self._install(self._txn["snap"])
            return self._dispatch(route.text, args, route)
        finally:
            self._in_snap_read = False
            self._install(live, copy=False)

    def _begin(self) -> None:
        if self._txn is not None:
            # postgres behavior: WARNING, transaction already in progress
            warnings.warn("there is already a transaction in progress",
                          stacklevel=4)
            return
        self._txn = {"snap": self._snapshot(), "savepoints": [],
                     "owner": self._owner_token()}

    def _commit(self) -> None:
        if self._txn is None:
            warnings.warn("there is no transaction in progress", stacklevel=4)
            return
        self._txn = None  # everything inside is already applied — release
        with self._txn_cv:
            self._txn_cv.notify_all()  # wake writers queued on lock_timeout

    def _rollback(self) -> None:
        if self._txn is None:
            warnings.warn(
                "ROLLBACK outside a transaction: nothing to abort (statements "
                "outside BEGIN run autocommit and are already applied)",
                stacklevel=4,
            )
            return
        txn, self._txn = self._txn, None
        self._restore(txn["snap"])
        with self._txn_cv:
            self._txn_cv.notify_all()  # wake writers queued on lock_timeout

    # -- savepoints (SQL:1999 feature T271; postgres SAVEPOINT semantics) ---
    # A savepoint is just another pin on the stack: ROLLBACK TO restores it
    # and discards LATER savepoints but keeps the named one established
    # (postgres semantics); RELEASE drops it and everything after without
    # touching state. Outside a transaction block all three error, like pg.
    def _savepoint(self, r: Route, args) -> None:
        if self._txn is None:
            raise ValueError("SAVEPOINT can only be used in transaction blocks")
        self._txn["savepoints"].append((r.match["name"].lower(), self._snapshot()))

    def _find_savepoint(self, name: str) -> int:
        sps = self._txn["savepoints"] if self._txn else []
        for i in range(len(sps) - 1, -1, -1):
            if sps[i][0] == name.lower():
                return i
        raise ValueError(f"savepoint {name!r} does not exist")

    def _rollback_to_savepoint(self, r: Route, args) -> None:
        if self._txn is None:
            raise ValueError(
                "ROLLBACK TO SAVEPOINT can only be used in transaction blocks"
            )
        i = self._find_savepoint(r.match["name"])
        self._restore(self._txn["savepoints"][i][1])
        del self._txn["savepoints"][i + 1:]  # the named one stays established

    def _release_savepoint(self, r: Route, args) -> None:
        if self._txn is None:
            raise ValueError(
                "RELEASE SAVEPOINT can only be used in transaction blocks"
            )
        i = self._find_savepoint(r.match["name"])
        del self._txn["savepoints"][i:]

    # -- DML (Insert/Delete/Update operators, SURVEY.md §2.8) ---------------
    # The reference mutates MVCC chunks in place (insert.hpp:17-22,
    # delete.hpp:14-18, update.hpp:17-27 delete+insert composite); here DML is
    # single-statement autocommit over immutable DataFrames: each statement
    # derives a new DataFrame and re-registers the table — a snapshot
    # semantics equivalent for the autocommit case (SURVEY.md §7 risk 6).
    # At warehouse scale this maps 1:1 onto a table format's MERGE/append.
    def _apply_dml(self, table: str, df: DataFrame, affected=None,
                   returning: str | None = None, args=None) -> DataFrame | None:
        """Install `df` as `table`'s new state; the RETURNING frame over
        `affected` if one is asked for. Then the MvccDeletePlugin analog
        (mvcc_delete_plugin.hpp:21-32): once the snapshot-DML lineage depth
        crosses the threshold, physically compact the table inline on the
        commit path (the plugin's logical+physical delete collapse into one
        parquet rewrite here; see catalog.py)."""
        from hyrise_spark.catalog import COMPACT_THRESHOLD_DML_DEPTH

        self.catalog.replace_table(table, df)
        if self.catalog.note_dml(table) >= COMPACT_THRESHOLD_DML_DEPTH:
            self.catalog.compact_table(table)
        return self._returning_frame(affected, returning, args) if returning else None

    def _split_returning(self, text: str | None) -> tuple[str | None, str | None]:
        """Split a DML statement tail at a top-level RETURNING clause
        (postgres/DuckDB dialect): -> (head, returning-list | None).
        Quote-/paren-aware via find_top_level, so a literal containing the
        word is untouched."""
        if not text:
            return text, None
        i = find_top_level(text, "RETURNING")
        if i == -1:
            return text, None
        return text[:i].rstrip() or None, text[i + len("RETURNING"):].strip()

    def _returning_frame(self, affected: DataFrame, returning: str, args) -> DataFrame:
        """Project the RETURNING list over the affected-rows frame. The frame
        is a lazy plan over the PRE-replace snapshot (post-image for
        INSERT/UPDATE, old image for DELETE) — immutable, so evaluating the
        result after the table swap still reads the right rows."""
        rv = f"{self._sv}_ret"
        affected.createOrReplaceTempView(rv)
        kw = {"args": args} if args else {}
        return self.spark.sql(f"SELECT {returning} FROM {rv}", **kw)

    def _insert(self, table: str, rest: str, args=None, returning: str | None = None):
        if table.lower() == "meta_settings":
            return self._change_meta_settings("insert", rest=rest)
        if table.lower() == "meta_exec":
            return self._exec_meta_function(rest)
        import pyspark.sql.functions as F

        if not self.catalog.has_table(table):
            raise ValueError(f"INSERT target table {table!r} is not registered")
        cur = self.catalog.get_table(table)
        rest = rest.strip()
        # optional explicit column list: INSERT INTO t (b, id, ...) VALUES/SELECT
        # — values bind to the NAMED columns in the given order; unmentioned
        # columns become NULL (insert.hpp routing / standard SQL)
        target_cols, rest = _insert_columns(rest)
        unknown = [c for c in target_cols or () if c not in cur.columns]
        if unknown:
            raise ValueError(f"INSERT column(s) {unknown} not in {table}")
        # parameter markers (?/:name) bind through spark.sql's args — keeps
        # parameterized DML working via pg-wire Bind and PREPARE/EXECUTE
        kw = {"args": args} if args else {}
        bn = re.match(r"^BY\s+NAME\s+(?P<rest>.+)$", rest, re.I | re.S)
        if bn:
            # INSERT INTO t BY NAME SELECT ... (DuckDB dialect): the
            # SELECT's own output names pick the target columns — order is
            # irrelevant, unmentioned columns become NULL. Equivalent to an
            # explicit column list spelled by the source.
            rest = bn["rest"].strip()
            if rest.upper().startswith("VALUES"):
                raise ValueError(
                    "INSERT BY NAME requires a SELECT source (VALUES rows "
                    "carry no column names)")
            sel = self.spark.sql(rest, **kw)
            canon = {c.lower(): c for c in cur.columns}
            unknown = [c for c in sel.columns if c.lower() not in canon]
            if unknown:
                raise ValueError(
                    f"INSERT BY NAME column(s) {unknown} not in {table}")
            target_cols = [canon[c.lower()] for c in sel.columns]
            new_rows = sel.toDF(*target_cols)
        else:  # VALUES rows, or INSERT INTO t SELECT ...
            src = f"SELECT * FROM ({rest})" if rest.upper().startswith("VALUES") else rest
            new_rows = self.spark.sql(src, **kw).toDF(*(target_cols or cur.columns))
        if _NONDET_RE.search(rest):
            # pin the roll: the unioned table state and the RETURNING frame
            # must see the same generated rows, and later scans must not
            # re-roll them
            new_rows = new_rows.localCheckpoint(eager=True)
        if target_cols:
            for fld in cur.schema.fields:
                if fld.name not in target_cols:
                    new_rows = new_rows.withColumn(
                        fld.name, F.lit(None).cast(fld.dataType)
                    )
            new_rows = new_rows.select(*cur.columns)
        # new_rows is the schema-aligned post-image RETURNING reads
        return self._apply_dml(table, cur.unionByName(new_rows), new_rows,
                               returning, args)

    def _insert_on_conflict(self, table: str, head: str, conflict: str, args):
        """INSERT ... ON CONFLICT (keys) DO NOTHING | DO UPDATE SET ...
        (postgres/DuckDB upsert dialect) — rewritten onto MERGE INTO: the
        source is the VALUES/SELECT frame aliased `excluded`, so the
        standard `excluded.col` references in DO UPDATE resolve naturally;
        DO NOTHING drops the WHEN MATCHED clause. Inherits MERGE's ANSI
        cardinality check (a source key matching twice errors, like
        DuckDB's duplicate-upsert error)."""
        cm = re.match(
            r"^CONFLICT\s*\(\s*(?P<keys>\w+(?:\s*,\s*\w+)*)\s*\)\s*"
            r"DO\s+(?:(?P<nothing>NOTHING)|UPDATE\s+SET\s+(?P<sets>.+))\s*$",
            conflict, re.I | re.S,
        )
        if not cm:
            raise ValueError(
                "ON CONFLICT: supported shape is ON CONFLICT (<cols>) "
                "DO NOTHING | DO UPDATE SET <assignments>"
            )
        keys = [c.strip() for c in cm["keys"].split(",")]
        cur = self.catalog.get_table(table)
        target_cols, head = _insert_columns(head.strip())
        names = target_cols or cur.columns
        missing = [k for k in keys if k not in names]
        if missing:
            raise ValueError(f"ON CONFLICT key(s) {missing} not in the insert list")
        src = f"(SELECT * FROM ({head}) AS __v({', '.join(names)}))"
        on = " AND ".join(f"{table}.{k} = excluded.{k}" for k in keys)
        clauses = ""
        if cm["sets"]:
            clauses = f" WHEN MATCHED THEN UPDATE SET {cm['sets']}"
        clauses += (
            f" WHEN NOT MATCHED THEN INSERT ({', '.join(names)}) "
            f"VALUES ({', '.join('excluded.' + c for c in names)})"
        )
        return self._merge(table, None, f"{src} excluded ON {on}{clauses}")

    def _delete(self, table: str, cond: str | None, args=None,
                returning: str | None = None):
        if table.lower() == "meta_settings":
            return self._change_meta_settings("delete", cond=cond)
        cur = self.catalog.get_table(table)
        if cond is None:  # every (old) row is deleted
            return self._apply_dml(table, cur.limit(0), cur, returning, args)
        # SQL deletes only rows where the condition is TRUE; rows where it
        # evaluates to NULL must be KEPT (3VL — delete.hpp:14-18 operates on a
        # Validate output whose scan already dropped NULL matches). Routed
        # through spark.sql over a snapshot view so the predicate may contain
        # scalar subqueries (spark.sql resolves the view eagerly, so later
        # reuse of the view name cannot retarget this plan).
        src = f"{self._sv}_dml_src"
        cur.createOrReplaceTempView(src)
        kw = {"args": args} if args else {}
        if _NONDET_RE.search(cond):
            # pin the random roll: one materialized evaluation feeds BOTH the
            # new table state and the RETURNING frame
            tagged = self.spark.sql(
                f"SELECT *, COALESCE(({cond}), FALSE) AS __hs_hit "
                f"FROM {src} AS {table}", **kw
            ).localCheckpoint(eager=True)
            kept = tagged.filter("NOT __hs_hit").drop("__hs_hit")
            removed = tagged.filter("__hs_hit").drop("__hs_hit")
        else:
            kept = self.spark.sql(
                f"SELECT * FROM {src} AS {table}"
                f" WHERE NOT COALESCE(({cond}), FALSE)",
                **kw,
            )
            removed = None
            if returning:  # old image of the rows the predicate removed
                removed = self.spark.sql(
                    f"SELECT * FROM {src} AS {table}"
                    f" WHERE COALESCE(({cond}), FALSE)",
                    **kw,
                )
        return self._apply_dml(table, kept, removed, returning, args)

    def _update(self, table: str, sets: str, cond: str | None, args=None,
                returning: str | None = None):
        if table.lower() == "meta_settings":
            return self._change_meta_settings("update", sets=sets, cond=cond)
        cur = self.catalog.get_table(table)
        assignments: dict[str, str] = {}
        for part in split_top_level(sets):
            col, expr = part.split("=", 1)
            assignments[col.strip()] = expr.strip()
        # Build one SELECT over a snapshot view: CASE keeps 3VL (NULL match ->
        # old value), and going through spark.sql lets assignments and the
        # condition contain scalar subqueries (TPC-C Delivery's
        # `SET c_balance = c_balance + (SELECT ...)`), which F.expr cannot.
        # The snapshot view is aliased AS the target table name, so
        # CORRELATED subqueries referencing it (postgres-style
        # `SET v = (SELECT MAX(x) FROM s WHERE s.k = t.k)`) resolve against
        # the pre-update snapshot — standard UPDATE visibility.
        match = f"COALESCE(({cond}), FALSE)" if cond else "TRUE"
        cols = ", ".join(
            f"CASE WHEN {match} THEN ({assignments[c]}) ELSE {c} END AS {c}"
            if c in assignments
            else c
            for c in cur.columns
        )
        src = f"{self._sv}_dml_src"
        cur.createOrReplaceTempView(src)
        kw = {"args": args} if args else {}
        if _NONDET_RE.search(sets) or (cond and _NONDET_RE.search(cond)):
            # pin the roll once: the hit flag is computed in an inner
            # projection (one evaluation per row — the plain CASE form would
            # re-roll the predicate per assigned column), then the whole
            # frame is checkpointed so table state and RETURNING agree
            cols_hit = ", ".join(
                f"CASE WHEN __hs_hit THEN ({assignments[c]}) ELSE {c} END AS {c}"
                if c in assignments
                else c
                for c in cur.columns
            )
            tagged = self.spark.sql(
                f"SELECT {cols_hit}, __hs_hit FROM "
                f"(SELECT *, {match} AS __hs_hit FROM {src}"
                f" AS {table})", **kw
            ).localCheckpoint(eager=True)
            updated = tagged.drop("__hs_hit")
            affected = tagged.filter("__hs_hit").drop("__hs_hit")
        else:
            updated = self.spark.sql(
                f"SELECT {cols} FROM {src} AS {table}", **kw)
            affected = None
            if returning:
                # post-image of matched rows: WHERE evaluates on the OLD
                # columns (FROM scope), the select list the new values
                affected = self.spark.sql(
                    f"SELECT {cols} FROM {src} AS {table}"
                    f" WHERE {match}", **kw
                )
        return self._apply_dml(table, updated, affected, returning, args)

    # -- time travel (`<table> VERSION AS OF <n>`, mvcc_data.hpp analog) ----
    def _resolve_versions(self, stmt: str) -> str:
        """Substitute every `<table> VERSION AS OF <n>` with a registered
        snapshot view (aliased back to the table name, or to the user's
        alias if one follows), so versioned reads work anywhere a table
        reference can appear."""

        def sub(m: "re.Match[str]") -> str:
            t, v = m["t"], int(m["v"])
            df = self.catalog.get_version(t, v)
            view = f"__hs_v_{t}_{v}"
            df.createOrReplaceTempView(view)
            return f"{view} AS {m['a'] or t}"

        # substitute only OUTSIDE string literals — the phrase inside a
        # quoted literal is data, not a table reference
        return sub_outside(_VERSION_RE, sub, stmt)

    # -- ALTER TABLE (beyond the reference, whose dialect has no ALTER —
    # sql_translator.cpp handles no hsql::kStmtAlter; standard warehouse
    # schema evolution a switching user expects). Snapshot semantics like
    # the other DDL: the altered schema applies from this statement on.
    def _alter(self, r: Route, args):
        import pyspark.sql.functions as F

        table, action = r.match["table"], r.match["action"]
        if not self.catalog.has_table(table):
            raise ValueError(f"ALTER TABLE target {table!r} is not registered")
        cur = self.catalog.get_table(table)
        action = action.strip()
        type_map = {"VARCHAR": "STRING", "TEXT": "STRING", "INTEGER": "INT"}
        m = re.match(
            r"^ADD\s+COLUMN\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<col>\w+)\s+"
            r"(?P<typ>\w+(?:\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
            r"(?:\s+DEFAULT\s+(?P<dflt>.+?))?\s*$",
            action,
            re.I | re.S,
        )
        if m:
            col = m["col"]
            if col in cur.columns:
                if re.search(r"IF\s+NOT\s+EXISTS", action, re.I):
                    return None
                raise ValueError(f"column {col!r} already exists in {table}")
            typ = type_map.get(m["typ"].upper(), m["typ"])
            expr = f"CAST({m['dflt'] if m['dflt'] else 'NULL'} AS {typ})"
            self.catalog.replace_table(table, cur.withColumn(col, F.expr(expr)))
            return None
        m = re.match(
            r"^DROP\s+COLUMN\s+(?:IF\s+EXISTS\s+)?(?P<col>\w+)\s*$", action, re.I
        )
        if m:
            if m["col"] not in cur.columns:
                if re.search(r"IF\s+EXISTS", action, re.I):
                    return None
                raise ValueError(f"column {m['col']!r} not in {table}")
            self.catalog.replace_table(table, cur.drop(m["col"]))
            return None
        m = re.match(
            r"^RENAME\s+COLUMN\s+(?P<old>\w+)\s+TO\s+(?P<new>\w+)\s*$", action, re.I
        )
        if m:
            if m["old"] not in cur.columns:
                raise ValueError(f"column {m['old']!r} not in {table}")
            self.catalog.replace_table(
                table, cur.withColumnRenamed(m["old"], m["new"])
            )
            return None
        m = re.match(r"^RENAME\s+TO\s+(?P<new>\w+)\s*$", action, re.I)
        if m:
            if self.catalog.has_table(m["new"]) or self.catalog.has_view(m["new"]):
                raise ValueError(f"table/view {m['new']!r} already exists")
            self.catalog.rename_table(table, m["new"])
            if table in self._matviews:  # keep REFRESH/DROP working post-rename
                self._matviews[m["new"]] = self._matviews.pop(table)
            return None
        raise ValueError(f"ALTER TABLE: unsupported action {action!r}")

    # -- MERGE (SQL:2003 F312) ----------------------------------------------
    # Beyond the reference's dialect (its sql_translator.cpp has no MERGE);
    # the reference's Update operator is itself the delete+insert composite
    # (update.hpp:17-27) that a MERGE's WHEN MATCHED branch lowers to, so
    # this is the natural router extension. Supported subset: one WHEN
    # MATCHED [AND guard] THEN UPDATE SET ... | DELETE, plus one WHEN NOT
    # MATCHED THEN INSERT [(cols)] VALUES (...). Snapshot semantics like the
    # other DML verbs: every branch reads the pre-merge target state.
    def _merge(self, table: str, talias: str | None, rest: str):
        if not self.catalog.has_table(table):
            raise ValueError(f"MERGE target table {table!r} is not registered")
        rest = rest.strip()
        if rest.startswith("("):
            end = match_paren(rest, 0) + 1
            if end == 0:
                raise ValueError("MERGE: unbalanced parentheses in USING source")
            src, rest = rest[:end], rest[end:].lstrip()
        else:
            m = re.match(r"^\w+", rest)
            if not m:
                raise ValueError("MERGE: expected a USING source")
            src, rest = m.group(0), rest[m.end() :].lstrip()
        salias = None
        m = re.match(r"^(?:AS\s+)?(?!ON\b)(\w+)", rest, re.I)
        if m:
            salias, rest = m.group(1), rest[m.end() :].lstrip()
        if not re.match(r"^ON\b", rest, re.I):
            raise ValueError("MERGE: expected ON <condition> after USING source")
        rest = rest[2:].lstrip()
        wi = find_top_level(rest, "WHEN")
        if wi < 0:
            raise ValueError("MERGE: at least one WHEN clause is required")
        cond, rest = rest[:wi].strip(), rest[wi:]
        clauses: list[str] = []
        while rest:
            nxt = find_top_level(rest, "WHEN", 4)
            clause, rest = (rest[:nxt], rest[nxt:]) if nxt > 0 else (rest, "")
            clauses.append(clause.strip())
        ins_vals = None
        ins_cols: list[str] | None = None
        # ordered WHEN MATCHED clauses, first-match-wins (ANSI evaluation
        # order): (kind, guard, set-assignments-text)
        matched: list[tuple[str, str | None, str | None]] = []
        for cl in clauses:
            body = cl[4:].lstrip()  # strip WHEN
            ti = find_top_level(body, "THEN")
            if ti < 0:
                raise ValueError(f"MERGE: WHEN clause missing THEN: {cl!r}")
            head, action = body[:ti].strip(), body[ti + 4 :].strip()
            hm = re.match(
                r"^(?P<neg>NOT\s+)?MATCHED(?:\s+AND\s+(?P<guard>.+))?$",
                head,
                re.I | re.S,
            )
            if not hm:
                raise ValueError(f"MERGE: cannot parse WHEN clause head: {head!r}")
            guard = hm["guard"]
            if hm["neg"]:
                im = re.match(
                    r"^INSERT\s*(?:\(\s*(?P<cols>\w+(?:\s*,\s*\w+)*)\s*\)\s*)?"
                    r"VALUES\s*\((?P<vals>.+)\)\s*$",
                    action,
                    re.I | re.S,
                )
                if not im:
                    raise ValueError(
                        "MERGE: WHEN NOT MATCHED supports only INSERT ... VALUES"
                    )
                if guard:
                    raise ValueError("MERGE: guards on WHEN NOT MATCHED unsupported")
                if ins_vals is not None:
                    raise ValueError("MERGE: duplicate WHEN NOT MATCHED clause")
                ins_cols = (
                    [c.strip() for c in im["cols"].split(",")] if im["cols"] else None
                )
                ins_vals = split_top_level(im["vals"])
            elif re.match(r"^UPDATE\s+SET\s+", action, re.I):
                sets = re.sub(r"^UPDATE\s+SET\s+", "", action, count=1, flags=re.I)
                matched.append(("update", guard, sets))
            elif re.fullmatch(r"DELETE", action, re.I):
                matched.append(("delete", guard, None))
            else:
                raise ValueError(f"MERGE: unsupported WHEN action: {action!r}")
        for i, (_, guard, _) in enumerate(matched[:-1]):
            if guard is None:
                raise ValueError(
                    "MERGE: an unguarded WHEN MATCHED clause makes later "
                    "matched clauses unreachable"
                )

        cur = self.catalog.get_table(table)
        talias = talias or table
        salias = salias or ("__hs_merge_s" if src.startswith("(") else src)
        mt = f"{self._sv}_merge_t"
        cur.createOrReplaceTempView(mt)
        t_ref = f"{mt} AS {talias}"
        s_ref = f"{src} AS {salias}"
        if matched:
            # first-match-wins: clause i applies iff its guard holds and no
            # earlier clause's guard holds (3VL: NULL guard -> not applied)
            gparts = [
                f"COALESCE(({g}), FALSE)" if g else "TRUE" for (_, g, _) in matched
            ]
            apps = [
                "(" + " AND ".join([gparts[i]] + [f"NOT {p}" for p in gparts[:i]]) + ")"
                for i in range(len(matched))
            ]
            # join only the (target, source) pairs where SOME clause applies —
            # a pair failing every guard must neither update nor duplicate
            tcond = f"({cond}) AND (" + " OR ".join(gparts) + ")"
            # ANSI cardinality rule: a target row touched by two different
            # source rows is an error, not last-wins. ONE eager aggregate
            # pass over the join (COUNT(*) vs COUNT(DISTINCT target-rowid)
            # — the rowid is evaluated once within this single query, so
            # monotonically_increasing_id's nondeterminism is harmless)
            card = self.spark.sql(
                f"SELECT COUNT(*) AS pairs, COUNT(DISTINCT __hs_rid) AS hit "
                f"FROM (SELECT *, monotonically_increasing_id() AS __hs_rid "
                f"      FROM {mt}) AS {talias} "
                f"JOIN {s_ref} ON {tcond}"
            ).first()
            if card["pairs"] > card["hit"]:
                raise ValueError(
                    "MERGE: a target row matches more than one source row"
                )
            asg: list[dict[str, str]] = []
            for kind, _, sets in matched:
                d: dict[str, str] = {}
                if kind == "update":
                    for part in split_top_level(sets):
                        col, expr = part.split("=", 1)
                        d[col.strip()] = expr.strip()
                    unknown = [c for c in d if c not in cur.columns]
                    if unknown:
                        raise ValueError(
                            f"MERGE: SET column(s) {unknown} not in {table}"
                        )
                asg.append(d)
            del_terms = [
                f"(__hs_m AND {apps[i]})"
                for i, (kind, _, _) in enumerate(matched)
                if kind == "delete"
            ]
            del_pred = " OR ".join(del_terms) if del_terms else "FALSE"
            # CASE chain keeps 3VL like _update: no applicable clause (or a
            # NULL match marker) -> old value
            sel_parts = []
            for c in cur.columns:
                whens = [
                    f"WHEN __hs_m AND {apps[i]} THEN ({asg[i][c]})"
                    for i, (kind, _, _) in enumerate(matched)
                    if kind == "update" and c in asg[i]
                ]
                sel_parts.append(
                    f"CASE {' '.join(whens)} ELSE {talias}.{c} END AS {c}"
                    if whens
                    else f"{talias}.{c} AS {c}"
                )
            sel = ", ".join(sel_parts)
            base = self.spark.sql(
                f"SELECT {sel} FROM {t_ref} LEFT JOIN "
                f"(SELECT {salias}.*, TRUE AS __hs_m FROM {s_ref}) AS {salias} "
                f"ON {tcond} WHERE NOT COALESCE({del_pred}, FALSE)"
            )
        else:
            base = cur
        new = base
        if ins_vals is not None:
            names = ins_cols or cur.columns
            if len(ins_vals) != len(names):
                raise ValueError("MERGE: INSERT arity mismatch")
            unknown = [c for c in names if c not in cur.columns]
            if unknown:
                raise ValueError(f"MERGE: INSERT column(s) {unknown} not in {table}")
            proj = ", ".join(
                f"CAST(({ins_vals[names.index(fld.name)]}) AS "
                f"{fld.dataType.simpleString()}) AS {fld.name}"
                if fld.name in names
                else f"CAST(NULL AS {fld.dataType.simpleString()}) AS {fld.name}"
                for fld in cur.schema.fields
            )
            inserted = self.spark.sql(
                f"SELECT {proj} FROM {s_ref} "
                f"LEFT ANTI JOIN {mt} AS {talias} ON {cond}"
            )
            new = base.unionByName(inserted)
        return self._apply_dml(table, new)

    # -- ChangeMetaTable (change_meta_table.hpp:26) -------------------------
    # DML against `meta_settings` mutates SESSION CONFS, mirroring the
    # reference's writable settings meta table: INSERT adds a conf, UPDATE
    # rewrites matching values, DELETE unsets. The settings "table" is tiny
    # and driver-derived, so evaluating the predicate on it is scan-free.
    def _change_meta_settings(self, kind: str, rest=None, sets=None, cond=None):
        import pyspark.sql.functions as F

        from hyrise_spark.meta.tables import meta_settings

        self.catalog.bump_epoch()  # session confs shape analysis and plans
        if kind == "insert":
            rest = rest.strip()
            src = f"SELECT * FROM ({rest})" if rest.upper().startswith("VALUES") else rest
            for r in self.spark.sql(src).toDF("name", "value").collect():
                self.spark.conf.set(r["name"], r["value"])
            return None
        cur = meta_settings(self.spark)
        match = (
            F.coalesce(F.expr(cond), F.lit(False)) if cond else F.lit(True)
        )  # 3VL: only rows where the condition is TRUE are affected
        if kind == "delete":
            for r in cur.filter(match).collect():
                try:
                    self.spark.conf.unset(r["name"])
                except Exception:
                    pass  # static confs can't be unset; leave them
            return None
        assignments: dict[str, str] = {}
        for part in split_top_level(sets):
            col, expr = part.split("=", 1)
            assignments[col.strip()] = expr.strip()
        if set(assignments) != {"value"}:
            raise ValueError("UPDATE meta_settings supports SET value = <expr> only")
        for r in cur.filter(match).select(
            "name", F.expr(assignments["value"]).alias("v")
        ).collect():
            self.spark.conf.set(r["name"], r["v"])
        return None

    # -- meta_exec (meta_exec_table.cpp:44-48) ------------------------------
    # INSERT INTO meta_exec VALUES ('plugin', 'function') EXECUTES the named
    # admin function, mirroring MetaExecTable::_on_insert ->
    # PluginManager::exec_user_function.
    def _exec_meta_function(self, rest: str):
        from hyrise_spark.meta.tables import EXEC_FUNCTIONS

        self.catalog.bump_epoch()  # an admin function may change anything
        rest = rest.strip()
        src = f"SELECT * FROM ({rest})" if rest.upper().startswith("VALUES") else rest
        for r in self.spark.sql(src).toDF("plugin_name", "function_name").collect():
            key = (r["plugin_name"], r["function_name"])
            if key not in EXEC_FUNCTIONS:
                raise ValueError(f"meta_exec: unknown function {key!r}")
            EXEC_FUNCTIONS[key](self.spark, self.catalog)
        return None

    # -- prepared statements (prepared_plan.hpp) ----------------------------
    def prepare(self, name: str, sql: str) -> None:
        self._prepared[name] = sql

    def execute_prepared(self, name: str, args: dict | list) -> DataFrame:
        # route through the statement router so prepared DML mutates the
        # catalog instead of bypassing the Insert/Delete/Update handlers
        return self._execute_one(self._prepared[name], args or None)

    # -- import/export (operators/import.hpp, export.hpp) -------------------
    def import_table(self, path: str, name: str, fmt: str | None = None) -> DataFrame:
        from hyrise_spark.sources import read_any

        if fmt:
            df = self._read_format(path, fmt)
        else:
            df = read_any(self.spark, path)
        if self.catalog.has_table(name):
            self.catalog.replace_table(name, df)
        else:
            self.catalog.add_table(name, df)
        return df

    def _read_format(self, path: str, fmt: str) -> DataFrame:
        """Explicit-FORMAT read (COPY ... WITH (FORMAT x)) — overrides
        extension inference, like the reference's import_statement.file_type."""
        from hyrise_spark.sources.csv_meta import read_csv_with_meta
        from hyrise_spark.sources.hybin import read_bin
        from hyrise_spark.sources.tbl import read_tbl

        f = fmt.upper()
        if f == "TBL":
            return read_tbl(self.spark, path)
        if f == "CSV":
            return read_csv_with_meta(self.spark, path)
        if f in ("BINARY", "BIN"):
            return read_bin(self.spark, path)
        if f == "PARQUET":
            return read_parquet(self.spark, path)
        if f in ("JSONL", "JSON", "NDJSON"):
            # schema-on-read json-lines ingest (beyond the reference's
            # FileType enum, file_type.hpp:9 — but the universal
            # data-pipeline interchange format)
            return self.spark.read.json(path)
        if f == "ORC":
            return self.spark.read.orc(path)
        raise ValueError(f"unsupported COPY format {fmt!r}")

    def export_table(self, name: str, path: str, fmt: str | None = None,
                     partition_by: list[str] | None = None) -> None:
        self.export_frame(self.spark.table(name), path, fmt=fmt,
                          partition_by=partition_by)

    def export_frame(self, df, path: str, fmt: str | None = None,
                     partition_by: list[str] | None = None) -> None:
        from hyrise_spark.sources import write_any
        from hyrise_spark.sources.csv_meta import write_csv_with_meta
        from hyrise_spark.sources.hybin import write_bin
        from hyrise_spark.sources.tbl import write_tbl

        # a cached plan may read the files written here
        self.catalog.bump_epoch()
        if partition_by:
            # hive-layout export (dir per key): the distributed write path —
            # every executor writes its partitions' files; nothing collects
            f = (fmt or "PARQUET").upper()
            missing = set(c.lower() for c in partition_by) - {
                c.lower() for c in df.columns
            }
            if missing:
                raise ValueError(
                    f"PARTITION_BY: no such column(s): {sorted(missing)}")
            w = df.write.mode("overwrite").partitionBy(*partition_by)
            if f == "PARQUET":
                w.parquet(path)
            elif f == "CSV":
                w.option("header", True).csv(path)
            else:
                raise ValueError(
                    f"PARTITION_BY supports PARQUET/CSV, not {fmt!r}")
            return
        if not fmt:
            write_any(df, path)
            return
        f = fmt.upper()
        if f == "TBL":
            write_tbl(df, path)
        elif f == "CSV":
            write_csv_with_meta(df, path)
        elif f in ("BINARY", "BIN"):
            write_bin(df, path)
        elif f == "PARQUET":
            df.write.mode("overwrite").parquet(path)
        elif f in ("JSONL", "JSON", "NDJSON"):
            df.write.mode("overwrite").json(path)
        elif f == "ORC":
            df.write.mode("overwrite").orc(path)
        else:
            raise ValueError(f"unsupported COPY format {fmt!r}")

    # -- plan introspection (console `visualize` analog, SURVEY §3.3) -------
    def query_statement(self, sql: str) -> str:
        """The one query in `sql`, for the plan views to build through the
        router. The router runs what it is given, so any other text (a
        write, EXPORT, PREPARE, or a second statement) is refused before
        anything runs."""
        stmts = split_statements(sql)
        # EXPLAIN and SUMMARIZE compute their rows when they run, so the
        # plan of their frame shows nothing of the statement; EXECUTE runs
        # another text
        r = self._route(stmts[0]) if len(stmts) == 1 else None
        if r is None or r.kind != "query" or r.handler in (
                "_explain", "_summarize", "_execute_stmt"):
            raise ValueError(
                "only a single query (SELECT, WITH, VALUES, TABLE, FROM, "
                f"SHOW, DESCRIBE) has a plan to show: {sql!r}"
            )
        return stmts[0]

    def explain(self, sql: str, mode: str = "formatted") -> str:
        """Return the physical plan text for a SQL query (the reference's
        LQP/PQP visualizer maps to Catalyst's explain output): the `plan`
        cell of `EXPLAIN <mode> <sql>`, so the query builds through the
        router and dialect statements and meta tables explain as they run."""
        kw = "" if mode.lower() == "simple" else mode
        stmt = self.query_statement(sql)
        return self.execute(f"EXPLAIN {kw} {stmt}").collect()[0]["plan"]

    def _summarize(self, r: Route, args) -> DataFrame:
        """`SUMMARIZE t` (DuckDB dialect; the reference's closest analog is
        the meta_segments statistics surface, utils/meta_tables/): one
        wide aggregate pass over the table, transposed to one profile row
        per column. The collect is ONE row however large the table (the
        aggregate runs distributed; only the transpose is driver-side) —
        same bounded-collect class as the meta tables. avg/std report for
        numeric columns; min/max render as strings so one schema covers
        every column type."""
        import pyspark.sql.functions as F

        query = r.match["query"] or f"SELECT * FROM {r.match['table']}"
        df = self._execute_one(query.strip(), None)
        numeric = {"tinyint", "smallint", "int", "bigint", "float", "double",
                   "decimal"}
        aggs: list = [F.count(F.lit(1)).alias("__n")]
        for c, t in df.dtypes:
            base = t.split("(")[0]
            aggs.append(F.count(c).alias(f"{c}__cnt"))
            aggs.append(F.min(c).cast("string").alias(f"{c}__min"))
            aggs.append(F.max(c).cast("string").alias(f"{c}__max"))
            aggs.append(F.approx_count_distinct(c).alias(f"{c}__dst"))
            if base in numeric:
                aggs.append(F.round(F.avg(c), 4).cast("string").alias(f"{c}__avg"))
                aggs.append(F.round(F.stddev_samp(c), 4).cast("string")
                            .alias(f"{c}__std"))
        row = df.agg(*aggs).collect()[0].asDict()
        n = row["__n"]
        out = []
        for c, t in df.dtypes:
            cnt = row[f"{c}__cnt"]
            out.append((
                c, t, int(n),
                round(100.0 * (n - cnt) / n, 2) if n else 0.0,
                int(row[f"{c}__dst"]),
                row[f"{c}__min"], row[f"{c}__max"],
                row.get(f"{c}__avg"), row.get(f"{c}__std"),
            ))
        return self.spark.createDataFrame(
            out,
            schema="column_name string, column_type string, count bigint, "
                   "null_percentage double, approx_unique bigint, "
                   "min string, max string, avg string, std string",
        )

    # -- meta tables --------------------------------------------------------
    def _materialize_meta_tables(self, stmt: str) -> None:
        from hyrise_spark.meta.tables import register_meta_tables

        # Lazy: only the meta views the statement references get built — a
        # settings lookup must not pay for every table's file listing.
        referenced = {m.lower() for m in _META_REF_RE.findall(stmt)}
        register_meta_tables(self.spark, self.catalog, only=referenced)
