"""File-based benchmark runner — the reference BenchmarkRunner analog.

Reference: `src/benchmark/file_based_benchmark.cpp` discovers `*.sql` query
files and table files from directories and hands them to `BenchmarkRunner`
(src/benchmarklib/benchmark_runner.hpp), which warms up, times each item
over N runs, and (with `--verify`) cross-checks results against SQLite
(src/benchmarklib/sqlite_wrapper.hpp). This module does the same on Spark:

  * queries: every `<name>.sql` in --queries (multi-statement files run
    through Engine; the LAST statement's result is the benchmark item)
  * tables: every `<name>.parquet` / `.csv` / `.tbl` in --tables registers
    as a view named `<name>` (sources.read_any dispatch)
  * timing: one un-timed warmup run (codegen/broadcast priming), then
    --runs timed runs; per-item best and mean wall seconds
  * --verify: the same SQL runs on DuckDB over the same table files and the
    results hash-compare order-insensitively (the SQLite-verification
    analog; DuckDB is this repo's oracle engine throughout)

CLI:
    python -m hyrise_spark.benchmark_runner \
        --queries bench_queries/ --tables /root/testdata/sf0.01 \
        --runs 3 --verify

Output: one JSON object {"items": {name: {"best_s": .., "mean_s": ..,
"rows": .., "verified": true|false|null}}, "total_s": ..}.
"""

from __future__ import annotations

import argparse
import json
import time
from pathlib import Path

from pyspark.sql import SparkSession


def discover_queries(query_dir: str | Path) -> dict[str, str]:
    """name -> SQL text for every *.sql file (sorted, reference item order)."""
    return {
        p.stem: p.read_text().strip()
        for p in sorted(Path(query_dir).glob("*.sql"))
    }


def register_tables(spark: SparkSession, table_dir: str | Path) -> list[str]:
    """Register every table file in table_dir as a temp view named after the
    file stem. Parquet goes through catalog.load_tables (nanos handling);
    csv/tbl through sources.read_any."""
    from hyrise_spark.catalog import load_tables
    from hyrise_spark.sources import read_any

    table_dir = Path(table_dir)
    names: list[str] = []
    parquet = sorted(table_dir.glob("*.parquet"))
    if parquet:
        loaded = load_tables(spark, str(table_dir), tuple(p.stem for p in parquet))
        for name, df in loaded.items():
            df.createOrReplaceTempView(name)
            names.append(name)
    for p in sorted(table_dir.iterdir()):
        if p.suffix in (".csv", ".tbl") and p.stem not in names:
            read_any(spark, str(p)).createOrReplaceTempView(p.stem)
            names.append(p.stem)
    return names


def _verify_duckdb(table_dir: str | Path, sql: str, sdf) -> bool:
    """Run `sql` on DuckDB over the same table files; order-insensitive
    compare (BenchmarkRunner --verify / sqlite_wrapper analog)."""
    import duckdb

    from hyrise_spark.oracle import canon

    con = duckdb.connect()
    seen: set[str] = set()
    for p in sorted(Path(table_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
        seen.add(p.stem)
    for p in sorted(Path(table_dir).iterdir()):
        # csv/tbl tables register too, mirroring register_tables() on the
        # Spark side — previously --verify silently saw only parquet.
        if p.stem in seen:
            continue
        if p.suffix == ".csv":
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_csv_auto('{p}')")
            seen.add(p.stem)
        elif p.suffix == ".tbl":
            # Hyrise .tbl: row 1 = names, row 2 = types (load_table.hpp).
            with open(p) as fh:
                names = fh.readline().rstrip("\n").split("|")
            name_list = "[" + ", ".join(f"'{n}'" for n in names) + "]"
            con.execute(
                f"CREATE VIEW {p.stem} AS SELECT * FROM read_csv_auto("
                f"'{p}', delim='|', header=false, skip=2, nullstr='null', "
                f"names={name_list})"
            )
            seen.add(p.stem)
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if sorted(scols) != sorted(ocols) or len(srows) != len(orows):
        return False
    return canon(scols, srows) == canon(ocols, orows)


def run(
    spark: SparkSession,
    query_dir: str | Path,
    table_dir: str | Path,
    runs: int = 3,
    verify: bool = False,
    clients: int = 1,
    discover_uccs: bool = False,
    mode: str = "ordered",
    seed: int = 17,
) -> dict:
    """Run every discovered query `runs` times; with clients > 1, the
    (query, run) stream is drained by a thread pool — the reference's
    multi-client benchmark mode (BenchmarkConfig::clients,
    benchmark_config.hpp:53). mode="shuffled" permutes the (query, run)
    stream with a seeded RNG — the reference's BenchmarkMode::Shuffled
    (benchmark_config.hpp:41): interleaved items measure cross-query cache/
    codegen interference instead of back-to-back warm repeats. Spark executes concurrent driver threads as
    concurrent jobs, so this measures scheduler/queueing behavior, not just
    single-stream latency."""
    from hyrise_spark.engine import Engine

    engine = Engine(spark)
    for name in register_tables(spark, table_dir):
        # mirror the temp views into the Engine catalog so catalog-aware
        # features (meta tables, UCC discovery) see the benchmark tables
        if not engine.catalog.has_table(name):
            engine.catalog.add_table(name, spark.table(name))
    queries = discover_queries(query_dir)
    items: dict[str, dict] = {}
    t_total = time.perf_counter()

    # warmup + verification happen single-stream (deterministic)
    warm_rows: dict[str, int] = {}
    verified: dict[str, bool | None] = {}
    for name, sql in queries.items():
        df = engine.execute(sql)
        warm_rows[name] = len(df.collect()) if df is not None else 0
        verified[name] = (
            _verify_duckdb(table_dir, sql, df) if verify and df is not None else None
        )
    n_uccs = None
    if discover_uccs:
        # the reference UCC plugin's pre-benchmark hook
        # (ucc_discovery_plugin.cpp:82-88): after the warmup stream has
        # populated the statement log, discover+validate UCCs so the timed
        # runs benefit from the redundant-DISTINCT rewrite
        from hyrise_spark.ucc import discover_uccs as _discover
        from hyrise_spark.ucc import maybe_strip_redundant_distinct

        n_uccs = _discover(spark, engine.catalog)
        if verify:
            # Discovery ran AFTER the warmup-stream verification, so any
            # query the DISTINCT rewrite now changes was verified in its
            # un-rewritten form only. Re-verify those: execute through the
            # engine (rewrite applied) and compare against DuckDB running
            # the ORIGINAL statement — this checks the rewrite's soundness,
            # not just the original query's (ADVICE r6).
            for name, sql in queries.items():
                if maybe_strip_redundant_distinct(sql, engine.catalog) == sql:
                    continue
                df = engine.execute(sql)
                verified[name] = _verify_duckdb(table_dir, sql, df) if df is not None else None

    def timed(name: str) -> tuple[str, float]:
        t0 = time.perf_counter()
        df = engine.execute(queries[name])
        if df is not None:
            df.collect()
        return name, time.perf_counter() - t0

    stream = [name for name in queries for _ in range(runs)]
    if mode == "shuffled":
        import random

        random.Random(seed).shuffle(stream)
    elif mode != "ordered":
        raise ValueError(f"unknown benchmark mode {mode!r}")
    times: dict[str, list[float]] = {name: [] for name in queries}
    if clients <= 1:
        results = map(timed, stream)
        for name, dt in results:
            times[name].append(dt)
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=clients) as pool:
            for name, dt in pool.map(timed, stream):
                times[name].append(dt)

    for name in queries:
        ts = sorted(times[name])
        items[name] = {
            "best_s": round(ts[0], 4),
            "median_s": round(ts[len(ts) // 2], 4),
            "mean_s": round(sum(ts) / len(ts), 4),
            "rows": warm_rows[name],
            "verified": verified[name],
        }
    out = {
        "items": items,
        "clients": clients,
        "mode": mode,
        "total_s": round(time.perf_counter() - t_total, 3),
    }
    if n_uccs is not None:
        out["validated_uccs"] = n_uccs
    return out


# ---------------------------------------------------------------------------
# TPC-C transactional throughput mode (tpcc_benchmark.cpp analog).
#
# The reference runs the five TPC-C procedures as concurrent transactional
# load with --scale/--clients and a post-run --consistency_checks audit
# (src/benchmark/tpcc_benchmark.cpp, src/benchmarklib/tpcc/procedures/*).
# This mode does the same against engine-managed scratch tables: N client
# threads each draw procedures from the reference's weighted mix and run
# them as BEGIN..COMMIT Engine DML sequences, with the reference's 1%
# forced NewOrder ROLLBACK (tpcc_new_order.cpp). Like the reference ("we do
# not claim to report correctly calculated tpmC", tpcc_benchmark.cpp:30)
# the metric is committed transactions/second over this engine, not tpmC.
#
# Concurrency model — documented single-writer: the Engine's catalog and
# transaction pin are engine-global, so a process-level lock serializes
# whole procedures. Clients still exercise the contended arrival pattern
# (lock wait + interleaved procedure order is seed-dependent), which is
# what the audit must survive; true multi-writer isolation is a table
# format's job at warehouse scale (engine.py DML design note).
#
# Monetary values are whole-dollar integers: every balance/ytd/total stays
# exactly representable in a double, so the audit compares exactly.
# ---------------------------------------------------------------------------

_TPCC_MIX = (  # reference mix, tpcc_benchmark.cpp / TPC-C §5.2.3
    ("new_order", 45), ("payment", 43), ("order_status", 4),
    ("delivery", 4), ("stock_level", 4),
)
_TPCC_FIRST_OID = 100
_TPCC_SEED_BALANCE = 1000.0


def tpcc_setup(engine, districts: int = 4, customers: int = 16,
               sfx: str = "", shards: int = 1, shard: int = 0) -> None:
    """Scratch tables: district (order-id allocator + ytd), customer,
    orders, order_line. Dropped/recreated per run. Customers are assigned
    round-robin to districts, so the population must divide evenly —
    validated here (NewOrder draws a customer from its district's stripe).

    Sharded mode (`sfx`/`shards`/`shard`): each shard engine owns the
    districts {d : d % shards == shard} and their customers under
    suffix-named tables — the per-warehouse data partitioning TPC-C is
    DESIGNED around (a transaction touches one warehouse), and the same
    split a multi-writer table format commits per-partition."""
    if customers < districts or customers % districts != 0:
        raise ValueError(
            f"--customers ({customers}) must be a positive multiple of "
            f"--districts ({districts})"
        )
    for t in ("tpcc_district", "tpcc_customer", "tpcc_orders", "tpcc_order_line"):
        engine.execute(f"DROP TABLE IF EXISTS {t}{sfx}")
    own = f"WHERE id % {shards} = {shard}" if shards > 1 else ""
    own_cust = (f"WHERE (id % {districts}) % {shards} = {shard}"
                if shards > 1 else "")
    engine.execute(
        f"""CREATE TABLE tpcc_district{sfx} AS
        SELECT CAST(id AS INT) AS d_id, CAST({_TPCC_FIRST_OID} AS INT) AS d_next_o_id,
               CAST(0.0 AS DOUBLE) AS d_ytd
        FROM RANGE({districts}) {own}"""
    )
    engine.execute(
        f"""CREATE TABLE tpcc_customer{sfx} AS
        SELECT CAST(id AS INT) AS c_custkey, CAST(id % {districts} AS INT) AS c_d_id,
               CAST({_TPCC_SEED_BALANCE} AS DOUBLE) AS c_balance,
               CAST(0.0 AS DOUBLE) AS c_ytd_payment,
               CAST(0 AS INT) AS c_delivery_cnt
        FROM RANGE({customers}) {own_cust}"""
    )
    engine.execute(
        f"CREATE TABLE tpcc_orders{sfx} (o_orderkey INT, o_d_id INT, o_custkey INT,"
        " o_orderstatus STRING, o_totalprice DOUBLE)"
    )
    engine.execute(
        f"CREATE TABLE tpcc_order_line{sfx} (ol_d_id INT, ol_orderkey INT,"
        " ol_number INT, ol_amount DOUBLE)"
    )


def _tpcc_new_order(engine, rng, districts: int, customers: int,
                    sfx: str = "", d: int | None = None) -> bool:
    """tpcc_new_order.cpp: allocate the district's next order id, insert the
    header + 1-5 lines, bump the allocator — all in one transaction; 1% of
    runs abort AFTER the writes (the spec's forced rollback).

    One statement per table touch (the reference executes the procedure as
    one operator task chain, tpcc_new_order.cpp): the allocator read and
    bump fuse into UPDATE..RETURNING (one collect feeds the order id to the
    two inserts as a literal), and both inserts are plain multi-row VALUES.
    Literal VALUES matter more than avoiding the collect: an
    INSERT..SELECT-from-district variant (zero round-trips) embeds a
    district subplan into the orders lineage per insert, which taxes every
    later read AND makes each compaction rewrite ~3x more expensive —
    measured slower at 8 clients despite the saved job (round-9 interleaved
    A/B in BASELINE.md)."""
    if d is None:
        d = rng.randrange(districts)
    c = d + districts * rng.randrange(customers // districts)
    amounts = [float(rng.randrange(1, 100)) for _ in range(rng.randint(1, 5))]
    total = sum(amounts)
    engine.execute("BEGIN")
    oid = engine.execute(
        f"UPDATE tpcc_district{sfx} SET d_next_o_id = d_next_o_id + 1"
        f" WHERE d_id = {d} RETURNING d_next_o_id - 1 AS oid"
    ).collect()[0]["oid"]
    engine.execute(
        f"INSERT INTO tpcc_orders{sfx} VALUES ({oid}, {d}, {c}, 'O', {total})"
    )
    vals = ", ".join(f"({d}, {oid}, {i + 1}, {a})" for i, a in enumerate(amounts))
    engine.execute(f"INSERT INTO tpcc_order_line{sfx} VALUES {vals}")
    if rng.random() < 0.01:
        engine.execute("ROLLBACK")
        return False
    engine.execute("COMMIT")
    return True


def _tpcc_payment(engine, rng, districts: int, customers: int,
                  sfx: str = "", c: int | None = None) -> bool:
    """tpcc_payment.cpp: debit the customer, credit the district ytd."""
    if c is None:
        c = rng.randrange(customers)
    amt = float(rng.randrange(1, 500))
    engine.execute("BEGIN")
    engine.execute(
        f"UPDATE tpcc_customer{sfx} SET c_balance = c_balance - {amt},"
        f" c_ytd_payment = c_ytd_payment + {amt} WHERE c_custkey = {c}"
    )
    engine.execute(
        f"UPDATE tpcc_district{sfx} SET d_ytd = d_ytd + {amt}"
        f" WHERE d_id = {c % districts}"
    )
    engine.execute("COMMIT")
    return True


def _tpcc_delivery(engine, rng, districts: int, customers: int,
                   sfx: str = "", d: int | None = None) -> bool:
    """tpcc_delivery.cpp: fulfil the district's oldest open order and credit
    its amount to the customer.

    One read feeds both writes as LITERALS: a subquery inside the order
    UPDATE would be captured into the table's lazy plan and tax every
    later read of tpcc_orders with an embedded join (measured: 4x slower
    Delivery plus slower OrderStatus/StockLevel) — literal predicates keep
    the DML lineage a flat CASE WHEN chain."""
    if d is None:
        d = rng.randrange(districts)
    engine.execute("BEGIN")
    hit = engine.execute(
        f"SELECT o_orderkey, o_custkey, o_totalprice FROM tpcc_orders{sfx}"
        f" WHERE o_d_id = {d} AND o_orderstatus = 'O'"
        f" ORDER BY o_orderkey LIMIT 1"
    ).collect()
    if not hit:  # no deliverable order: the spec's skipped delivery
        engine.execute("COMMIT")
        return True
    engine.execute(
        f"UPDATE tpcc_orders{sfx} SET o_orderstatus = 'F'"
        f" WHERE o_d_id = {d} AND o_orderkey = {hit[0]['o_orderkey']}"
    )
    engine.execute(
        f"UPDATE tpcc_customer{sfx} SET c_balance = c_balance + {hit[0]['o_totalprice']},"
        f" c_delivery_cnt = c_delivery_cnt + 1"
        f" WHERE c_custkey = {hit[0]['o_custkey']}"
    )
    engine.execute("COMMIT")
    return True


def _tpcc_order_status(engine, rng, districts: int, customers: int,
                       sfx: str = "", c: int | None = None) -> bool:
    """tpcc_order_status.cpp: the customer's most recent order (read-only)."""
    if c is None:
        c = rng.randrange(customers)
    engine.execute(
        f"SELECT o_orderkey, o_orderstatus, o_totalprice FROM tpcc_orders{sfx}"
        f" WHERE o_custkey = {c} ORDER BY o_orderkey DESC LIMIT 1"
    ).collect()
    return True


def _tpcc_stock_level(engine, rng, districts: int, customers: int,
                      sfx: str = "", d: int | None = None) -> bool:
    """tpcc_stock_level.cpp analog: open-order backlog for one district
    (read-only aggregate over the district's recent orders)."""
    if d is None:
        d = rng.randrange(districts)
    engine.execute(
        f"SELECT COUNT(*) AS open_orders, COALESCE(CAST(SUM(o_totalprice) AS DOUBLE), 0.0) AS backlog"
        f" FROM tpcc_orders{sfx} WHERE o_d_id = {d} AND o_orderstatus = 'O'"
    ).collect()
    return True


_TPCC_IMPLS = {
    "new_order": _tpcc_new_order,
    "payment": _tpcc_payment,
    "delivery": _tpcc_delivery,
    "order_status": _tpcc_order_status,
    "stock_level": _tpcc_stock_level,
}


def tpcc_consistency_audit(engine, districts: int,
                           sfx: str = "") -> dict[str, bool]:
    """Post-run audit — the reference's --consistency_checks
    (tpcc_benchmark.cpp) / TPC-C §3.3.2 conditions adapted to this schema:

      allocator   : d_next_o_id - first == committed order count per district
                    (a rolled-back NewOrder must have restored the allocator)
      max_oid     : MAX(o_orderkey) == d_next_o_id - 1 where orders exist
      order_total : o_totalprice == SUM(ol_amount) per order, exactly
      ytd         : SUM(c_ytd_payment) == SUM(d_ytd), exactly
      balance     : c_balance == seed - ytd_payment + delivered credit
      delivery_cnt: c_delivery_cnt == count of the customer's 'F' orders
    """
    checks: dict[str, bool] = {}
    rows = engine.execute(
        f"""SELECT d.d_id, d.d_next_o_id, COUNT(o.o_orderkey) AS n,
                   MAX(o.o_orderkey) AS mx
            FROM tpcc_district{sfx} d LEFT JOIN tpcc_orders{sfx} o ON o.o_d_id = d.d_id
            GROUP BY d.d_id, d.d_next_o_id"""
    ).collect()
    checks["allocator"] = all(r["d_next_o_id"] - _TPCC_FIRST_OID == r["n"] for r in rows)
    checks["max_oid"] = all(
        r["mx"] is None or r["mx"] == r["d_next_o_id"] - 1 for r in rows
    )
    bad = engine.execute(
        f"""SELECT COUNT(*) AS bad FROM (
             SELECT o.o_orderkey
             FROM tpcc_orders{sfx} o LEFT JOIN tpcc_order_line{sfx} l
               ON l.ol_d_id = o.o_d_id AND l.ol_orderkey = o.o_orderkey
             GROUP BY o.o_d_id, o.o_orderkey, o.o_totalprice
             HAVING o.o_totalprice <> COALESCE(SUM(l.ol_amount), -1.0)
           ) t"""
    ).collect()[0]["bad"]
    checks["order_total"] = bad == 0
    sums = engine.execute(
        f"""SELECT (SELECT COALESCE(SUM(c_ytd_payment), 0.0) FROM tpcc_customer{sfx}) AS cy,
                  (SELECT COALESCE(SUM(d_ytd), 0.0) FROM tpcc_district{sfx}) AS dy"""
    ).collect()[0]
    checks["ytd"] = sums["cy"] == sums["dy"]
    bad = engine.execute(
        f"""SELECT COUNT(*) AS bad FROM (
              SELECT c.c_custkey
              FROM tpcc_customer{sfx} c LEFT JOIN tpcc_orders{sfx} o
                ON o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
              GROUP BY c.c_custkey, c.c_balance, c.c_ytd_payment, c.c_delivery_cnt
              HAVING c.c_balance <> {_TPCC_SEED_BALANCE} - c.c_ytd_payment
                       + COALESCE(SUM(o.o_totalprice), 0.0)
                  OR c.c_delivery_cnt <> COUNT(o.o_orderkey)
            ) t"""
    ).collect()[0]["bad"]
    checks["balance_and_delivery_cnt"] = bad == 0
    return checks


def run_tpcc(
    spark: SparkSession,
    clients: int = 4,
    txns_per_client: int = 25,
    districts: int = 4,
    customers: int = 16,
    shards: int = 1,
    seed: int = 8,
) -> dict:
    """N client threads x txns_per_client weighted-mix procedures, then the
    consistency audit. Returns the committed-txn throughput profile.

    `shards` > 1 is key-partitioned multi-writer TPC-C: shard engines own
    disjoint district partitions (shard = d % shards), each with its OWN
    statement lock, transaction pin, and version chains over suffix-named
    tables; one shard is the documented single-writer engine over the
    unsuffixed tables.

    Sharding is the scale path the single-writer ceiling points at
    (BASELINE.md / SCALE.md): TPC-C is DESIGNED so a transaction touches
    one warehouse, so per-warehouse writers never contend — the same
    partition-level commit independence a multi-writer table format
    (per-partition optimistic commits) provides at warehouse scale. The
    reference gets the equivalent from row-level MVCC inside one process
    (transaction_manager.hpp); here each shard is a full single-writer
    engine and ROUTING replaces row-level locks: a procedure's district
    decides its engine before any lock is taken. The consistency audit
    runs per shard (every TPC-C §3.3.2 condition is district-local under
    this schema) and all shards must pass."""
    import random
    import threading

    from hyrise_spark.engine import Engine

    if districts % shards != 0:
        raise ValueError(f"--districts ({districts}) must be a multiple of "
                         f"--tpcc-shards ({shards})")
    sfx = [f"_s{i}" if shards > 1 else "" for i in range(shards)]
    engines = [Engine(spark) for _ in range(shards)]
    # single-writer per shard: see module note above
    locks = [threading.Lock() for _ in range(shards)]
    for s_id, eng in enumerate(engines):
        tpcc_setup(eng, districts, customers, sfx=sfx[s_id],
                   shards=shards, shard=s_id)
    counts = {p: 0 for p in _TPCC_IMPLS}
    lat: dict[str, list[float]] = {p: [] for p in _TPCC_IMPLS}
    rolled_back = 0
    errors = 0
    stats_lock = threading.Lock()
    weights = [w for _, w in _TPCC_MIX]
    names = [n for n, _ in _TPCC_MIX]

    def client(cid: int) -> None:
        nonlocal rolled_back, errors
        rng = random.Random(seed * 1000 + cid)
        for _ in range(txns_per_client):
            proc = rng.choices(names, weights=weights, k=1)[0]
            # draw the routing key FIRST: the district decides the shard
            # (and therefore the lock) before any engine state is touched
            if proc in ("payment", "order_status"):
                c = rng.randrange(customers)
                d = c % districts
                kw = {"c": c}
            else:
                d = rng.randrange(districts)
                kw = {"d": d}
            s_id = d % shards
            t0 = time.perf_counter()
            failed = False
            with locks[s_id]:
                try:
                    committed = _TPCC_IMPLS[proc](
                        engines[s_id], rng, districts, customers,
                        sfx=sfx[s_id], **kw)
                except Exception:  # noqa: BLE001 — client resilience:
                    # a failed procedure must ROLLBACK (never leave the
                    # engine's transaction pin held — one wedged pin
                    # starves every later client on the write fence) and
                    # count as an error; the audit still gates the run
                    try:
                        engines[s_id].execute("ROLLBACK")
                    except Exception:  # noqa: BLE001
                        pass
                    committed, failed = False, True
            dt = time.perf_counter() - t0
            with stats_lock:
                lat[proc].append(dt)
                if failed:
                    errors += 1
                elif committed:
                    counts[proc] += 1
                else:
                    rolled_back += 1

    t_total = time.perf_counter()
    threads = [threading.Thread(target=client, args=(i,)) for i in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t_total
    shard_audits = [
        tpcc_consistency_audit(eng, districts, sfx=sfx[s_id])
        for s_id, eng in enumerate(engines)
    ]
    audit = {
        k: all(a[k] for a in shard_audits) for k in shard_audits[0]
    }
    committed = sum(counts.values())
    per_proc = {
        p: {
            "committed": counts[p],
            "median_s": round(sorted(lat[p])[len(lat[p]) // 2], 4) if lat[p] else None,
        }
        for p in _TPCC_IMPLS
    }
    return {
        "mode": "tpcc" if shards == 1 else "tpcc_sharded",
        "shards": shards,
        "clients": clients,
        "txns_per_client": txns_per_client,
        "committed": committed,
        "rolled_back": rolled_back,
        "errors": errors,
        "tps": round(committed / wall, 3),
        "wall_s": round(wall, 3),
        "per_proc": per_proc,
        "consistency": audit,
        "consistency_ok": all(audit.values()) and errors == 0,
    }


# ---------------------------------------------------------------------------
# TPC-H refresh functions RF1/RF2 — the part of the TPC-H *benchmark* the
# reference explicitly declares unsupported (tpch_benchmark.cpp:33-36: "it
# doesn't (yet) support running the TPC-H benchmark exactly as it is
# specified. (Among other things, the TPC-H requires performing data
# refreshes ...)"). RF1 inserts a ~4% md5-deterministic sample of orders
# plus their lineitems under fresh order keys (INSERT ... SELECT — fully
# distributed, no generated rows pass through the driver); RF2 deletes the
# refreshed keys. Divergence from the spec's dbgen flat files, on purpose:
# deleting exactly the refresh set gives an EXACT round-trip audit — after
# every RF1+RF2 pair the table must be bit-identical to baseline (row
# counts and total cents), which the spec's sequential-key scheme cannot
# check without external state.
_RF_SAMPLE_HEX = "0a"  # first md5 byte < 0x0a: 10/256 ~ 3.9% of orders


def tpch_refresh_setup(engine, sf_dir: str) -> dict:
    """Load orders/lineitem into the engine catalog as mutable tables and
    return the baseline audit profile."""
    from hyrise_spark.catalog import load_tables

    tabs = load_tables(engine.spark, sf_dir, ("orders", "lineitem"))
    for name in ("orders", "lineitem"):
        # replace_table: idempotent setup (a prior benchmark run in the
        # same engine may have loaded these already)
        engine.catalog.replace_table(name, tabs[name])
    return _rf_audit(engine)


def _rf_audit(engine) -> dict:
    row = engine.execute(
        "SELECT (SELECT COUNT(*) FROM orders) AS n_orders,"
        " (SELECT COUNT(*) FROM lineitem) AS n_lineitem,"
        " (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        "  FROM orders) AS order_cents"
    ).collect()[0]
    return {
        "n_orders": row["n_orders"],
        "n_lineitem": row["n_lineitem"],
        "order_cents": row["order_cents"],
    }


def _rf1(engine, base_key: int, offset: int) -> int:
    """Insert the sampled orders (re-keyed above `offset`) + their
    lineitems; returns the number of inserted orders."""
    sample = (
        f"substr(md5(CAST(o_orderkey AS STRING)), 1, 2) < '{_RF_SAMPLE_HEX}'"
        f" AND o_orderkey <= {base_key}"
    )
    engine.execute(
        f"INSERT INTO orders SELECT o_orderkey + {offset}, o_custkey,"
        f" o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
        f" FROM orders WHERE {sample}"
    )
    engine.execute(
        f"INSERT INTO lineitem SELECT l_orderkey + {offset}, l_partkey,"
        f" l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount,"
        f" l_tax, l_returnflag, l_linestatus, l_shipdate FROM lineitem"
        f" WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE {sample})"
    )
    return engine.execute(
        f"SELECT COUNT(*) AS n FROM orders WHERE o_orderkey > {offset}"
    ).collect()[0]["n"]


def _rf2(engine, offset: int) -> None:
    """Delete the refresh set (every key above `offset`)."""
    engine.execute(f"DELETE FROM lineitem WHERE l_orderkey > {offset}")
    engine.execute(f"DELETE FROM orders WHERE o_orderkey > {offset}")


_RF_PROBE = """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def run_tpch_refresh(spark: SparkSession, sf_dir: str, pairs: int = 2) -> dict:
    """`pairs` RF1+RF2 rounds with an analytic probe between refreshes
    (the ACID-adjacent interleave the spec's throughput test runs), then
    the round-trip audit: final state must equal baseline exactly."""
    from hyrise_spark.engine import Engine

    engine = Engine(spark)
    baseline = tpch_refresh_setup(engine, sf_dir)
    base_key = engine.execute(
        "SELECT CAST(MAX(o_orderkey) AS BIGINT) AS m FROM orders"
    ).collect()[0]["m"]
    offset = base_key + 1
    lat = {"rf1": [], "rf2": [], "probe": []}
    inserted = []
    for _ in range(pairs):
        t0 = time.perf_counter()
        inserted.append(_rf1(engine, base_key, offset))
        lat["rf1"].append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        engine.execute(_RF_PROBE).collect()
        lat["probe"].append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        _rf2(engine, offset)
        lat["rf2"].append(time.perf_counter() - t0)
    final = _rf_audit(engine)
    return {
        "mode": "tpch_refresh",
        "pairs": pairs,
        "orders_per_rf1": inserted,
        "latency_s": {k: round(sum(v) / len(v), 4) for k, v in lat.items()},
        "baseline": baseline,
        "final": final,
        "roundtrip_ok": final == baseline and all(i > 0 for i in inserted),
    }


def run_jcch(spark: SparkSession, sf_dir: str, runs: int = 3,
             verify: bool = False) -> dict:
    """JCC-H benchmark mode — the reference's `-j` flag: the FULL TPC-H 22
    over skew-correlated data (tpch_benchmark.cpp:58-60; tables from
    src/benchmarklib/jcch/jcch_table_generator.cpp). Here the skewed copy
    is the persisted deterministic hot-key rewrite
    (layout.write_jcch_skewed, built uncounted like an ingest); each
    bench_jcch_qNN runs `runs` times (median, noop sink), and --verify
    cross-checks every result against the DuckDB oracle that replays the
    identical skew arithmetic over the ORIGINAL tables."""
    from hyrise_spark.plans.jcch_suite import ensure_jcch
    from hyrise_spark.registry import all_queries

    qs = all_queries()
    skew_dir = ensure_jcch(spark, sf_dir)  # uncounted ingest, idempotent
    items: dict[str, dict] = {}
    for i in range(1, 23):
        name = f"bench_jcch_q{i:02d}"
        qd = qs[name]
        samples: list[float] = []
        for _ in range(runs):
            t0 = time.perf_counter()
            df = qd.builder(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        entry: dict = {"median_s": round(samples[len(samples) // 2], 3)}
        if verify:
            entry["verified"] = _verify_duckdb(
                sf_dir, qd.oracle, qd.builder(spark, sf_dir))
        items[name] = entry
    ok = all(v.get("verified", True) for v in items.values())
    return {
        "mode": "jcch",
        "sf_dir": sf_dir,
        "skew_dir": skew_dir,
        "runs": runs,
        "total_s": round(sum(v["median_s"] for v in items.values()), 3),
        "items": items,
        "verified_ok": ok,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--queries", help="directory of *.sql files")
    ap.add_argument("--tables", help="directory of table files")
    ap.add_argument(
        "--tpcc", action="store_true",
        help="TPC-C transactional throughput mode (tpcc_benchmark.cpp analog):"
             " weighted procedure mix from N --clients, post-run consistency"
             " audit; --queries/--tables unused",
    )
    ap.add_argument("--txns", type=int, default=25,
                    help="transactions per client (tpcc mode)")
    ap.add_argument(
        "--tpcc-shards", type=int, default=1,
        help="key-partitioned writer shards (tpcc mode): each shard engine"
             " owns districts d %% shards with its own lock/txn pin —"
             " the per-warehouse multi-writer scale path; 1 = the"
             " documented single-writer engine",
    )
    ap.add_argument(
        "--tpch-refresh", metavar="SF_DIR",
        help="TPC-H refresh-function mode (RF1/RF2 — the part of the spec"
             " the reference declares unsupported, tpch_benchmark.cpp:33):"
             " --pairs RF1+RF2 rounds over the given table dir, exact"
             " round-trip audit",
    )
    ap.add_argument("--pairs", type=int, default=2,
                    help="RF1+RF2 rounds (tpch-refresh mode)")
    ap.add_argument(
        "--jcch", metavar="SF_DIR",
        help="JCC-H mode (the reference's -j flag, tpch_benchmark.cpp:"
             "58-60): run the full TPC-H 22 against the persisted skewed"
             " copy of SF_DIR (layout.write_jcch_skewed); --verify"
             " cross-checks each result against the DuckDB oracle"
             " replaying the same skew arithmetic",
    )
    ap.add_argument("--districts", type=int, default=4, help="tpcc scale")
    ap.add_argument("--customers", type=int, default=16, help="tpcc scale")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--verify", action="store_true", help="cross-check on DuckDB")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument(
        "--clients", type=int, default=1,
        help="parallel query streams (BenchmarkConfig::clients analog)",
    )
    ap.add_argument(
        "--mode", choices=["ordered", "shuffled"], default="ordered",
        help="item order: ordered (reference default) or shuffled "
             "(BenchmarkMode::Shuffled, benchmark_config.hpp:41)",
    )
    ap.add_argument("--seed", type=int, default=17,
                    help="shuffle seed (shuffled mode)")
    ap.add_argument(
        "--discover-uccs", action="store_true",
        help="run UCC discovery after warmup (the UCC plugin's "
             "pre-benchmark hook analog)",
    )
    args = ap.parse_args(argv)

    from hyrise_spark.session import get_spark

    spark = get_spark(app_name="file_based_benchmark", cpus=args.cpus)
    if args.tpch_refresh:
        result = run_tpch_refresh(spark, args.tpch_refresh, pairs=args.pairs)
        print(json.dumps(result))
        return 0 if result["roundtrip_ok"] else 1
    if args.jcch:
        result = run_jcch(spark, args.jcch, runs=args.runs,
                          verify=args.verify)
        print(json.dumps(result))
        return 0 if result["verified_ok"] else 1
    if args.tpcc:
        result = run_tpcc(
            spark, clients=args.clients, txns_per_client=args.txns,
            districts=args.districts, customers=args.customers,
            shards=args.tpcc_shards,
        )
        print(json.dumps(result))
        return 0 if result["consistency_ok"] else 1
    if not args.queries or not args.tables:
        ap.error("--queries and --tables are required (unless --tpcc)")
    result = run(
        spark, args.queries, args.tables,
        runs=args.runs, verify=args.verify, clients=args.clients,
        discover_uccs=args.discover_uccs, mode=args.mode, seed=args.seed,
    )
    print(json.dumps(result))
    if args.verify and any(v["verified"] is False for v in result["items"].values()):
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
