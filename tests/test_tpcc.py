"""TPC-C transaction procedures as Engine DML sequences.

The reference's five TPC-C procedures (src/benchmarklib/tpcc/procedures/*)
map here to multi-statement Engine sequences wrapped in BEGIN/COMMIT (real
transactions on the version ring since round 8; ROLLBACK aborts the whole
procedure — sql_translator.cpp:377-380 analog). The read-only
procedures (OrderStatus, StockLevel) are registered oracle-checked queries in
plans/tpcc.py; these tests cover the read-write ones plus a consistency
check in the spirit of tpcc_benchmark.cpp's --consistency_checks.
"""

from __future__ import annotations

import pytest

from hyrise_spark.engine import Engine


@pytest.fixture()
def engine(spark):
    eng = Engine(spark)
    eng.execute(
        """
        CREATE TABLE tpcc_customer AS
        SELECT id AS c_custkey, CONCAT('Customer#', id) AS c_name,
               CAST(1000.0 AS DOUBLE) AS c_balance, CAST(0.0 AS DOUBLE) AS c_ytd_payment
        FROM RANGE(4)
        """
    )
    eng.execute(
        """
        CREATE TABLE tpcc_orders AS
        SELECT id AS o_orderkey, id % 4 AS o_custkey, 'O' AS o_orderstatus,
               CAST(100.0 + id AS DOUBLE) AS o_totalprice
        FROM RANGE(8)
        """
    )
    eng.execute(
        """
        CREATE TABLE tpcc_order_line AS
        SELECT id AS ol_id, id % 8 AS ol_orderkey, id % 5 AS ol_partkey,
               CAST(10.0 AS DOUBLE) AS ol_amount
        FROM RANGE(16)
        """
    )
    yield eng
    for t in ("tpcc_customer", "tpcc_orders", "tpcc_order_line"):
        eng.execute(f"DROP TABLE {t}")


def _one(engine, sql):
    return engine.execute(sql).collect()[0]


def test_new_order_procedure(engine):
    """NewOrder: insert an order header + its lines in one transaction."""
    engine.execute(
        """
        BEGIN;
        INSERT INTO tpcc_orders VALUES (100, 1, 'O', 55.5);
        INSERT INTO tpcc_order_line VALUES (100, 100, 2, 30.0), (101, 100, 3, 25.5);
        COMMIT
        """
    )
    assert _one(engine, "SELECT COUNT(*) AS c FROM tpcc_orders WHERE o_orderkey = 100")["c"] == 1
    assert (
        _one(engine, "SELECT COUNT(*) AS c FROM tpcc_order_line WHERE ol_orderkey = 100")["c"] == 2
    )


def test_payment_procedure(engine):
    """Payment: decrement balance, increment YTD payment for one customer."""
    engine.execute(
        """
        BEGIN;
        UPDATE tpcc_customer SET c_balance = c_balance - 250.0,
                                 c_ytd_payment = c_ytd_payment + 250.0
        WHERE c_custkey = 2;
        COMMIT
        """
    )
    row = _one(engine, "SELECT * FROM tpcc_customer WHERE c_custkey = 2")
    assert row["c_balance"] == 750.0 and row["c_ytd_payment"] == 250.0
    untouched = _one(engine, "SELECT * FROM tpcc_customer WHERE c_custkey = 1")
    assert untouched["c_balance"] == 1000.0


def test_delivery_procedure(engine):
    """Delivery: mark the customer's oldest open order fulfilled and credit
    its amount to the customer's balance (delete+insert composite in the
    reference's update.hpp:17-27 maps to two UPDATEs here)."""
    oldest = _one(
        engine,
        """
        SELECT MIN(o_orderkey) AS k FROM tpcc_orders
        WHERE o_custkey = 3 AND o_orderstatus = 'O'
        """,
    )["k"]
    engine.execute(
        f"""
        BEGIN;
        UPDATE tpcc_orders SET o_orderstatus = 'F' WHERE o_orderkey = {oldest};
        UPDATE tpcc_customer SET c_balance = c_balance +
          (SELECT o_totalprice FROM tpcc_orders WHERE o_orderkey = {oldest})
        WHERE c_custkey = 3;
        COMMIT
        """
    )
    assert (
        _one(engine, f"SELECT o_orderstatus AS s FROM tpcc_orders WHERE o_orderkey = {oldest}")["s"]
        == "F"
    )
    assert _one(engine, "SELECT c_balance AS b FROM tpcc_customer WHERE c_custkey = 3")["b"] == 1103.0


def test_rollback_is_accepted(engine):
    """Empty BEGIN..ROLLBACK round-trips (TPC-C's 1% forced NewOrder abort
    shape, tpcc_benchmark.cpp): nothing inside, state unchanged."""
    engine.execute("BEGIN; ROLLBACK")
    assert _one(engine, "SELECT COUNT(*) AS c FROM tpcc_customer")["c"] == 4


def test_new_order_rollback_aborts_all_writes(engine):
    """The reference forces 1% of NewOrder transactions to abort AFTER their
    writes (tpcc_new_order.cpp) — the rolled-back procedure must leave no
    trace in any table it touched."""
    before = {
        t: _one(engine, f"SELECT COUNT(*) AS c FROM {t}")["c"]
        for t in ("tpcc_orders", "tpcc_order_line", "tpcc_customer")
    }
    engine.execute(
        """
        BEGIN;
        INSERT INTO tpcc_orders VALUES (900, 2, 'O', 77.0);
        INSERT INTO tpcc_order_line VALUES (900, 900, 1, 40.0), (901, 900, 4, 37.0);
        UPDATE tpcc_customer SET c_balance = c_balance - 77.0 WHERE c_custkey = 2;
        ROLLBACK
        """
    )
    after = {t: _one(engine, f"SELECT COUNT(*) AS c FROM {t}")["c"] for t in before}
    assert after == before
    assert _one(engine, "SELECT COUNT(*) AS c FROM tpcc_orders WHERE o_orderkey = 900")["c"] == 0
    assert _one(engine, "SELECT c_balance AS b FROM tpcc_customer WHERE c_custkey = 2")["b"] == 1000.0


def test_consistency_check_balance_vs_ytd(engine):
    """tpcc_benchmark.cpp --consistency_checks analog: after any sequence of
    payments, balance + ytd_payment is invariant per customer."""
    for amount, key in ((100.0, 0), (35.5, 1), (64.5, 1)):
        engine.execute(
            f"""
            UPDATE tpcc_customer SET c_balance = c_balance - {amount},
                                     c_ytd_payment = c_ytd_payment + {amount}
            WHERE c_custkey = {key}
            """
        )
    rows = engine.execute(
        "SELECT c_balance + c_ytd_payment AS inv FROM tpcc_customer"
    ).collect()
    assert all(r["inv"] == 1000.0 for r in rows)


# -- transactional throughput mode (tpcc_benchmark.cpp --clients analog) -----

def test_tpcc_throughput_mode_consistency_at_4_clients(spark):
    """benchmark_runner --tpcc: 4 concurrent clients x weighted procedure
    mix against scratch tables (single-writer lock, documented), then the
    full consistency audit — every TPC-C invariant must survive the
    interleaved load."""
    from hyrise_spark.benchmark_runner import run_tpcc

    r = run_tpcc(spark, clients=4, txns_per_client=8)
    assert r["consistency_ok"], r["consistency"]
    assert r["committed"] + r["rolled_back"] == 4 * 8
    assert r["tps"] > 0
    # the mix actually exercised writes
    assert r["per_proc"]["new_order"]["committed"] > 0
    assert r["per_proc"]["payment"]["committed"] > 0


def test_tpcc_forced_new_order_rollback_keeps_invariants(spark):
    """The spec's 1% forced NewOrder abort: force the rollback branch
    deterministically and re-audit — the allocator, order, and line tables
    must show no trace of the aborted transaction."""
    from hyrise_spark.benchmark_runner import (
        _tpcc_new_order,
        tpcc_consistency_audit,
        tpcc_setup,
    )
    from hyrise_spark.engine import Engine

    class ForceAbort:
        """rng stub: one 3-line order for district 0 / customer 0, abort."""

        def randrange(self, *a):
            return a[0] - 1 if len(a) > 1 else 0  # amounts=max, ids=0

        def randint(self, lo, hi):
            return 3

        def random(self):
            return 0.0  # < 0.01 -> forced ROLLBACK

    eng = Engine(spark)
    tpcc_setup(eng, districts=2, customers=4)
    committed = _tpcc_new_order(eng, ForceAbort(), districts=2, customers=4)
    assert committed is False
    audit = tpcc_consistency_audit(eng, districts=2)
    assert all(audit.values()), audit
    n = eng.execute("SELECT COUNT(*) AS c FROM tpcc_orders").collect()[0]["c"]
    assert n == 0
    for t in ("tpcc_district", "tpcc_customer", "tpcc_orders", "tpcc_order_line"):
        eng.execute(f"DROP TABLE {t}")


def test_tpcc_setup_validates_population(spark):
    """Review regression: customers must be a positive multiple of
    districts (NewOrder draws from the district's round-robin stripe)."""
    from hyrise_spark.benchmark_runner import tpcc_setup
    from hyrise_spark.engine import Engine

    eng = Engine(spark)
    with pytest.raises(ValueError, match="multiple"):
        tpcc_setup(eng, districts=32, customers=16)
    with pytest.raises(ValueError, match="multiple"):
        tpcc_setup(eng, districts=3, customers=16)


def test_new_order_allocator_returning(spark):
    """The batched NewOrder (round 9) fuses the allocator read+bump into
    UPDATE..RETURNING — one statement per table touch (tpcc_new_order.cpp
    executes the procedure as one task chain): consecutive orders get
    consecutive ids, every line carries its own order's id, and the
    allocator lands exactly count ahead of the first id."""
    from hyrise_spark.benchmark_runner import (
        _TPCC_FIRST_OID,
        _tpcc_new_order,
        tpcc_setup,
    )
    from hyrise_spark.engine import Engine

    class NeverAbort:
        def randrange(self, *a):
            return 0  # district 0, customer stripe 0, amount 1

        def randint(self, lo, hi):
            return 2  # two lines per order

        def random(self):
            return 1.0  # never the forced rollback

    eng = Engine(spark)
    tpcc_setup(eng, districts=2, customers=4)
    for _ in range(3):
        assert _tpcc_new_order(eng, NeverAbort(), districts=2, customers=4)
    orders = sorted(
        r["o_orderkey"]
        for r in eng.execute("SELECT o_orderkey FROM tpcc_orders").collect()
    )
    assert orders == [_TPCC_FIRST_OID, _TPCC_FIRST_OID + 1, _TPCC_FIRST_OID + 2]
    lines = eng.execute(
        "SELECT ol_orderkey, COUNT(*) AS n FROM tpcc_order_line"
        " GROUP BY ol_orderkey"
    ).collect()
    assert sorted(r["ol_orderkey"] for r in lines) == orders
    assert all(r["n"] == 2 for r in lines)
    nxt = eng.execute(
        "SELECT d_next_o_id AS n FROM tpcc_district WHERE d_id = 0"
    ).collect()[0]["n"]
    assert nxt == _TPCC_FIRST_OID + 3
    for t in ("tpcc_district", "tpcc_customer", "tpcc_orders", "tpcc_order_line"):
        eng.execute(f"DROP TABLE {t}")


def test_tpcc_sharded_mode_consistency_and_full_commit(spark):
    """Key-partitioned writer sharding (VERDICT r9 #6): per-district shard
    engines with independent locks/txn pins run the full mix concurrently;
    every transaction completes (committed + forced rollbacks, zero
    errors) and every shard's consistency audit passes."""
    from hyrise_spark.benchmark_runner import run_tpcc

    out = run_tpcc(
        spark, clients=4, txns_per_client=6, districts=4, customers=16,
        shards=2, seed=11,
    )
    assert out["consistency_ok"], out["consistency"]
    assert out["errors"] == 0
    assert out["committed"] + out["rolled_back"] == 4 * 6
    assert out["shards"] == 2


def test_tpcc_sharded_rejects_undivisible_districts(spark):
    from hyrise_spark.benchmark_runner import run_tpcc

    with pytest.raises(ValueError, match="multiple"):
        run_tpcc(spark, districts=3, shards=2)
