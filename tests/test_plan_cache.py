"""Statement/plan cache (sql_plan_cache.hpp + gdfs_cache.hpp analog).

The reference caches translated plans per statement text with GDFS
eviction; repeated identical statements skip parsing/translation
(sql_pipeline_statement.cpp consults SQLPhysicalPlanCache). Here the
cached value is the eagerly-analyzed DataFrame: a hit returns the same
immutable lazy plan and skips parse + dialect rewrite + Catalyst analysis.
`Engine.fetch` adds the physical half: a hit re-executes the physical plan
of the statement's first fetch when that plan keeps no state between
executions (no exchange, subquery or adaptive node) and folds no time
function — a reused plan, never a reused result.

Validity is per relation: an entry stays valid while the catalog epoch and
the version of every table its statement can read (closed over views, SQL
functions and prepared texts) are unchanged. A write to one table
invalidates the reads of that table only; DDL, view and function changes,
ROLLBACK, SET and meta_* writes move the epoch and invalidate everything.
"""
from __future__ import annotations

import pytest

from hyrise_spark.engine import Engine
from hyrise_spark.plan_cache import GDFSCache


# -- pure GDFS policy (no Spark) ---------------------------------------------

def test_gdfs_hit_miss_counters_and_epoch_invalidation():
    c = GDFSCache(capacity=4)
    assert c.get("q1", lambda _: 0) is None
    assert c.misses == 1
    c.put("q1", "plan1", stamp=0, cost=10.0)
    assert c.get("q1", lambda _: 0) == "plan1"
    assert c.hits == 1
    # epoch moved -> entry invalidated, counted, dropped
    assert c.get("q1", lambda _: 1) is None
    assert c.invalidations == 1 and c.misses == 2
    assert len(c) == 0


def test_gdfs_evicts_minimum_priority_and_inflates():
    """GDFS semantics (gdfs_cache.hpp): priority = L + frequency*cost/size;
    eviction removes the min-priority entry and raises L to it, so a hot or
    expensive entry outlives a cold cheap one even when older."""
    c = GDFSCache(capacity=2)
    c.put("cheap", "a", stamp=0, cost=1.0)
    c.put("costly", "b", stamp=0, cost=100.0)
    # heat up 'cheap' a lot: frequency compensates for low cost
    for _ in range(5):
        assert c.get("cheap", lambda _: 0) == "a"
    # inserting a third entry evicts the MIN priority one
    pri_cheap = c._entries["cheap"].priority
    pri_costly = c._entries["costly"].priority
    victim = "cheap" if pri_cheap < pri_costly else "costly"
    c.put("new", "c", stamp=0, cost=1.0)
    assert victim not in c._entries
    assert c.evictions == 1
    assert c.inflation == pytest.approx(min(pri_cheap, pri_costly))
    # a brand-new cheap entry starts at L + cost: aging is monotone
    assert c._entries["new"].priority == pytest.approx(c.inflation + 1.0)


def test_gdfs_frequency_beats_recency():
    """A frequently-hit entry survives a newer one-shot entry (the F in
    GDFS) — plain LRU would evict it."""
    c = GDFSCache(capacity=2)
    c.put("hot", "h", stamp=0, cost=10.0)
    for _ in range(10):
        c.get("hot", lambda _: 0)
    c.put("cold", "c1", stamp=0, cost=10.0)
    c.put("newer", "c2", stamp=0, cost=10.0)  # evicts 'cold', not 'hot'
    assert "hot" in c._entries and "cold" not in c._entries


def test_gdfs_capacity_zero_disables():
    c = GDFSCache(capacity=0)
    c.put("q", "v", stamp=0, cost=1.0)
    assert c.get("q", lambda _: 0) is None and len(c) == 0


# -- engine integration -------------------------------------------------------

@pytest.fixture()
def engine(spark):
    return Engine(spark)


def test_repeated_statement_hits_cache_same_plan_object(engine):
    engine.execute("CREATE TABLE pc AS SELECT CAST(id AS INT) AS id FROM RANGE(10)")
    q = "SELECT CAST(SUM(id) AS BIGINT) AS s FROM pc WHERE id > 2"
    d1 = engine.execute(q)
    d2 = engine.execute(q)
    assert d2 is d1  # the identical analyzed plan, no re-analysis
    assert engine._plan_cache.hits == 1
    assert d2.collect()[0]["s"] == sum(range(3, 10))
    engine.execute("DROP TABLE pc")


def test_dml_and_ddl_invalidate_cached_statements(engine):
    engine.execute("CREATE TABLE pci AS SELECT CAST(id AS INT) AS id FROM RANGE(5)")
    q = "SELECT CAST(SUM(id) AS BIGINT) AS s FROM pci"
    assert engine.execute(q).collect()[0]["s"] == 10
    engine.execute("INSERT INTO pci VALUES (100)")
    # same text, new epoch: result reflects the write, never the stale plan
    assert engine.execute(q).collect()[0]["s"] == 110
    engine.execute("CREATE OR REPLACE TABLE pci AS SELECT 7 AS id")
    assert engine.execute(q).collect()[0]["s"] == 7
    engine.execute("DROP TABLE pci")


def test_rollback_invalidates_cache(engine):
    engine.execute("CREATE TABLE pcr AS SELECT 1 AS x")
    q = "SELECT x FROM pcr"
    engine.execute("BEGIN")
    engine.execute("UPDATE pcr SET x = 2")
    assert engine.execute(q).collect()[0]["x"] == 2  # owner sees its write
    engine.execute("ROLLBACK")
    # ROLLBACK moved the epoch: the in-transaction plan cannot be served
    assert engine.execute(q).collect()[0]["x"] == 1
    engine.execute("DROP TABLE pcr")


def test_uncacheable_statements_bypass(engine):
    engine.execute("CREATE TABLE pcu AS SELECT CAST(id AS INT) AS id FROM RANGE(4)")
    base = engine._plan_cache.misses
    # nondeterministic: rand() must re-analyze (fresh seed) every time
    d1 = engine.execute("SELECT id, rand() AS r FROM pcu")
    d2 = engine.execute("SELECT id, rand() AS r FROM pcu")
    assert d1 is not d2
    # meta tables are dynamic (meta_log grows without a catalog mutation)
    n1 = engine.execute("SELECT COUNT(*) AS n FROM meta_log").collect()[0]["n"]
    n2 = engine.execute("SELECT COUNT(*) AS n FROM meta_log").collect()[0]["n"]
    assert n2 > n1  # the second run saw the first run's log entry
    assert engine._plan_cache.misses == base  # none of the above was cached
    engine.execute("DROP TABLE pcu")


def test_parameterized_statements_cache_per_bound_values(engine):
    """Prepared-plan cache analog (the reference's SQLPhysicalPlanCache
    serves repeated EXECUTEs): a parameterized statement caches per
    (text, bound values) — same args hit, different args are distinct
    entries with their own results."""
    engine.execute("CREATE TABLE pcp AS SELECT CAST(id AS INT) AS id FROM RANGE(6)")
    q = "SELECT id FROM pcp WHERE id = :v"
    p1 = engine.execute(q, {"v": 1})
    p1b = engine.execute(q, {"v": 1})
    assert p1b is p1  # identical args: the very same analyzed plan
    p2 = engine.execute(q, {"v": 2})
    assert p2 is not p1
    assert p1.collect()[0]["id"] == 1 and p2.collect()[0]["id"] == 2
    # SQL-dialect PREPARE/EXECUTE rides the same cache
    engine.execute("PREPARE pq FROM 'SELECT COUNT(*) AS n FROM pcp WHERE id < ?'")
    a = engine.execute("EXECUTE pq (3)")
    b = engine.execute("EXECUTE pq (3)")
    assert a.collect()[0]["n"] == 3 and b.collect()[0]["n"] == 3
    # DML between executions invalidates by epoch
    engine.execute("INSERT INTO pcp VALUES (0)")
    assert engine.execute("EXECUTE pq (3)").collect()[0]["n"] == 4
    engine.execute("DROP TABLE pcp")


def test_snapshot_reads_bypass_cache(engine):
    """A non-owner connection's snapshot read must not fill (or be served
    from) the cache: its visibility differs from the live catalog."""
    import threading

    engine.execute("CREATE TABLE pcs AS SELECT 1 AS x")
    q = "SELECT x FROM pcs"
    engine.execute(q)  # cached under the live epoch
    engine.execute("BEGIN; UPDATE pcs SET x = 2")
    out = {}

    def reader():
        out["x"] = engine.execute(q).collect()[0]["x"]

    t = threading.Thread(target=reader)
    t.start()
    t.join()
    assert out["x"] == 1  # snapshot visibility, not the cached live plan
    assert engine.execute(q).collect()[0]["x"] == 2  # owner: live state
    engine.execute("ROLLBACK; DROP TABLE pcs")


def test_meta_plan_cache_observability(engine):
    engine.execute("CREATE TABLE pcm AS SELECT 1 AS x")
    q = "SELECT x FROM pcm"
    engine.execute(q)
    engine.execute(q)
    engine.execute(q)
    row = engine.execute("SELECT * FROM meta_plan_cache").collect()[0]
    assert row["hits"] >= 2 and row["misses"] >= 1
    assert row["entries"] >= 1 and row["capacity"] == 1024
    ent = engine.execute(
        "SELECT * FROM meta_plan_cache_entries"
    ).collect()
    mine = [r for r in ent if r["statement"] == q]
    assert mine and mine[0]["frequency"] >= 3 and mine[0]["cost_ms"] > 0
    # admin flush (console 'clear cache' analog)
    engine.execute("INSERT INTO meta_exec VALUES ('plan_cache', 'clear')")
    row = engine.execute("SELECT * FROM meta_plan_cache").collect()[0]
    assert row["entries"] == 0
    engine.execute("DROP TABLE pcm")


def test_cache_hit_skips_analysis_cost(engine):
    """The point of the cache: the second execution of an expensive-to-
    analyze statement costs ~0 analysis time (VERDICT r8 task #4's done
    criterion, measured not assumed)."""
    import time

    engine.execute("CREATE TABLE pct AS SELECT CAST(id AS INT) AS id FROM RANGE(100)")
    # a deliberately wide-expression statement (analysis-heavy, data-light)
    cols = ", ".join(
        f"SUM(CASE WHEN id % {k + 2} = 0 THEN id ELSE -id END) AS c{k}"
        for k in range(120)
    )
    q = f"SELECT {cols} FROM pct"
    t0 = time.perf_counter()
    engine.execute(q)
    miss_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    engine.execute(q)
    hit_s = time.perf_counter() - t0
    assert engine._plan_cache.hits >= 1
    # hits are dict lookups (micro-seconds); 10x headroom over analysis
    assert hit_s < miss_s / 10
    engine.execute("DROP TABLE pct")


def test_dialect_statements_are_cacheable(spark):
    """Round-9 dialect SELECTs (DISTINCT ON etc.) flow through the
    statement cache like plain SELECTs — the rewrite + analysis cost is
    exactly what the cache exists to skip."""
    from hyrise_spark.engine import Engine

    engine = Engine(spark)
    engine.execute("CREATE TABLE pc_d AS SELECT id % 3 AS g, id AS v FROM RANGE(30)")
    try:
        q = "SELECT DISTINCT ON (g) g, v FROM pc_d ORDER BY g, v DESC"
        before = engine._plan_cache.hits
        engine.execute(q).collect()
        engine.execute(q).collect()
        assert engine._plan_cache.hits == before + 1
        # a mutation invalidates: the third execution re-analyzes
        engine.execute("INSERT INTO pc_d VALUES (0, 99)")
        rows = {(r["g"], r["v"]) for r in engine.execute(q).collect()}
        assert (0, 99) in rows
        assert engine._plan_cache.hits == before + 1
    finally:
        engine.execute("DROP TABLE pc_d")


# -- per-relation validity ----------------------------------------------------

def _served(engine, q):
    """Run `q` through the cache; True when it was a hit."""
    h0 = engine._plan_cache.hits
    engine.execute(q).collect()
    return engine._plan_cache.hits == h0 + 1


def test_write_to_one_table_keeps_hits_on_others(engine):
    """A write to table A invalidates every cached read that can reach A —
    directly, through a view (the engine's, or a Spark temp view created
    through the engine, which keeps its SQL text), through a SQL function
    or through EXECUTE of a statement prepared over A — and keeps the hits
    on reads of B."""
    engine.execute(
        "CREATE TABLE rv_a AS SELECT CAST(id AS INT) AS x FROM RANGE(5);"
        "CREATE TABLE rv_b AS SELECT CAST(id AS INT) AS y FROM RANGE(3);"
        "CREATE VIEW rv_va AS SELECT x FROM rv_a WHERE x > 1;"
        "CREATE TEMPORARY VIEW rv_tv AS SELECT x FROM rv_a WHERE x >= 3;"
        "CREATE FUNCTION rv_fa() RETURNS INT RETURN (SELECT MAX(x) FROM rv_a);"
        "PREPARE rv_pa FROM 'SELECT COUNT(*) AS n FROM rv_a WHERE x < ?'")
    try:
        reads_a = ["SELECT SUM(x) AS s FROM rv_a", "SELECT COUNT(*) AS n FROM rv_va",
                   "SELECT COUNT(*) AS n FROM rv_tv", "SELECT rv_fa() AS m"]
        read_b = "SELECT SUM(y) AS s FROM rv_b"
        for q in reads_a + [read_b]:
            engine.execute(q).collect()  # fill
        engine.execute("EXECUTE rv_pa (100)").collect()
        assert all(_served(engine, q) for q in reads_a + [read_b])
        assert _served(engine, "EXECUTE rv_pa (100)")

        engine.execute("INSERT INTO rv_a VALUES (100)")
        assert _served(engine, read_b), "a write to rv_a dropped a read of rv_b"
        inv = engine._plan_cache.invalidations
        got = [engine.execute(q).collect()[0][0] for q in reads_a]
        assert got == [110, 4, 3, 100]
        assert engine.execute("EXECUTE rv_pa (1000)").collect()[0]["n"] == 6
        assert not _served(engine, "EXECUTE rv_pa (100)")
        assert engine._plan_cache.invalidations == inv + 5
    finally:
        engine.spark.catalog.dropTempView("rv_tv")
        engine.execute("DEALLOCATE rv_pa; DROP FUNCTION rv_fa; DROP VIEW rv_va;"
                       " DROP TABLE rv_a; DROP TABLE rv_b")


@pytest.mark.parametrize("change", [
    "VACUUM rv_t",
    "BEGIN; ROLLBACK",
    "BEGIN; SAVEPOINT s; ROLLBACK TO SAVEPOINT s; COMMIT",
    "CREATE OR REPLACE TABLE rv_t AS SELECT x FROM rv_t",
    "ALTER TABLE rv_t ADD COLUMN z INT",
    "SET spark.sql.shuffle.partitions = 3",
    "CREATE TABLE rv_other AS SELECT 1 AS w",
    "INSERT INTO meta_settings VALUES ('hyrise_spark.rv_probe', '1')",
    "CREATE FUNCTION rv_fn() RETURNS INT RETURN 1",
    "INSERT INTO meta_exec VALUES ('engine', 'clear_statement_log')",
    "CREATE TEMPORARY VIEW rv_tmp AS SELECT 1 AS w",
])
def test_changes_invalidate(engine, change):
    """Compaction, ROLLBACK [TO SAVEPOINT] (even of an empty transaction),
    CREATE OR REPLACE TABLE, ALTER TABLE, SET, DDL on another table, a
    meta_settings or meta_exec write, a SQL function and a statement passed
    through to Spark each invalidate a cached read of the table."""
    engine.execute("CREATE TABLE rv_t AS SELECT CAST(id AS INT) AS x FROM RANGE(4)")
    q = "SELECT * FROM rv_t WHERE x > 0"
    try:
        engine.execute(q).collect()
        assert _served(engine, q)
        engine.execute(change)
        inv = engine._plan_cache.invalidations
        assert not _served(engine, q)
        assert engine._plan_cache.invalidations == inv + 1
    finally:
        engine.spark.catalog.dropTempView("rv_tmp")
        engine.execute("DROP FUNCTION IF EXISTS rv_fn;"
                       " DROP TABLE IF EXISTS rv_other; DROP TABLE rv_t")


def test_name_starting_with_a_digit_is_read(engine):
    """Spark's identifiers may start with a digit: a write to `2024_rv`
    invalidates a cached read of it, and the read shows the new row."""
    engine.execute("CREATE TABLE 2024_rv AS SELECT 1 AS x")
    q = "SELECT SUM(x) AS s FROM 2024_rv"
    try:
        assert engine.execute(q).collect()[0]["s"] == 1
        assert _served(engine, q)
        engine.execute("INSERT INTO 2024_rv VALUES (5)")
        h0 = engine._plan_cache.hits
        assert engine.execute(q).collect()[0]["s"] == 6
        assert engine._plan_cache.hits == h0
    finally:
        engine.execute("DROP TABLE 2024_rv")


def test_parenthesized_query_keeps_cached_reads(engine):
    """`(SELECT ...) UNION (...)` is a query: it moves no epoch, so a cached
    read stays a hit with no invalidation (it used to count as a
    pass-through statement and drop every cached plan)."""
    engine.execute("CREATE TABLE pc AS SELECT 1 AS x")
    q = "SELECT x FROM pc"
    try:
        engine.execute(q).collect()
        cache = engine._plan_cache
        h0, i0 = cache.hits, cache.invalidations
        rows = engine.execute("(SELECT x FROM pc) UNION (SELECT 7)").collect()
        assert sorted(r[0] for r in rows) == [1, 7]
        engine.execute(q).collect()
        assert (cache.hits - h0, cache.invalidations - i0) == (1, 0)
    finally:
        engine.execute("DROP TABLE pc")


def test_write_spelled_in_another_case_invalidates(engine):
    """Catalog names fold to lower case: a write to `RV_CASE` moves the
    version of the `rv_case` a cached read depends on."""
    engine.execute("CREATE TABLE Rv_Case AS SELECT 1 AS x")
    q = "SELECT SUM(x) AS s FROM rv_case"
    try:
        assert engine.execute(q).collect()[0]["s"] == 1
        assert _served(engine, q)
        engine.execute("INSERT INTO RV_CASE VALUES (5)")
        h0 = engine._plan_cache.hits
        assert engine.execute(q).collect()[0]["s"] == 6
        assert engine._plan_cache.hits == h0
    finally:
        engine.execute("DROP TABLE rv_case")


def test_begin_commit_keep_hits_and_commit_shows_writes(engine):
    """BEGIN and COMMIT move nothing; the transaction's own writes moved
    their table, so a read of it re-plans after COMMIT and one of another
    table keeps hitting."""
    engine.execute("CREATE TABLE rv_c AS SELECT 1 AS x; CREATE TABLE rv_d AS SELECT 2 AS y")
    try:
        qc, qd = "SELECT x FROM rv_c", "SELECT y FROM rv_d"
        for q in (qc, qd):
            engine.execute(q).collect()
        engine.execute("BEGIN; UPDATE rv_c SET x = 5; COMMIT")
        assert _served(engine, qd)
        assert engine.execute(qc).collect()[0]["x"] == 5
    finally:
        engine.execute("DROP TABLE rv_c; DROP TABLE rv_d")


# -- physical-plan reuse (Engine.fetch) ----------------------------------------

def test_fetch_reuses_exchange_free_plan(engine):
    """A hit of an exchange-free point lookup re-executes the limited
    Dataset of the first fetch (physical_hits, meta_plan_cache), and the
    rows stay right after a write re-plans it."""
    engine.execute("CREATE TABLE rv_p AS SELECT CAST(id AS INT) AS k,"
                   " CAST(id * 10 AS INT) AS v FROM RANGE(50)")
    q = "SELECT k, v FROM rv_p WHERE k = 7"
    try:
        pc = engine._plan_cache
        assert engine.fetch(engine.execute(q), 100) == [(7, 70)]
        p0 = pc.physical_hits
        for _ in range(2):
            assert engine.fetch(engine.execute(q), 100) == [(7, 70)]
        assert pc.physical_hits == p0 + 2
        row = engine.execute("SELECT physical_hits FROM meta_plan_cache").collect()[0]
        assert row["physical_hits"] == pc.physical_hits
        # another row limit builds a new limited plan, then reuses that one
        assert engine.fetch(engine.execute(q), 5) == [(7, 70)]
        assert pc.physical_hits == p0 + 2
        assert engine.fetch(engine.execute(q), 5) == [(7, 70)]
        assert pc.physical_hits == p0 + 3
        engine.execute("UPDATE rv_p SET v = 1 WHERE k = 7")
        assert engine.fetch(engine.execute(q), 100) == [(7, 1)]
        assert pc.physical_hits == p0 + 3  # the miss built a new plan
    finally:
        engine.execute("DROP TABLE rv_p")


def test_time_functions_keep_only_the_analyzed_hit(engine):
    """Spark folds current_timestamp()/now()/current_date to literals while
    optimizing, so a reused physical plan would freeze them: such
    statements hit the analyzed-plan cache, but every fetch plans anew."""
    import time

    q = ("SELECT current_timestamp() AS a, now() AS b, current_date AS c,"
         " CAST(unix_timestamp() AS BIGINT) AS d")
    pc = engine._plan_cache
    first = engine.fetch(engine.execute(q), 10)[0]
    h0, p0 = pc.hits, pc.physical_hits
    time.sleep(0.05)
    second = engine.fetch(engine.execute(q), 10)[0]
    assert pc.hits == h0 + 1 and pc.physical_hits == p0
    assert second["a"] > first["a"] and second["b"] > first["b"]


def test_concurrent_fetches_of_one_cached_lookup(engine):
    """Two threads re-executing the same cached physical plan at once both
    get the right rows."""
    import threading

    engine.execute("CREATE TABLE rv_q AS SELECT CAST(id AS INT) AS k,"
                   " CAST(id + 1 AS INT) AS v FROM RANGE(200)")
    q = "SELECT k, v FROM rv_q WHERE k IN (3, 150) ORDER BY k"
    try:
        engine.fetch(engine.execute(q), 100)  # first fetch keeps the plan
        p0 = engine._plan_cache.physical_hits
        barrier, out = threading.Barrier(2), []

        def reader():
            barrier.wait()
            for _ in range(5):
                out.append(engine.fetch(engine.execute(q), 100))

        threads = [threading.Thread(target=reader) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert out == [[(3, 4), (150, 151)]] * 10
        assert engine._plan_cache.physical_hits == p0 + 10
    finally:
        engine.execute("DROP TABLE rv_q")


def _jobs(spark, group: str) -> tuple[int, int]:
    """(jobs, completed stages) started under the job group `group`."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    ids = sc.statusTracker().getJobIdsForGroup(group)
    return len(ids), sum(store.job(j).numCompletedStages() for j in ids)


def test_hits_run_the_same_jobs_as_misses(engine, spark):
    """No result is reused: a hit of a join, an aggregate or a scalar
    subquery (whose plans hold exchanges or a subquery and are re-planned)
    runs as many jobs and stages as its miss, and a reused exchange-free
    plan still runs one job per fetch."""
    engine.execute(
        "CREATE TABLE rv_j1 AS SELECT CAST(id AS INT) AS k, CAST(id % 7 AS INT) AS g"
        " FROM RANGE(300);"
        "CREATE TABLE rv_j2 AS SELECT CAST(id AS INT) AS k, CAST(id * 2 AS INT) AS w"
        " FROM RANGE(300)")
    sc = spark.sparkContext
    try:
        stmts = [
            "SELECT a.g, SUM(b.w) AS s FROM rv_j1 a JOIN rv_j2 b ON a.k = b.k"
            " GROUP BY a.g ORDER BY a.g",
            "SELECT g, COUNT(*) AS n FROM rv_j1 GROUP BY g ORDER BY g",
            "SELECT k, w FROM rv_j2 WHERE k = (SELECT MAX(g) FROM rv_j1)",
            "SELECT k, w FROM rv_j2 WHERE k = 11",
        ]
        for i, q in enumerate(stmts):
            counts, results = [], []
            for r in range(3):  # miss, then two hits
                group = f"rv_jobs_{i}_{r}"
                sc.setJobGroup(group, group)
                results.append(engine.fetch(engine.execute(q), 1000))
                sc.setJobGroup("", "")
                counts.append(_jobs(spark, group))
            assert results[0] == results[1] == results[2]
            assert counts[0] == counts[1] == counts[2], (q, counts)
            assert counts[0][0] >= 1
        assert engine._plan_cache.physical_hits >= 2  # the point lookup's hits
    finally:
        engine.execute("DROP TABLE rv_j1; DROP TABLE rv_j2")
