"""Join Order Benchmark (JOB) — shaped query suite.

The reference ships the Join Order Benchmark as a first-class suite
(src/benchmark/join_order_benchmark.cpp; 113 queries over the IMDB dataset,
Leis et al. "How good are query optimizers, really?") and runs it as SQL
text through its own pipeline (parse -> LQP -> optimize -> PQP). The IMDB
data is not available here, so this module reproduces what JOB actually
*measures* — the optimizer's join-ordering quality — on the synthetic
star schema (TESTDATA.md):

  * 5-18 way join graphs (chains, stars, diamonds, and clique edges),
  * the same dimension joined twice under different aliases (JOB joins
    `name`/`title` repeatedly; here `nation`/`region` play that role),
  * correlated, selective predicates on dimension attributes,
  * MIN(...) result rows (JOB's signature single-row aggregates).

Each query is ONE SQL text, registered with `register_sql`: DuckDB runs it
as the oracle and Spark runs it through `spark.sql`. The texts are written
in the NAIVE join order, exactly as JOB queries are — picking a better order
is the optimizer's job: the session enables CBO + joinReorder (session.py)
over ANALYZE'd stats (layout.py), and AQE converts runtime-small sides to
broadcasts. There are no explicit broadcast hints. Date predicates are
half-open ranges on the raw column (`col >= TIMESTAMP 'Y-01-01' AND col <
TIMESTAMP 'Y+1-01-01'`), never EXTRACT(YEAR ...) = Y, so the bounds reach
the parquet scan's PushedFilters.
"""

from __future__ import annotations

from hyrise_spark.registry import register_sql


# --------------------------------------------------------------------------
# JOB 1a analog: 5-way chain, selective filter at the far end of the chain.
register_sql(
    "job_q1",
    """
    SELECT CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           MIN(c_name) AS min_cust,
           ROUND(MIN(o_totalprice), 2) AS min_price
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'PROMO' AND p_size < 5
      AND c_mktsegment = 'BUILDING'
      AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# JOB 6a analog: 9-way with nation/region joined TWICE under aliases —
# customer side pinned to ASIA, supplier side pinned to EUROPE.
register_sql(
    "job_q2",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(cn.n_name) AS min_cust_nation,
           MIN(sn.n_name) AS min_supp_nation,
           ROUND(MIN(l_extendedprice), 2) AS min_price
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    JOIN part ON l_partkey = p_partkey
    WHERE cr.r_name = 'ASIA' AND sr.r_name = 'EUROPE'
      AND p_retailprice > 990
      AND o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# JOB 3b analog: 6-way star with IN-lists and a range band on the fact.
register_sql(
    "job_q3",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_brand) AS min_brand,
           MIN(s_name) AS min_supp
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
      AND p_size BETWEEN 10 AND 30
      AND s_acctbal > 5000
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND l_quantity BETWEEN 20 AND 30
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# JOB 11c analog: clique edge — customer and supplier must share a nation
# (c_nationkey = s_nationkey joins two branches of the graph directly).
register_sql(
    "job_q4",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      AND o_totalprice > 100000
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# JOB 13d analog: anti-correlated predicates — expensive lineitems of cheap
# parts (forces the optimizer to see that neither filter alone is selective
# but their conjunction through the join is).
register_sql(
    "job_q5",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           ROUND(MAX(l_extendedprice), 2) AS max_price
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE p_retailprice < 920 AND l_extendedprice > 95000
      AND r_name IN ('AFRICA', 'AMERICA')
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# JOB 8a analog: LIKE predicates on two different dims in one graph.
register_sql(
    "job_q6",
    """
    SELECT CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           MIN(n_name) AS min_nation
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE 'red%' AND n_name LIKE 'NATION_1%'
      AND o_orderstatus = 'F'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# JOB 16b analog: 6-way through a second fact (events) — behavioral join
# chain events -> customer -> orders -> lineitem with dim filters.
register_sql(
    "job_q7",
    """
    SELECT CAST(MIN(event_id) AS BIGINT) AS min_event,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           MIN(n_name) AS min_nation
    FROM events
    JOIN customer ON user_id = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    JOIN orders ON o_custkey = c_custkey
    WHERE event_type = 'purchase' AND r_name = 'AMERICA'
      AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      AND o_totalprice > 150000
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# JOB 17e analog: diamond — orders joins lineitem twice transitively
# (customer branch and supplier branch), both branches constrained to the
# same region via two region aliases with an equality between them.
register_sql(
    "job_q8",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(cn.n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE cn.n_regionkey = sn.n_regionkey
      AND l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
      AND l_discount > 0.08
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# JOB 20a analog: one branch is itself an aggregate (big customers), the
# optimizer must place the derived relation correctly in the graph.
register_sql(
    "job_q9",
    """
    WITH big AS (
      SELECT o_custkey FROM orders GROUP BY o_custkey
      HAVING SUM(o_totalprice) > 2000000
    )
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(c_name) AS min_cust,
           ROUND(MIN(l_extendedprice), 2) AS min_price
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN big ON big.o_custkey = c_custkey
    JOIN part ON l_partkey = p_partkey
    WHERE p_type IN ('ECONOMY', 'PROMO')
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# JOB 29a analog: widest graph — 8 relations, every join edge used, three
# selective dim filters at different depths.
register_sql(
    "job_q10",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_brand) AS min_brand,
           MIN(s_name) AS min_supp,
           MIN(r_name) AS min_region
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN part ON l_partkey = p_partkey
    WHERE r_name <> 'ASIA' AND p_size = 25 AND s_acctbal < 1000
      AND o_orderstatus = 'O' AND l_quantity < 10
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# JOB 20+-analog: 8-way star with BOTH dimension chains duplicated — the
# customer side and the supplier side each pull their own nation+region
# (JOB's `name AS n1, name AS n2` pattern). Selective predicates sit on the
# two far ends; CBO must pick which chain to reduce first.
register_sql(
    "job_q11",
    """
    SELECT CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           MIN(cn.n_name) AS min_cust_nation, MIN(sn.n_name) AS min_supp_nation,
           ROUND(MIN(o_totalprice), 2) AS min_price
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    WHERE cr.r_name = 'ASIA' AND sr.r_name = 'EUROPE'
      AND c_mktsegment = 'AUTOMOBILE'
      AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    """,
    tags=("job", "job-large"),
)


# --------------------------------------------------------------------------
# JOB 29-analog: 10-way graph — the 8-way double-dimension star above plus
# part and the events stream joined on the customer key (JOB's widest
# queries mix in the info tables the same way).
register_sql(
    "job_q12",
    """
    SELECT CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part, MIN(event_type) AS min_event,
           MIN(cn.n_name) AS min_cust_nation
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    JOIN part ON l_partkey = p_partkey
    JOIN events ON user_id = c_custkey
    WHERE cr.r_name = 'AMERICA' AND sr.r_name <> 'AFRICA'
      AND p_type = 'PROMO' AND event_type = 'purchase'
      AND o_orderstatus = 'F'
    """,
    tags=("job", "job-large"),
)


# --------------------------------------------------------------------------
# JOB 33-analog (widest): 12-way diamond — TWO lineitem branches meet at
# part (items co-purchased across different orders), each branch dragging
# its own orders + customer + nation chain, plus the shared part and a
# supplier on the left branch. Join-order choice dominates: the part filter
# must be pushed into both branches before the branch-join.
register_sql(
    "job_q13",
    """
    SELECT CAST(MIN(l1.l_orderkey) AS BIGINT) AS min_left_order,
           CAST(MIN(l2.l_orderkey) AS BIGINT) AS min_right_order,
           MIN(p_name) AS min_part,
           MIN(n1.n_name) AS min_left_nation, MIN(n2.n_name) AS min_right_nation
    FROM lineitem l1
    JOIN part ON l1.l_partkey = p_partkey
    JOIN lineitem l2 ON l2.l_partkey = p_partkey AND l2.l_orderkey <> l1.l_orderkey
    JOIN orders o1 ON l1.l_orderkey = o1.o_orderkey
    JOIN orders o2 ON l2.l_orderkey = o2.o_orderkey
    JOIN customer c1 ON o1.o_custkey = c1.c_custkey
    JOIN customer c2 ON o2.o_custkey = c2.c_custkey
    JOIN nation n1 ON c1.c_nationkey = n1.n_nationkey
    JOIN nation n2 ON c2.c_nationkey = n2.n_nationkey
    JOIN supplier ON l1.l_suppkey = s_suppkey
    JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE p_size = 1 AND r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE'
      AND o1.o_orderpriority = '1-URGENT' AND o2.o_orderpriority = '5-LOW'
    """,
    tags=("job", "job-large"),
)


# --------------------------------------------------------------------------
# JOB cycle family (e.g. 22c): a 5-node CYCLE in the join graph —
# lineitem -> orders -> customer -> nation <- supplier -> lineitem. The
# customer and the supplier must sit in the SAME nation, closing the loop
# through the nation node rather than a direct clique edge (job_q4 covers
# the 4-cycle variant).
register_sql(
    "job_q14",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN supplier ON s_nationkey = n_nationkey AND l_suppkey = s_suppkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_quantity > 40
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# JOB triple-alias family (e.g. 29c joins `name` three times): THREE aliased
# copies of lineitem — a co-purchase triangle, one part bought in three
# distinct orders (orderkeys strictly increasing to canonicalize the
# triangle). The optimizer must recognize the shared part reduction before
# any branch-branch join or the triangle explodes.
register_sql(
    "job_q15",
    """
    SELECT CAST(MIN(l1.l_orderkey) AS BIGINT) AS min_o1,
           CAST(MIN(l2.l_orderkey) AS BIGINT) AS min_o2,
           CAST(MIN(l3.l_orderkey) AS BIGINT) AS min_o3,
           MIN(p_name) AS min_part,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem l1
    JOIN part ON l1.l_partkey = p_partkey
    JOIN lineitem l2 ON l2.l_partkey = p_partkey AND l2.l_orderkey > l1.l_orderkey
    JOIN lineitem l3 ON l3.l_partkey = p_partkey AND l3.l_orderkey > l2.l_orderkey
    WHERE p_size = 1 AND p_retailprice < 910
    """,
    tags=("job", "job-large"),
)


# --------------------------------------------------------------------------
# JOB anti-join-in-chain family: the anti join sits in the MIDDLE of the
# chain — lineitems of never-returned parts, then the chain continues
# through orders -> customer -> nation. The optimizer must place the anti
# reduction before the downstream joins.
register_sql(
    "job_q16",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part, MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE p_type = 'LARGE' AND p_size < 4
      AND o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      AND NOT EXISTS (
        SELECT 1 FROM lineitem lr
        WHERE lr.l_partkey = part.p_partkey AND lr.l_returnflag = 'R'
          AND lr.l_quantity >= 48 AND lr.l_shipdate >= TIMESTAMP '1998-01-01'
      )
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Semi + anti mixed in one chain: customers WITH a 1997 urgent order (semi)
# but WITHOUT any 1998 order (anti), then on through nation + region.
register_sql(
    "job_q17",
    """
    SELECT CAST(MIN(c_custkey) AS BIGINT) AS min_cust,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND EXISTS (
        SELECT 1 FROM orders o1 WHERE o1.o_custkey = c_custkey
          AND o1.o_orderpriority = '1-URGENT'
          AND o1.o_orderdate >= TIMESTAMP '1997-01-01' AND o1.o_orderdate < TIMESTAMP '1998-01-01'
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o2 WHERE o2.o_custkey = c_custkey
          AND o2.o_orderdate >= TIMESTAMP '1998-01-01' AND o2.o_orderdate < TIMESTAMP '1999-01-01'
      )
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Theta self-join inside a chain: same customer, an order in 1996 and a
# LARGER order in 1997 (o2.o_totalprice > o1.o_totalprice), customer chain
# continues to nation. Two aliased copies of orders with a non-equi edge.
register_sql(
    "job_q18",
    """
    SELECT CAST(MIN(o1.o_orderkey) AS BIGINT) AS min_o1,
           CAST(MIN(o2.o_orderkey) AS BIGINT) AS min_o2,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders o1
    JOIN orders o2 ON o1.o_custkey = o2.o_custkey
      AND o2.o_totalprice > o1.o_totalprice
    JOIN customer ON o1.o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o1.o_orderdate >= TIMESTAMP '1996-01-01' AND o1.o_orderdate < TIMESTAMP '1997-01-01'
      AND o2.o_orderdate >= TIMESTAMP '1997-01-01' AND o2.o_orderdate < TIMESTAMP '1998-01-01'
      AND o1.o_totalprice > 300000
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# THREE aliased copies of orders: customers ordering in 1996 AND 1997 AND
# 1998 ("loyal" chain) — the second >=3-copies family, on the mid-size fact.
register_sql(
    "job_q19",
    """
    SELECT CAST(MIN(c_custkey) AS BIGINT) AS min_cust,
           CAST(MIN(o1.o_orderkey) AS BIGINT) AS min_o1,
           CAST(MIN(o2.o_orderkey) AS BIGINT) AS min_o2,
           CAST(MIN(o3.o_orderkey) AS BIGINT) AS min_o3
    FROM customer
    JOIN orders o1 ON o1.o_custkey = c_custkey
    JOIN orders o2 ON o2.o_custkey = c_custkey
    JOIN orders o3 ON o3.o_custkey = c_custkey
    WHERE c_mktsegment = 'MACHINERY'
      AND o1.o_orderdate >= TIMESTAMP '1996-01-01' AND o1.o_orderdate < TIMESTAMP '1997-01-01'
      AND o2.o_orderdate >= TIMESTAMP '1997-01-01' AND o2.o_orderdate < TIMESTAMP '1998-01-01'
      AND o3.o_orderdate >= TIMESTAMP '1998-01-01' AND o3.o_orderdate < TIMESTAMP '1999-01-01'
      AND o1.o_totalprice > 200000 AND o2.o_totalprice > 200000 AND o3.o_totalprice > 200000
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Widest mixed graph: the double-dimension 8-way star (q11's shape) PLUS
# part and an anti-join against returned parts — 9 base relations + the
# anti branch, combining duplicate dim chains with an anti reduction.
register_sql(
    "job_q20",
    """
    SELECT CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           MIN(cn.n_name) AS min_cust_nation, MIN(sn.n_name) AS min_supp_nation
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    JOIN part ON l_partkey = p_partkey
    WHERE cr.r_name = 'AFRICA' AND sr.r_name = 'AMERICA'
      AND p_size < 10
      AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      AND NOT EXISTS (
        SELECT 1 FROM lineitem lr
        WHERE lr.l_partkey = part.p_partkey AND lr.l_returnflag = 'R'
          AND lr.l_quantity >= 48 AND lr.l_shipdate >= TIMESTAMP '1998-01-01'
      )
    """,
    tags=("job", "job-large"),
)


# --------------------------------------------------------------------------
# Outer join INSIDE the graph: every EUROPE customer, with their 1998 urgent
# orders if any (left outer mid-chain), nation chain continuing after the
# outer join. COALESCE keeps the unmatched side countable.
register_sql(
    "job_q21",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_matched,
           CAST(MIN(c_custkey) AS BIGINT) AS min_cust,
           MIN(n_name) AS min_nation
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    LEFT JOIN orders ON o_custkey = c_custkey
      AND o_orderpriority = '1-URGENT'
      AND o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
    WHERE r_name = 'EUROPE'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Correlated scalar subquery INSIDE the graph: lineitems priced above their
# part's average lineitem price, with the usual chain continuing.
register_sql(
    "job_q22",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE p_size < 5 AND s_acctbal > 3000
      AND l_extendedprice > 1.5 * (
        SELECT AVG(l2.l_extendedprice) FROM lineitem l2
        WHERE l2.l_partkey = part.p_partkey
      )
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# IN-subquery against an aggregated derived relation: suppliers shipping any
# of the 3 highest-revenue parts (66 of 100 suppliers at sf0.01 — selective
# but non-degenerate), chain through nation.
register_sql(
    "job_q23",
    """
    SELECT CAST(MIN(s_suppkey) AS BIGINT) AS min_supp,
           MIN(n_name) AS min_nation,
           CAST(COUNT(DISTINCT s_suppkey) AS BIGINT) AS n_supps
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN lineitem ON l_suppkey = s_suppkey
    WHERE l_partkey IN (
      SELECT l_partkey FROM lineitem GROUP BY l_partkey
      ORDER BY SUM(l_extendedprice) DESC, l_partkey LIMIT 3
    )
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Equality join on a COMPUTED column (the JOB "join on a derived attribute"
# family): orders placed the SAME CALENDAR DAY as a machinery customer's
# very large order — a self-join of orders on CAST(date) with a selective
# left side.
register_sql(
    "job_q24",
    """
    SELECT CAST(MIN(o1.o_orderkey) AS BIGINT) AS min_big,
           CAST(MIN(o2.o_orderkey) AS BIGINT) AS min_same_day,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders o1
    JOIN customer c1 ON o1.o_custkey = c1.c_custkey
    JOIN orders o2 ON CAST(o1.o_orderdate AS DATE) = CAST(o2.o_orderdate AS DATE)
      AND o2.o_orderkey <> o1.o_orderkey
    WHERE c1.c_mktsegment = 'MACHINERY' AND o1.o_totalprice > 450000
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Double exclusion: lineitems of parts never bulk-returned AND of suppliers
# with no negative balance — TWO anti joins at different graph depths.
register_sql(
    "job_q25",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part, MIN(s_name) AS min_supp,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE p_size = 7
      AND NOT EXISTS (
        SELECT 1 FROM lineitem lr
        WHERE lr.l_partkey = part.p_partkey AND lr.l_returnflag = 'R'
          AND lr.l_quantity >= 48 AND lr.l_shipdate >= TIMESTAMP '1998-01-01'
      )
      AND NOT EXISTS (
        SELECT 1 FROM supplier s2
        WHERE s2.s_suppkey = supplier.s_suppkey AND s2.s_acctbal < 0
      )
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Disjunct SPANNING two relations (JOB's cross-relation OR, e.g. 15b's
# `it.info = x OR mi.info = y`): the predicate references part AND supplier,
# so it cannot be pushed below the lineitem join of either — the optimizer
# must still push the date range and reduce with the conjunctive terms.
register_sql(
    "job_q26",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part, MIN(s_name) AS min_supp,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND (p_type = 'PROMO' OR s_acctbal < 0)
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Band self-join MID-CHAIN: a very large order and a follow-up order by the
# same customer within 30 days (strictly later) — the non-equi band edge
# sits between two aliased copies of orders, and the chain continues through
# customer -> nation afterwards.
register_sql(
    "job_q27",
    """
    SELECT CAST(MIN(o1.o_orderkey) AS BIGINT) AS min_big,
           CAST(MIN(o2.o_orderkey) AS BIGINT) AS min_followup,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders o1
    JOIN orders o2 ON o2.o_custkey = o1.o_custkey
                  AND o2.o_orderdate > o1.o_orderdate
                  AND o2.o_orderdate < o1.o_orderdate + INTERVAL 30 DAY
    JOIN customer ON o1.o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o1.o_totalprice > 450000
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# FOUR aliased copies of one relation (JOB 29c joins cast_info/name many
# times): customers with at least one order in EACH of 1996/1997/1998/1999 —
# the widest same-relation fan in the suite; CBO must reduce each yearly
# branch before the branch-branch joins.
register_sql(
    "job_q28",
    """
    SELECT CAST(MIN(o1.o_orderkey) AS BIGINT) AS min_o1,
           CAST(MIN(o2.o_orderkey) AS BIGINT) AS min_o2,
           CAST(MIN(o3.o_orderkey) AS BIGINT) AS min_o3,
           CAST(MIN(o4.o_orderkey) AS BIGINT) AS min_o4,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer
    JOIN orders o1 ON o1.o_custkey = c_custkey
      AND o1.o_orderdate >= TIMESTAMP '1996-01-01' AND o1.o_orderdate < TIMESTAMP '1997-01-01'
    JOIN orders o2 ON o2.o_custkey = c_custkey
      AND o2.o_orderdate >= TIMESTAMP '1997-01-01' AND o2.o_orderdate < TIMESTAMP '1998-01-01'
    JOIN orders o3 ON o3.o_custkey = c_custkey
      AND o3.o_orderdate >= TIMESTAMP '1998-01-01' AND o3.o_orderdate < TIMESTAMP '1999-01-01'
    JOIN orders o4 ON o4.o_custkey = c_custkey
      AND o4.o_orderdate >= TIMESTAMP '1999-01-01' AND o4.o_orderdate < TIMESTAMP '2000-01-01'
    WHERE c_mktsegment = 'BUILDING'
    """,
    tags=("job", "job-large"),
)


# --------------------------------------------------------------------------
# Dimension SELF-JOIN feeding the fact graph: ordered nation PAIRS within
# one region (n1.key < n2.key canonicalizes), then cross-nation trade —
# a customer in n1 buying from a supplier in n2 — through orders+lineitem.
register_sql(
    "job_q29",
    """
    SELECT MIN(n1.n_name) AS min_cust_nation,
           MIN(n2.n_name) AS min_supp_nation,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM nation n1
    JOIN nation n2 ON n1.n_regionkey = n2.n_regionkey
                  AND n1.n_nationkey < n2.n_nationkey
    JOIN region ON n1.n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n1.n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n2.n_nationkey
    WHERE r_name = 'ASIA'
      AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# UNION ALL branch as a graph NODE: the fact side is a derived relation —
# urgent 1997 orders unioned with very large 1998 orders (disjoint by year)
# — joined on through customer -> nation -> region. The optimizer must push
# the customer join below the union or broadcast the reduced dim chain.
register_sql(
    "job_q30",
    """
    SELECT CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_orderpriority = '1-URGENT'
        AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      UNION ALL
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_totalprice > 400000
        AND o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
    ) u
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Aggregate OF A JOIN as a graph node (JOB 20a's sibling, but the derived
# relation is itself a 2-way join, not a base-table aggregate): per-customer
# 1997 lineitem count from orders JOIN lineitem, thresholded, then joined on
# through customer -> nation.
register_sql(
    "job_q31",
    """
    SELECT CAST(MIN(a.o_custkey) AS BIGINT) AS min_custkey,
           MIN(n_name) AS min_nation,
           CAST(MAX(a.li_cnt) AS BIGINT) AS max_li_cnt,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (
      SELECT o_custkey, COUNT(*) AS li_cnt
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY o_custkey
      HAVING COUNT(*) >= 5
    ) a
    JOIN customer ON a.o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# NON-EQUI correlated anti join: customers who never placed an order larger
# than 50x their own account balance — the anti edge carries an equi key
# (custkey) PLUS an inequality between columns of BOTH relations, then the
# chain continues to nation.
register_sql(
    "job_q32",
    """
    SELECT CAST(MIN(c_custkey) AS BIGINT) AS min_custkey,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_mktsegment = 'MACHINERY'
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_totalprice > 50 * c_acctbal
      )
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# TWO-COLUMN tuple semi-join: lineitems whose (partkey, suppkey) PAIR also
# appears among 1998 'R' returns — the semi key is composite, so a
# single-column reduction is wrong; chain continues through part.
register_sql(
    "job_q33",
    """
    SELECT CAST(MIN(l.l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem l
    JOIN part ON l.l_partkey = p_partkey
    WHERE l.l_shipdate < TIMESTAMP '1996-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem lr
        WHERE lr.l_partkey = l.l_partkey AND lr.l_suppkey = l.l_suppkey
          AND lr.l_returnflag = 'R'
          AND lr.l_shipdate >= TIMESTAMP '1998-01-01'
      )
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Cycle THROUGH THE DIMENSION side: customer -> n1 -> region <- n2 <-
# supplier with a SINGLE shared region node (q14's cycle closes through
# nation; here the loop is one level higher — both nation aliases must land
# in the same region row), fact edge lineitem closing the other side.
register_sql(
    "job_q34",
    """
    SELECT MIN(n1.n_name) AS min_cust_nation,
           MIN(n2.n_name) AS min_supp_nation,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    JOIN region ON n1.n_regionkey = r_regionkey AND n2.n_regionkey = r_regionkey
    WHERE r_name = 'AMERICA'
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Kitchen-sink mixed graph, 11 relations: the double-dimension star
# (customer->n1->r1, supplier->n2->r2) + part + orders + lineitem, PLUS a
# semi join against events (customers with any purchase event) and an
# anti join against bulk-returned parts — equi, semi, and anti edges in one
# graph, the widest mixed shape in the suite.
register_sql(
    "job_q35",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(n1.n_name) AS min_cust_nation,
           MIN(n2.n_name) AS min_supp_nation,
           MIN(p_name) AS min_part,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    JOIN part ON l_partkey = p_partkey
    WHERE r1.r_name = 'ASIA' AND r2.r_name <> 'AFRICA'
      AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      AND EXISTS (
        SELECT 1 FROM events
        WHERE user_id = c_custkey AND event_type = 'purchase'
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem lr
        WHERE lr.l_partkey = part.p_partkey AND lr.l_returnflag = 'R'
          AND lr.l_quantity >= 45
      )
    """,
    tags=("job", "job-large"),
)


# --------------------------------------------------------------------------
# FULL OUTER between two per-dimension aggregates: customer count vs
# negative-balance supplier count per nation — some nations have no such
# supplier, so the outer side is genuinely unmatched (the channel-overlap
# shape inside a join graph).
register_sql(
    "job_q36",
    """
    SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
           cn.cust_cnt AS cust_cnt,
           sn.supp_cnt AS supp_cnt
    FROM (
      SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS cust_cnt
      FROM customer GROUP BY c_nationkey
    ) cn
    FULL OUTER JOIN (
      SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS supp_cnt
      FROM supplier WHERE s_acctbal < 0 GROUP BY s_nationkey
    ) sn ON cn.nk = sn.nk
    ORDER BY nationkey
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Uncorrelated SCALAR SUBQUERY inside the join condition: the join's band
# bound is itself a query (the corpus-wide average quantity) — the optimizer
# must evaluate the scalar once and broadcast it, not per-row.
register_sql(
    "job_q37",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
               AND l_quantity > (SELECT AVG(l_quantity) FROM lineitem)
    WHERE o_orderpriority = '1-URGENT'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# FIVE aliased copies of one relation — customers ordering in every year
# 1995-1999, the widest same-relation fan in the suite (extends q28's four).
register_sql(
    "job_q38",
    """
    SELECT CAST(MIN(o1.o_orderkey) AS BIGINT) AS min_o1,
           CAST(MIN(o5.o_orderkey) AS BIGINT) AS min_o5,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer
    JOIN orders o1 ON o1.o_custkey = c_custkey
      AND o1.o_orderdate >= TIMESTAMP '1995-01-01' AND o1.o_orderdate < TIMESTAMP '1996-01-01'
    JOIN orders o2 ON o2.o_custkey = c_custkey
      AND o2.o_orderdate >= TIMESTAMP '1996-01-01' AND o2.o_orderdate < TIMESTAMP '1997-01-01'
    JOIN orders o3 ON o3.o_custkey = c_custkey
      AND o3.o_orderdate >= TIMESTAMP '1997-01-01' AND o3.o_orderdate < TIMESTAMP '1998-01-01'
    JOIN orders o4 ON o4.o_custkey = c_custkey
      AND o4.o_orderdate >= TIMESTAMP '1998-01-01' AND o4.o_orderdate < TIMESTAMP '1999-01-01'
    JOIN orders o5 ON o5.o_custkey = c_custkey
      AND o5.o_orderdate >= TIMESTAMP '1999-01-01' AND o5.o_orderdate < TIMESTAMP '2000-01-01'
    WHERE c_mktsegment = 'AUTOMOBILE'
    """,
    tags=("job", "job-large"),
)


# --------------------------------------------------------------------------
# Anti join against a UNION-assembled exclusion set: parts excluded either
# for price (dimension predicate) or for bulk returns (fact-derived) — the
# excluded set is built from two different relations before the anti edge.
register_sql(
    "job_q39",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(s_name) AS min_supp,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_partkey NOT IN (
        SELECT p_partkey FROM part WHERE p_retailprice > 1900
        UNION
        SELECT l_partkey FROM lineitem
        WHERE l_returnflag = 'R' AND l_quantity >= 49
      )
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Group-vs-parent-group comparison: customers whose 1997 order count beats
# their NATION's per-customer average — an aggregate compared against the
# aggregate of its enclosing group, two grouping levels joined back.
register_sql(
    "job_q40",
    """
    WITH per_cust AS (
      SELECT c_custkey, c_nationkey, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM customer
      JOIN orders ON o_custkey = c_custkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY c_custkey, c_nationkey
    ), per_nation AS (
      SELECT c_nationkey, AVG(cnt) AS avg_cnt FROM per_cust GROUP BY c_nationkey
    )
    SELECT CAST(MIN(p.c_custkey) AS BIGINT) AS min_custkey,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM per_cust p
    JOIN per_nation a ON p.c_nationkey = a.c_nationkey
    JOIN nation ON p.c_nationkey = n_nationkey
    WHERE p.cnt > a.avg_cnt
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Sixteen-relation join graph — the widest in the suite, spanning both fact
# chains and three event legs (JOB's largest queries touch ~17 relations;
# join_order_benchmark.cpp runs them verbatim). Fan-out stays bounded by
# construction: every dimension join is key-unique, the second fact chain
# hangs off URGENT orders only, and the e2/e3 event legs join e on
# (user, same calendar day) — ~1.2 rows per leg — instead of the ~13x
# per-user explosion a bare user_id equi-join would produce. With CBO stats
# this graph is the 16-leaf DP-reorder proof
# (test_plan_quality.py::test_cbo_reorders_sixteen_way_graph).
register_sql(
    "job_q41",
    """
    SELECT CAST(MIN(l.l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(cn.n_name) AS min_cust_nation,
           MIN(p.p_name) AS min_part,
           MIN(p2.p_name) AS min_part2,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN events e ON e.user_id = c.c_custkey
    JOIN events e2 ON e2.user_id = e.user_id
                  AND CAST(e2.ts AS DATE) = CAST(e.ts AS DATE)
    JOIN events e3 ON e3.user_id = e.user_id
                  AND CAST(e3.ts AS DATE) = CAST(e.ts AS DATE)
    JOIN orders o2 ON o2.o_custkey = c.c_custkey
    JOIN lineitem l2 ON l2.l_orderkey = o2.o_orderkey
    JOIN part p2 ON l2.l_partkey = p2.p_partkey
    JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
    WHERE cr.r_name = 'AMERICA' AND sr.r_name = 'EUROPE'
      AND p.p_type = 'PROMO'
      AND l.l_shipdate >= TIMESTAMP '1996-03-01' AND l.l_shipdate < TIMESTAMP '1996-04-01'
      AND e.event_type = 'purchase' AND e2.event_type = 'click'
      AND e3.event_type = 'signup'
      AND o2.o_orderpriority = '1-URGENT' AND l2.l_returnflag = 'R'
      AND p2.p_type = 'ECONOMY'
    """,
    tags=("job", "job-large"),
)


# --------------------------------------------------------------------------
# Eighteen-relation join graph — past JOB's ~17-relation ceiling
# (join_order_benchmark.cpp runs 113 queries over up to 17 relations; this
# suite's honest maximum is shaped analogs on the driver schema). Extends
# job_q41's sixteen leaves with the second fact chain's supplier nation +
# region dims (sn2/sr2), so BOTH chains carry full dimension paths. The
# same fan-out bounds hold: key-unique dimension joins, URGENT-only second
# chain, per-(user, day) event legs. With CBO stats this is the 18-leaf
# DP-reorder proof (test_cbo_reorders_eighteen_way_graph).
register_sql(
    "job_q42",
    """
    SELECT CAST(MIN(l.l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(cn.n_name) AS min_cust_nation,
           MIN(sn2.n_name) AS min_supp2_nation,
           MIN(p.p_name) AS min_part,
           MIN(p2.p_name) AS min_part2,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN events e ON e.user_id = c.c_custkey
    JOIN events e2 ON e2.user_id = e.user_id
                  AND CAST(e2.ts AS DATE) = CAST(e.ts AS DATE)
    JOIN events e3 ON e3.user_id = e.user_id
                  AND CAST(e3.ts AS DATE) = CAST(e.ts AS DATE)
    JOIN orders o2 ON o2.o_custkey = c.c_custkey
    JOIN lineitem l2 ON l2.l_orderkey = o2.o_orderkey
    JOIN part p2 ON l2.l_partkey = p2.p_partkey
    JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
    JOIN nation sn2 ON s2.s_nationkey = sn2.n_nationkey
    JOIN region sr2 ON sn2.n_regionkey = sr2.r_regionkey
    WHERE cr.r_name = 'AMERICA' AND sr.r_name = 'EUROPE' AND sr2.r_name = 'ASIA'
      AND p.p_type = 'PROMO'
      AND l.l_shipdate >= TIMESTAMP '1996-03-01' AND l.l_shipdate < TIMESTAMP '1996-04-01'
      AND e.event_type = 'purchase' AND e2.event_type = 'click'
      AND e3.event_type = 'signup'
      AND o2.o_orderpriority = '1-URGENT' AND l2.l_returnflag = 'R'
      AND p2.p_type = 'ECONOMY'
    """,
    tags=("job", "job-large"),
)


# --------------------------------------------------------------------------
# Outer-join-in-graph family (beyond JOB's inner-only graphs, but the
# optimizer stressor JOB leaves out): a LEFT join sits in the middle of an
# otherwise-inner chain. Outer joins do not commute freely with inner
# joins, so the reorderer must respect the barrier while still hoisting
# the selective region filter below it — null-extended customers (no 1997
# orders) must survive to the aggregate.
register_sql(
    "job_q43",
    """
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_with_orders,
           CAST(MIN(c_custkey) AS BIGINT) AS min_custkey
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    LEFT JOIN (
      SELECT DISTINCT o_custkey, MIN(o_orderkey) AS o_orderkey
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND o_totalprice > 150000
      GROUP BY o_custkey
    ) big ON big.o_custkey = c_custkey
    WHERE r_name = 'ASIA' AND c_mktsegment = 'MACHINERY'
    GROUP BY n_name
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Bushy-plan family: TWO independently filtered-and-aggregated fact
# subgraphs meet on a dimension key. The optimal plan is bushy (aggregate
# both branches, then join small x small) — a left-deep-only planner pays
# a fact x fact join before either aggregate. Branch A: 1996 order volume
# per part; branch B: 1997 average shipped quantity per part.
register_sql(
    "job_q44",
    """
    WITH a AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS orders_1996
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY l_partkey
    ),
    b AS (
      SELECT l_partkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_1997
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_partkey
    )
    SELECT p_type,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(orders_1996) AS BIGINT) AS sum_orders_1996,
           CAST(SUM(qty_1997) AS BIGINT) AS sum_qty_1997
    FROM part JOIN a ON p_partkey = a.l_partkey
              JOIN b ON p_partkey = b.l_partkey
    WHERE p_size < 25
    GROUP BY p_type
    """,
    tags=("job",),
)


# ===========================================================================
# Round 11: structural parity push toward the reference's 113-query corpus
# (join_order_benchmark.cpp; third_party/join-order-benchmark). The three
# families VERDICT r10 flagged as absent: deep LIKE-chains over several
# dimension attributes (JOB 8/9/13), the 25+-predicate monsters (29a-c),
# and graphs that alias MULTIPLE relations several times simultaneously
# (JOB 29/33 join name x3 AND cast_info/title x2 in one statement). JOB's
# a/b/c-variant discipline — same graph, shifted selectivities, so the
# optimal join order CHANGES — is reproduced within each family.
# ===========================================================================

# --------------------------------------------------------------------------
# LIKE-chain family, a-variant (JOB 8a/9a): five LIKE / NOT LIKE predicates
# spread over four relations in a 6-way graph — prefix (pushable as
# StringStartsWith), suffix, and negated containment all present.
register_sql(
    "job_q45",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           MIN(s_name) AS min_supp,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE 'red %' AND p_name NOT LIKE '%bolt'
      AND s_name LIKE '%1'
      AND c_name LIKE 'Customer#0000000%'
      AND o_orderpriority LIKE '1%'
      AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# LIKE-chain family, b-variant: SAME 6-way graph, selectivities shifted to
# the other relations (suffix LIKE on part, prefix on nation, suffix on
# priority) — JOB's variant discipline, where the optimal order flips.
register_sql(
    "job_q46",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%gear' AND p_name NOT LIKE 'small%'
      AND s_name LIKE '%0'
      AND n_name LIKE 'NATION_1%'
      AND o_orderpriority LIKE '%HIGH'
      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# LIKE-chain family, c-variant: OR-of-LIKEs on one attribute (JOB 15b/22c
# `t.title LIKE x OR t.title LIKE y`) plus an underscore-wildcard pattern —
# the single-char wildcard exercises the matcher's non-prefix path
# (like_matcher.cpp handles %/_ distinctly).
register_sql(
    "job_q47",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           MIN(c_name) AS min_cust,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN part ON l_partkey = p_partkey
    WHERE (p_name LIKE 'blue%' OR p_name LIKE 'hot%')
      AND p_name NOT LIKE '%gizmo'
      AND p_name LIKE '%____'
      AND c_name LIKE '%5'
      AND o_orderstatus <> 'P'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Predicate-monster family, a-variant (JOB 29a: 25+ scalar predicates over
# a wide graph). 9 relations, 27 predicates mixing BETWEEN bands, IN-lists,
# LIKE / NOT LIKE, <>, and a duplicated nation->region dimension chain.
# The point is selectivity-estimation stress: the product of 27 estimates
# must still order the joins sanely.
register_sql(
    "job_q48",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           MIN(cn.n_name) AS min_cust_nation,
           MIN(sn.n_name) AS min_supp_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    JOIN part ON l_partkey = p_partkey
    WHERE l_quantity BETWEEN 5 AND 45
      AND l_extendedprice > 1000
      AND l_discount BETWEEN 0.01 AND 0.08
      AND l_returnflag IN ('N', 'A')
      AND l_linestatus = 'O'
      AND l_tax < 0.07
      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_totalprice BETWEEN 20000 AND 400000
      AND o_orderstatus <> 'P'
      AND c_acctbal > 0
      AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
      AND c_name NOT LIKE '%99'
      AND p_size BETWEEN 1 AND 40
      AND p_type IN ('PROMO', 'ECONOMY', 'STANDARD')
      AND p_retailprice < 990
      AND p_name NOT LIKE '%gizmo'
      AND p_brand <> 'Brand#13'
      AND s_acctbal BETWEEN -500 AND 9000
      AND s_name LIKE 'Supplier#%'
      AND cr.r_name IN ('ASIA', 'EUROPE', 'AFRICA')
      AND sr.r_name <> 'MIDDLE EAST'
      AND cn.n_name NOT LIKE '%_2'
      AND sn.n_name LIKE 'NATION_%'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Predicate-monster family, b-variant (29b): same 9-relation graph, the
# predicate set re-weighted — an OR-group spanning two ORDER attributes,
# IS NOT NULL terms, NOT IN, and bands moved to different columns. The
# estimation product shifts enough that a different join order wins.
register_sql(
    "job_q49",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           MIN(cn.n_name) AS min_cust_nation,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    JOIN part ON l_partkey = p_partkey
    WHERE l_quantity BETWEEN 10 AND 30
      AND l_extendedprice BETWEEN 5000 AND 45000
      AND l_discount <= 0.05
      AND l_returnflag <> 'R'
      AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '2000-01-01'
      AND (o_orderpriority = '5-LOW' OR o_totalprice > 350000)
      AND o_orderstatus IN ('O', 'F')
      AND o_orderdate >= TIMESTAMP '1996-06-01'
      AND c_acctbal BETWEEN -500 AND 8000
      AND c_mktsegment <> 'FURNITURE'
      AND c_name LIKE 'Customer#%'
      AND p_size >= 5
      AND p_type NOT IN ('LARGE', 'MEDIUM')
      AND p_retailprice BETWEEN 910 AND 995
      AND p_name LIKE '% %'
      AND p_brand IS NOT NULL
      AND s_acctbal IS NOT NULL
      AND s_name NOT LIKE '%999'
      AND cr.r_name <> 'AFRICA'
      AND sr.r_name IN ('ASIA', 'AMERICA', 'EUROPE')
      AND cn.n_name LIKE 'NATION%'
      AND sn.n_name NOT LIKE '%_0'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Predicate-monster family, c-variant (29c): widened to a TENTH relation
# (the events behavioral leg, user-keyed) plus a dimension-vs-dimension
# inequality (cn.n_name <> sn.n_name) the estimator cannot factorize.
register_sql(
    "job_q50",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           MIN(event_type) AS min_event,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    JOIN part ON l_partkey = p_partkey
    JOIN events ON c_custkey = user_id
    WHERE l_quantity <= 40
      AND l_extendedprice > 2000
      AND l_returnflag IN ('N', 'R')
      AND l_shipdate >= TIMESTAMP '1995-06-01'
      AND o_totalprice > 10000
      AND o_orderpriority NOT IN ('4-NOT SPECIFIED')
      AND c_acctbal <> 0
      AND c_mktsegment IN ('BUILDING', 'HOUSEHOLD', 'MACHINERY', 'AUTOMOBILE', 'FURNITURE')
      AND p_size < 48
      AND p_retailprice > 905
      AND p_name NOT LIKE 'cold%'
      AND p_brand LIKE 'Brand#%'
      AND s_acctbal > -900
      AND event_type = 'purchase'
      AND value > 300
      AND cr.r_name IN ('ASIA', 'EUROPE')
      AND sr.r_name <> 'AFRICA'
      AND cn.n_name <> sn.n_name
      AND sn.n_name NOT LIKE '%_3'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Simultaneous multi-alias family (JOB 29/33 alias name x3 AND title /
# cast_info x2 in ONE statement): FOUR relations each joined twice —
# lineitem x2, supplier x2, nation x2, region x2 — meeting at part. A part
# shipped from ASIA and from EUROPE in the same year; 9 leaves where 8 are
# aliased duplicates.
register_sql(
    "job_q51",
    """
    SELECT CAST(MIN(p_partkey) AS BIGINT) AS min_part,
           MIN(s1.s_name) AS min_asia_supp,
           MIN(s2.s_name) AS min_europe_supp,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM part
    JOIN lineitem l1 ON l1.l_partkey = p_partkey
    JOIN supplier s1 ON l1.l_suppkey = s1.s_suppkey
    JOIN nation n1 ON s1.s_nationkey = n1.n_nationkey
    JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
    JOIN lineitem l2 ON l2.l_partkey = p_partkey
    JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE'
      AND l1.l_shipdate >= TIMESTAMP '1997-01-01' AND l1.l_shipdate < TIMESTAMP '1998-01-01'
      AND l2.l_shipdate >= TIMESTAMP '1997-01-01' AND l2.l_shipdate < TIMESTAMP '1998-01-01'
      AND p_type = 'PROMO'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Simultaneous multi-alias, second shape: orders x3 AND lineitem x2 AND
# part x2 in one graph — loyal customers (an order in each of 1996/97/98)
# whose 1996 order contains a PROMO item and whose 1998 order contains an
# ECONOMY item. Three relations multi-aliased at once.
register_sql(
    "job_q52",
    """
    SELECT CAST(MIN(c_custkey) AS BIGINT) AS min_cust,
           CAST(MIN(o1.o_orderkey) AS BIGINT) AS min_o1,
           CAST(MIN(o3.o_orderkey) AS BIGINT) AS min_o3,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer
    JOIN orders o1 ON o1.o_custkey = c_custkey
    JOIN orders o2 ON o2.o_custkey = c_custkey
    JOIN orders o3 ON o3.o_custkey = c_custkey
    JOIN lineitem l1 ON l1.l_orderkey = o1.o_orderkey
    JOIN part p1 ON l1.l_partkey = p1.p_partkey
    JOIN lineitem l3 ON l3.l_orderkey = o3.o_orderkey
    JOIN part p3 ON l3.l_partkey = p3.p_partkey
    WHERE o1.o_orderdate >= TIMESTAMP '1996-01-01' AND o1.o_orderdate < TIMESTAMP '1997-01-01'
      AND o2.o_orderdate >= TIMESTAMP '1997-01-01' AND o2.o_orderdate < TIMESTAMP '1998-01-01'
      AND o3.o_orderdate >= TIMESTAMP '1998-01-01' AND o3.o_orderdate < TIMESTAMP '1999-01-01'
      AND p1.p_type = 'PROMO' AND p3.p_type = 'ECONOMY'
      AND o2.o_orderpriority = '1-URGENT'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Behavioral triple-alias (JOB's cast_info-per-role shape): THREE copies of
# events forming a same-day view -> click -> purchase funnel per user,
# bridged to customer -> nation. Two timestamp-ordering theta edges keep
# the legs bounded (~1 match per pair) instead of a per-user cross blowup.
register_sql(
    "job_q53",
    """
    SELECT CAST(MIN(e1.event_id) AS BIGINT) AS min_view,
           CAST(MIN(e3.event_id) AS BIGINT) AS min_purchase,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events e1
    JOIN events e2 ON e1.user_id = e2.user_id
      AND CAST(e1.ts AS DATE) = CAST(e2.ts AS DATE) AND e2.ts > e1.ts
    JOIN events e3 ON e2.user_id = e3.user_id
      AND CAST(e2.ts AS DATE) = CAST(e3.ts AS DATE) AND e3.ts > e2.ts
    JOIN customer ON e1.user_id = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE e1.event_type = 'view' AND e2.event_type = 'click'
      AND e3.event_type = 'purchase'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Filter-on-every-hop family (JOB 10): a 7-way graph where EVERY relation
# carries its own selective predicate — the reorderer has six independent
# reduction opportunities and must sequence them.
register_sql(
    "job_q54",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(c_name) AS min_cust,
           MIN(s_name) AS min_supp,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE r_name = 'ASIA'
      AND n_name = 'NATION_2'
      AND c_mktsegment = 'BUILDING'
      AND l_returnflag = 'R'
      AND p_type = 'SMALL'
      AND s_acctbal > 0
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# OR-of-LIKEs + IN-lists on two dims (JOB 15b/22c): a three-way LIKE
# disjunction on part plus brand/region/priority IN-lists.
register_sql(
    "job_q55",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           MIN(r_name) AS min_region,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE (p_name LIKE 'red%' OR p_name LIKE 'blue%' OR p_name LIKE 'old%')
      AND p_brand IN ('Brand#1', 'Brand#5', 'Brand#9', 'Brand#21')
      AND r_name IN ('ASIA', 'AMERICA')
      AND o_orderpriority IN ('1-URGENT', '5-LOW')
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Join-empty family: JOB contains queries whose result is empty; here the
# emptiness emerges from the JOIN (EUROPE x NATION_0 never meet — NATION_0
# is in AFRICA), invisible to scan-level statistics. MIN over zero rows
# must yield the single all-NULL row with cnt = 0 on both engines.
register_sql(
    "job_q56",
    """
    SELECT CAST(MIN(c_custkey) AS BIGINT) AS min_cust,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    JOIN orders ON o_custkey = c_custkey
    WHERE r_name = 'EUROPE' AND n_name = 'NATION_0'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Big-IN-list family (JOB 24/31 carry 15-35 element name/keyword IN-lists):
# a 41-element customer-name list inside a 4-way chain. Exercises the
# large-IN planning path (in_expression_rewrite_rule.cpp) in join context.
_Q57_CUSTS = [f"Customer#{k:09d}" for k in range(7, 1500, 37)]

register_sql(
    "job_q57",
    f"""
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(c_name) AS min_cust,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_name IN ({", ".join(repr(c) for c in _Q57_CUSTS)})
      AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Band family (JOB 4/12: numeric bands on mid-chain attributes): four
# BETWEEN bands on four different relations, no equality dim filters at
# all — estimation has only range selectivities to work with.
register_sql(
    "job_q58",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           ROUND(MIN(s_acctbal), 2) AS min_sbal,
           ROUND(MIN(c_acctbal), 2) AS min_cbal,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_acctbal BETWEEN 2000 AND 3500
      AND c_acctbal BETWEEN -100 AND 900
      AND l_quantity BETWEEN 20 AND 30
      AND o_totalprice BETWEEN 50000 AND 250000
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Dim-inequality edge (JOB 17's k.keyword <> shape): customer and supplier
# nations must share a REGION but DIFFER as nations — an equality and an
# inequality between two aliased copies of the same dimension.
register_sql(
    "job_q59",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(cn.n_name) AS min_cust_nation,
           MIN(sn.n_name) AS min_supp_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
      AND cn.n_regionkey = sn.n_regionkey
      AND cn.n_nationkey <> sn.n_nationkey
    JOIN region ON cn.n_regionkey = r_regionkey
    WHERE r_name = 'AMERICA'
      AND l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Cycle + LIKE chain: the q14 cycle (customer/supplier must share a nation,
# closing customer->order->lineitem->supplier->nation->customer) with three
# LIKE predicates layered on — JOB 22c's shape.
register_sql(
    "job_q60",
    """
    SELECT CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE '%widget'
      AND c_name NOT LIKE '%00'
      AND n_name LIKE 'NATION_%'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Cross-relation disjunction over THREE relations (generalizes JOB 15b's
# two-relation OR): (part OR supplier OR customer attribute) cannot be
# pushed below ANY single join — the conjunctive date/status terms must
# still reach the scans while the OR evaluates post-join.
register_sql(
    "job_q61",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           ROUND(MIN(p_retailprice), 2) AS min_rp,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE (p_retailprice > 997 OR s_acctbal < -700 OR c_acctbal > 9900)
      AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND o_orderstatus = 'F'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Case-insensitive LIKE chain (the reference declares LIKE-CI as its own
# predicate pair, types.hpp:172): UPPER/LOWER-wrapped patterns including an
# escaped underscore — the wrapped column defeats prefix pushdown, which is
# exactly the reference's CI-matcher situation.
register_sql(
    "job_q62",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE UPPER(p_name) LIKE 'RED%'
      AND LOWER(n_name) LIKE 'nation!_1%' ESCAPE '!'
      AND UPPER(p_name) NOT LIKE '%ANVIL'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# NOT-LIKE-dominant d-variant: every string predicate is a negation —
# negated selectivities are the classic estimator blind spot (JOB 13d).
register_sql(
    "job_q63",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           MIN(s_name) AS min_supp,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE p_name NOT LIKE '%bolt' AND p_name NOT LIKE 'small%'
      AND s_name NOT LIKE '%7'
      AND c_name NOT LIKE '%0'
      AND o_orderpriority NOT LIKE '4%'
      AND l_shipdate >= TIMESTAMP '1999-01-01' AND l_shipdate < TIMESTAMP '1999-04-01'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Underscore-wildcard family: single-char wildcards in three positions
# (leading _, counted-length suffix, fixed-shape priority) — none of these
# are prefix patterns, so the matcher must run its general path.
register_sql(
    "job_q64",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    WHERE p_name LIKE '_e%'
      AND p_name LIKE '% ____'
      AND o_orderpriority LIKE '_-____%'
      AND l_returnflag = 'N'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Kitchen-sink 11-way (JOB 33c): duplicated nation/region dims on BOTH fact
# sides, a same-order lineitem self-edge with a linenumber ordering, part
# joined twice, LIKE + NOT LIKE + IN + BETWEEN all present.
register_sql(
    "job_q65",
    """
    SELECT CAST(MIN(l1.l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(part.p_name) AS min_gear_part,
           MIN(p2.p_name) AS min_other_part,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem l1
    JOIN orders o1 ON l1.l_orderkey = o1.o_orderkey
    JOIN customer ON o1.o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier ON l1.l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    JOIN part ON l1.l_partkey = p_partkey
    JOIN lineitem l2 ON l2.l_orderkey = l1.l_orderkey
      AND l2.l_linenumber < l1.l_linenumber
    JOIN part p2 ON l2.l_partkey = p2.p_partkey
    WHERE cr.r_name IN ('ASIA', 'EUROPE')
      AND sr.r_name IN ('ASIA', 'EUROPE')
      AND part.p_name LIKE '%gear'
      AND p2.p_name NOT LIKE '%gear'
      AND l1.l_quantity BETWEEN 30 AND 50
      AND o1.o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Triple-EXISTS semi tree: two positive semi branches (one a nested 2-hop
# join inside the EXISTS) and one anti branch, all against the same outer
# customer — JOB-adjacent subquery-heavy shape the reference's translator
# handles via semi/anti reductions (sql_translator.cpp).
register_sql(
    "job_q66",
    """
    SELECT CAST(MIN(c_custkey) AS BIGINT) AS min_cust,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE EXISTS (
        SELECT 1 FROM orders o1 WHERE o1.o_custkey = c_custkey
          AND o1.o_orderdate >= TIMESTAMP '1996-01-01' AND o1.o_orderdate < TIMESTAMP '1997-01-01')
      AND EXISTS (
        SELECT 1 FROM orders o2 JOIN lineitem ON l_orderkey = o2.o_orderkey
          JOIN part ON l_partkey = p_partkey
        WHERE o2.o_custkey = c_custkey AND p_type = 'PROMO'
          AND o2.o_orderdate >= TIMESTAMP '1997-01-01' AND o2.o_orderdate < TIMESTAMP '1998-01-01')
      AND NOT EXISTS (
        SELECT 1 FROM orders o3 WHERE o3.o_custkey = c_custkey
          AND o3.o_orderdate >= TIMESTAMP '1999-01-01' AND o3.o_orderdate < TIMESTAMP '2000-01-01')
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Aggregate node + LIKE chain: the derived per-part average joins back to
# the fact with a theta edge (l_quantity > avg_qty) while LIKE predicates
# reduce part and supplier — JOB 20a's derived-relation shape with the
# LIKE family layered on.
register_sql(
    "job_q67",
    """
    SELECT CAST(MIN(p_partkey) AS BIGINT) AS min_part,
           MIN(s_name) AS min_supp,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM part
    JOIN (SELECT l_partkey, AVG(l_quantity) AS avg_qty
          FROM lineitem GROUP BY l_partkey) pq ON pq.l_partkey = p_partkey
    JOIN lineitem l ON l.l_partkey = p_partkey AND l.l_quantity > pq.avg_qty
    JOIN supplier ON l.l_suppkey = s_suppkey
    WHERE p_name LIKE 'old%'
      AND s_name NOT LIKE '%3'
      AND l.l_shipdate >= TIMESTAMP '2000-01-01' AND l.l_shipdate < TIMESTAMP '2000-07-01'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Computed-key self-join + multi-LIKE: orders placed the same CALENDAR DAY
# as a machinery customer's very large order, with LIKE/NOT LIKE splitting
# the two customer copies — the derived-attribute join (CAST to DATE)
# cannot use raw column statistics.
register_sql(
    "job_q68",
    """
    SELECT CAST(MIN(o1.o_orderkey) AS BIGINT) AS min_big,
           CAST(MIN(o2.o_orderkey) AS BIGINT) AS min_same_day,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders o1
    JOIN customer c1 ON o1.o_custkey = c1.c_custkey
    JOIN orders o2 ON CAST(o2.o_orderdate AS DATE) = CAST(o1.o_orderdate AS DATE)
      AND o2.o_orderkey <> o1.o_orderkey
    JOIN customer c2 ON o2.o_custkey = c2.c_custkey
    WHERE c1.c_mktsegment = 'MACHINERY'
      AND o1.o_totalprice > 420000
      AND c1.c_name LIKE '%1'
      AND c2.c_name NOT LIKE '%1'
      AND o2.o_orderpriority LIKE '1%'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Outer-then-semi ordering: the left join's null-extended rows must survive
# INTO the semi reduction on a different key — reordering the semi below
# the outer would change results; the optimizer must prove it can't.
register_sql(
    "job_q69",
    """
    SELECT CAST(MIN(c_custkey) AS BIGINT) AS min_cust,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_order,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    LEFT JOIN orders ON o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    WHERE r_name = 'EUROPE'
      AND EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey AND event_type = 'purchase')
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Predicate-count maximum, d-variant: 10 relations, 31 predicates — every
# predicate TYPE the reference's TableScan vocabulary declares
# (types.hpp:160-178) appears at least once: =, <>, <, <=, >, >=, BETWEEN,
# IN, NOT IN, LIKE, NOT LIKE, IS NOT NULL, plus an OR-group.
register_sql(
    "job_q70",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           MIN(event_type) AS min_event,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    JOIN part ON l_partkey = p_partkey
    JOIN events ON c_custkey = user_id
    WHERE l_quantity BETWEEN 1 AND 49
      AND l_extendedprice > 950
      AND l_discount BETWEEN 0.0 AND 0.09
      AND l_tax <= 0.08
      AND l_returnflag <> 'A'
      AND l_linestatus IN ('O', 'F')
      AND l_shipdate >= TIMESTAMP '1995-03-01' AND l_shipdate < TIMESTAMP '2001-09-01'
      AND o_totalprice BETWEEN 1000 AND 480000
      AND o_orderstatus IN ('O', 'F')
      AND o_orderpriority NOT LIKE '4%'
      AND o_orderdate >= TIMESTAMP '1995-02-01'
      AND c_acctbal BETWEEN -990 AND 9990
      AND c_mktsegment <> 'JEWELRY'
      AND c_name LIKE 'Customer#00000%'
      AND (c_acctbal > 5000 OR c_mktsegment = 'BUILDING')
      AND p_size IN (1, 2, 3, 5, 8, 13, 21, 34, 47)
      AND p_type <> 'LARGE'
      AND p_retailprice BETWEEN 901 AND 999
      AND p_name LIKE '% %'
      AND p_name NOT LIKE 'new%'
      AND p_brand NOT IN ('Brand#2', 'Brand#4')
      AND s_acctbal > -950
      AND s_name LIKE 'Supplier#0000000%'
      AND event_type NOT IN ('error')
      AND value BETWEEN 0 AND 1000
      AND ts >= TIMESTAMP '2024-01-01'
      AND cr.r_name IS NOT NULL
      AND sr.r_name IN ('ASIA', 'EUROPE', 'AMERICA', 'AFRICA')
      AND cn.n_name <> 'NATION_13'
      AND sn.n_name NOT LIKE '%_4'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Co-occurrence self-link THROUGH the fact (JOB's movie-keyword-movie
# traversal): part pairs bought together in one order, canonicalized
# p1 < p2 — the fact table is the link relation, parts hang off both ends.
register_sql(
    "job_q71",
    """
    SELECT CAST(MIN(l1.l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p1.p_name) AS min_promo,
           MIN(p2.p_name) AS min_economy,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem l1
    JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
    JOIN part p1 ON l1.l_partkey = p1.p_partkey
    JOIN part p2 ON l2.l_partkey = p2.p_partkey
    JOIN orders ON l1.l_orderkey = o_orderkey
    WHERE p1.p_partkey < p2.p_partkey
      AND p1.p_type = 'PROMO' AND p2.p_type = 'ECONOMY'
      AND o_orderpriority = '1-URGENT'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Dimension-bridged BUSHY graph (JOB 32/33's movie_link bridge): two
# customers of the SAME nation (c1 < c2), each carrying their own order
# subgraph — the bridge relation is the 25-row dimension, the optimal plan
# reduces both wings before crossing them.
register_sql(
    "job_q72",
    """
    SELECT CAST(MIN(c1.c_custkey) AS BIGINT) AS min_c1,
           CAST(MIN(c2.c_custkey) AS BIGINT) AS min_c2,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer c1
    JOIN nation ON c1.c_nationkey = n_nationkey
    JOIN customer c2 ON c2.c_nationkey = n_nationkey AND c1.c_custkey < c2.c_custkey
    JOIN orders o1 ON o1.o_custkey = c1.c_custkey
    JOIN orders o2 ON o2.o_custkey = c2.c_custkey
    WHERE n_name = 'NATION_7'
      AND o1.o_orderdate >= TIMESTAMP '1997-01-01' AND o1.o_orderdate < TIMESTAMP '1997-02-01'
      AND o2.o_orderdate >= TIMESTAMP '1997-01-01' AND o2.o_orderdate < TIMESTAMP '1997-02-01'
      AND o1.o_totalprice > 200000 AND o2.o_totalprice > 200000
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Interval-OVERLAP theta self-join: two orders by the same customer whose
# 30-day windows overlap — a two-sided band edge (each side bounds the
# other), the classic temporal-join shape.
register_sql(
    "job_q73",
    """
    SELECT CAST(MIN(o1.o_orderkey) AS BIGINT) AS min_o1,
           CAST(MIN(o2.o_orderkey) AS BIGINT) AS min_o2,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders o1
    JOIN orders o2 ON o1.o_custkey = o2.o_custkey
      AND o1.o_orderkey < o2.o_orderkey
      AND o2.o_orderdate < o1.o_orderdate + INTERVAL 30 DAY
      AND o1.o_orderdate < o2.o_orderdate + INTERVAL 30 DAY
    JOIN customer ON o1.o_custkey = c_custkey
    WHERE o1.o_orderdate >= TIMESTAMP '1998-01-01' AND o1.o_orderdate < TIMESTAMP '1999-01-01'
      AND o2.o_orderdate >= TIMESTAMP '1998-01-01' AND o2.o_orderdate < TIMESTAMP '1999-01-01'
      AND c_mktsegment = 'AUTOMOBILE'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Sequential (adjacent-position) self-join: consecutive linenumbers of one
# order with differing part brands — the next-row-by-key join shape.
register_sql(
    "job_q74",
    """
    SELECT CAST(MIN(l1.l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p1.p_brand) AS min_b1,
           MIN(p2.p_brand) AS min_b2,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem l1
    JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
      AND l2.l_linenumber = l1.l_linenumber + 1
    JOIN part p1 ON l1.l_partkey = p1.p_partkey
    JOIN part p2 ON l2.l_partkey = p2.p_partkey
    WHERE p1.p_brand <> p2.p_brand
      AND l1.l_quantity > 45
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Correlated AGGREGATE comparison mid-graph: orders more than twice their
# customer's own average — the correlated scalar decorrelates to a
# per-customer aggregate joined back (subquery_to_join analog), with the
# dim chain continuing above it.
register_sql(
    "job_q75",
    """
    SELECT CAST(MIN(o.o_orderkey) AS BIGINT) AS min_orderkey,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders o
    JOIN customer ON o.o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o.o_totalprice > 2 * (SELECT AVG(o2.o_totalprice) FROM orders o2
                                WHERE o2.o_custkey = o.o_custkey)
      AND c_mktsegment = 'BUILDING'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# UNION-DISTINCT branch as a graph node (q27 used UNION ALL; the DISTINCT
# variant forces a dedup exchange inside the branch because the two legs
# genuinely overlap — urgent AND very-large 1997 orders exist).
register_sql(
    "job_q76",
    """
    SELECT CAST(MIN(u.o_orderkey) AS BIGINT) AS min_orderkey,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT o_orderkey, o_custkey FROM orders
          WHERE o_orderpriority = '1-URGENT'
            AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
          UNION
          SELECT o_orderkey, o_custkey FROM orders
          WHERE o_totalprice > 400000
            AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01') u
    JOIN customer ON u.o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# COMPUTED STRING KEY equi-join: customers and suppliers whose names share
# a last digit — ten 1-char buckets; statistics on the raw columns say
# nothing about the derived key (JOB's derived-attribute joins).
register_sql(
    "job_q77",
    """
    SELECT CAST(MIN(c_custkey) AS BIGINT) AS min_cust,
           MIN(s_name) AS min_supp,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer
    JOIN supplier ON SUBSTR(c_name, LENGTH(c_name), 1) = SUBSTR(s_name, LENGTH(s_name), 1)
    JOIN nation ON s_nationkey = n_nationkey
    WHERE c_acctbal > 9500 AND s_acctbal > 9000
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Nested EXISTS, depth 2: customer has a 1998 order that ITSELF contains a
# heavy PROMO line — the inner semi must stay correlated to the MIDDLE
# relation, not the outer (a decorrelation-ordering stressor).
register_sql(
    "job_q78",
    """
    SELECT CAST(MIN(c_custkey) AS BIGINT) AS min_cust,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE EXISTS (
      SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey
        AND o.o_orderdate >= TIMESTAMP '1998-01-01' AND o.o_orderdate < TIMESTAMP '1999-01-01'
        AND EXISTS (
          SELECT 1 FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          WHERE l.l_orderkey = o.o_orderkey AND p.p_type = 'PROMO'
            AND l.l_quantity > 40))
      AND c_acctbal < 0
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# COMPOSITE-key anti join: current 'N' lines of (part, supplier) pairings
# that have NEVER had a return — the anti key is two columns, so the
# exclusion set cannot be a single-column filter.
register_sql(
    "job_q79",
    """
    SELECT CAST(MIN(l1.l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem l1
    JOIN part ON l1.l_partkey = p_partkey
    WHERE l1.l_returnflag = 'N' AND l1.l_shipdate >= TIMESTAMP '2001-01-01'
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_partkey = l1.l_partkey AND l2.l_suppkey = l1.l_suppkey
          AND l2.l_returnflag = 'R')
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Dims-only monster: EVERY predicate sits on a dimension; the two fact
# tables are completely unfiltered — all reduction comes from dim joins,
# the inverse of q48's fact-heavy selectivity profile.
register_sql(
    "job_q80",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(c_name) AS min_cust,
           MIN(p_name) AS min_part,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN part ON l_partkey = p_partkey
    WHERE c_mktsegment = 'MACHINERY' AND c_acctbal BETWEEN 0 AND 5000
      AND p_type = 'STANDARD' AND p_size BETWEEN 10 AND 35
      AND p_brand IN ('Brand#3', 'Brand#7', 'Brand#11', 'Brand#15', 'Brand#19')
      AND s_acctbal > 0 AND s_name NOT LIKE '%88'
      AND cn.n_name IN ('NATION_4', 'NATION_9', 'NATION_14', 'NATION_19', 'NATION_24')
      AND cr.r_name = 'MIDDLE EAST'
      AND sn.n_name LIKE 'NATION_1%'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# String-FUNCTION predicate chain: LENGTH + SUBSTR + containment LIKE —
# none of these push to the scan as-is (function-wrapped columns), so the
# optimizer must still reduce via the join order.
register_sql(
    "job_q81",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           MIN(s_name) AS min_supp,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE LENGTH(p_name) > 8
      AND p_name LIKE '%e%'
      AND s_name LIKE 'Supplier#0000000%'
      AND SUBSTR(p_name, 1, 1) IN ('s', 'l')
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Behavioral co-activity pairs: two DIFFERENT users purchasing the same
# calendar day, bridged to their customer rows with a cross-copy equality
# (same market segment) — events self-join + customer x2.
register_sql(
    "job_q82",
    """
    SELECT CAST(MIN(e1.user_id) AS BIGINT) AS min_u1,
           CAST(MIN(e2.user_id) AS BIGINT) AS min_u2,
           MIN(c1.c_mktsegment) AS min_segment,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events e1
    JOIN events e2 ON CAST(e1.ts AS DATE) = CAST(e2.ts AS DATE)
      AND e1.user_id < e2.user_id
    JOIN customer c1 ON e1.user_id = c1.c_custkey
    JOIN customer c2 ON e2.user_id = c2.c_custkey
    WHERE e1.event_type = 'purchase' AND e2.event_type = 'purchase'
      AND e1.value > 100 AND e2.value > 100
      AND c1.c_mktsegment = c2.c_mktsegment
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# DISTINCT dedup node INSIDE the graph: collapse (customer, part) pairs
# before the dimension joins — the dedup exchange sits mid-plan and the
# optimizer must not push joins below it.
register_sql(
    "job_q83",
    """
    SELECT CAST(MIN(d.ck) AS BIGINT) AS min_cust,
           MIN(p_name) AS min_part,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_shipdate >= TIMESTAMP '2000-01-01') d
    JOIN customer ON d.ck = c_custkey
    JOIN part ON d.pk = p_partkey
    WHERE c_acctbal > 9000 AND p_type = 'PROMO'
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Top-1-per-group derived node: each customer's single largest order
# (ROW_NUMBER = 1 — Spark plans WindowGroupLimit) feeding the join chain.
register_sql(
    "job_q84",
    """
    SELECT CAST(MIN(big.o_orderkey) AS BIGINT) AS min_orderkey,
           MIN(c_name) AS min_cust,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT o_custkey, o_orderkey, o_totalprice
          FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC, o_orderkey) AS rn
                FROM orders) t WHERE rn = 1) big
    JOIN customer ON big.o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = big.o_orderkey
    JOIN part ON l_partkey = p_partkey
    WHERE c_mktsegment = 'FURNITURE' AND p_size > 40
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Combination variant: NOT LIKE on two dims + a quantity band + a semi
# branch against events — the three predicate families q63/q58/q85 stress
# individually, in ONE graph.
register_sql(
    "job_q85",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN part ON l_partkey = p_partkey
    WHERE p_name NOT LIKE '%ring'
      AND l_quantity BETWEEN 35 AND 45
      AND n_name NOT LIKE '%_1'
      AND EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey
                  AND event_type = 'signup')
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Round-11 second wave: selectivity/structure VARIANTS of the proven
# templates — JOB's own a/b/c/d discipline (113 queries are 33 templates
# X shifted constants; each variant's shifted selectivity product flips
# the optimal join order, which is exactly what the benchmark measures).

# family-1 variant: equality far-end filters (brand + segment + year).
register_sql(
    "job_q86",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(c_name) AS min_cust,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#22'
      AND c_mktsegment = 'HOUSEHOLD'
      AND o_orderdate >= TIMESTAMP '1999-01-01' AND o_orderdate < TIMESTAMP '2000-01-01'
    """,
    tags=("job",),
)


# family-6 variant: double dimension chains pinned AMERICA x AFRICA with a
# narrow retail-price band replacing the year filter's selectivity.
register_sql(
    "job_q87",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(cn.n_name) AS min_cust_nation,
           MIN(sn.n_name) AS min_supp_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    JOIN part ON l_partkey = p_partkey
    WHERE cr.r_name = 'AMERICA' AND sr.r_name = 'AFRICA'
      AND p_retailprice BETWEEN 940 AND 960
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    """,
    tags=("job",),
)


# family-3 variant: IN-lists moved to type/priority, band on discount, and
# a supplier balance cut.
register_sql(
    "job_q88",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           MIN(s_name) AS min_supp,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE p_type IN ('SMALL', 'LARGE')
      AND o_orderpriority IN ('3-MEDIUM', '4-NOT SPECIFIED')
      AND l_discount BETWEEN 0.08 AND 0.1
      AND s_acctbal < 2000
    """,
    tags=("job",),
)


# semi+anti variant over the BEHAVIORAL table: signed-up users with no
# high-value error event — both branches against events, different preds.
register_sql(
    "job_q89",
    """
    SELECT CAST(MIN(c_custkey) AS BIGINT) AS min_cust,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'AFRICA'
      AND EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey
                  AND event_type = 'signup')
      AND NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey
                      AND event_type = 'error' AND value > 250)
    """,
    tags=("job",),
)


# family-18 variant: multiplicative theta edge (the follow-up order is
# less than HALF the first) across a 1995->1996 year step.
register_sql(
    "job_q90",
    """
    SELECT CAST(MIN(o1.o_orderkey) AS BIGINT) AS min_o1,
           CAST(MIN(o2.o_orderkey) AS BIGINT) AS min_o2,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders o1
    JOIN orders o2 ON o1.o_custkey = o2.o_custkey
      AND o2.o_totalprice < o1.o_totalprice * 0.5
    JOIN customer ON o1.o_custkey = c_custkey
    WHERE o1.o_orderdate >= TIMESTAMP '1995-01-01' AND o1.o_orderdate < TIMESTAMP '1996-01-01'
      AND o2.o_orderdate >= TIMESTAMP '1996-01-01' AND o2.o_orderdate < TIMESTAMP '1997-01-01'
      AND o1.o_totalprice > 400000
    """,
    tags=("job",),
)


# LIKE-chain f-variant: brand prefix + mid-word space pattern + name prefix.
register_sql(
    "job_q91",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           MIN(c_name) AS min_cust,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE p_brand LIKE 'Brand#2%'
      AND p_name LIKE '% r%'
      AND c_name LIKE 'Customer#00000%'
      AND o_orderstatus = 'F'
      AND l_returnflag <> 'N'
    """,
    tags=("job",),
)


# balanced monster variant: 18 predicates split evenly across facts and
# dims, plus the shared-region clique edge (cn.reg = sn.reg).
register_sql(
    "job_q92",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN part ON l_partkey = p_partkey
    WHERE l_quantity > 25 AND l_discount < 0.05 AND l_returnflag = 'A'
      AND l_shipdate >= TIMESTAMP '1997-06-01' AND l_shipdate < TIMESTAMP '1998-06-01'
      AND o_totalprice > 100000 AND o_orderstatus = 'F'
      AND c_acctbal > 2000 AND c_mktsegment IN ('BUILDING', 'MACHINERY')
      AND p_size > 25 AND p_type <> 'PROMO' AND p_brand NOT LIKE '%4'
      AND s_acctbal BETWEEN 1000 AND 8000
      AND cn.n_regionkey = sn.n_regionkey
    """,
    tags=("job",),
)


# aggregate-node variant (family 20): per-supplier revenue derived relation
# gated by a HAVING-like filter, then the dimension chain.
register_sql(
    "job_q93",
    """
    SELECT CAST(MIN(s_suppkey) AS BIGINT) AS min_supp,
           MIN(n_name) AS min_nation,
           ROUND(MIN(r.rev), 2) AS min_rev,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT l_suppkey AS sk, SUM(l_extendedprice * (1 - l_discount)) AS rev
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
          GROUP BY l_suppkey) r
    JOIN supplier ON r.sk = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE' AND r.rev > 1000000
    """,
    tags=("job",),
)


# cycle variant (family 22): domestic-supply cycle under a 2000 date band
# and a price floor instead of LIKE predicates.
register_sql(
    "job_q94",
    """
    SELECT CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN part ON l_partkey = p_partkey
    WHERE o_orderdate >= TIMESTAMP '2000-01-01' AND o_orderdate < TIMESTAMP '2001-01-01'
      AND p_retailprice > 980
    """,
    tags=("job",),
)


# outer-mid-chain variant (family of q43): suppliers left-joined to one
# month of their lines — null-extended suppliers (no Jan-2000 shipments)
# must survive; COALESCE makes them countable.
register_sql(
    "job_q95",
    """
    SELECT CAST(MIN(s_suppkey) AS BIGINT) AS min_supp,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(l_orderkey) AS BIGINT) AS matched
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    LEFT JOIN lineitem ON l_suppkey = s_suppkey
      AND l_shipdate >= TIMESTAMP '2000-01-01' AND l_shipdate < TIMESTAMP '2000-02-01'
    WHERE r_name = 'AMERICA' AND s_acctbal > 3000
    """,
    tags=("job",),
)


# --------------------------------------------------------------------------
# Round-11 third wave (q96-q113): completes the 113-query count parity
# with the reference corpus (join_order_benchmark.cpp) — each remains a
# structurally distinguishable graph/predicate combination, not a clone.

# mid-chain-only selectivity: ALL filtering sits on orders, ends open.
register_sql(
    "job_q96",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderpriority = '5-LOW' AND o_totalprice < 20000
    """,
    tags=("job",),
)


# IN + NOT IN mixed on one dim, IN on another.
register_sql(
    "job_q97",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_brand IN ('Brand#6', 'Brand#16') AND p_size NOT IN (1, 2, 3)
      AND n_name IN ('NATION_3', 'NATION_8', 'NATION_13')
    """,
    tags=("job",),
)


# same-region BOTH sides + nation inequality (intra-EUROPE cross-border).
register_sql(
    "job_q98",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(cn.n_name) AS min_cust_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    WHERE cr.r_name = 'EUROPE' AND sr.r_name = 'EUROPE'
      AND cn.n_nationkey <> sn.n_nationkey
      AND l_shipdate >= TIMESTAMP '1999-06-01' AND l_shipdate < TIMESTAMP '1999-09-01'
    """,
    tags=("job",),
)


# semi on one dim, anti on another, both from the fact.
register_sql(
    "job_q99",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey AND p_type = 'MEDIUM')
      AND NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
      AND o_orderdate >= TIMESTAMP '2001-01-01'
    """,
    tags=("job",),
)


# date theta INSIDE the join condition: late shipments (> order + 60 days).
register_sql(
    "job_q100",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(c_name) AS min_cust,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING' AND o_orderpriority = '1-URGENT'
    """,
    tags=("job",),
)


# rare-adjective LIKE + supplier suffix + singleton IN.
register_sql(
    "job_q101",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    WHERE p_name LIKE 'cold%' AND s_name LIKE '%5'
      AND o_orderpriority IN ('2-HIGH')
    """,
    tags=("job",),
)


# behavioral leg with a value band, joined into the relational chain.
register_sql(
    "job_q102",
    """
    SELECT CAST(MIN(event_id) AS BIGINT) AS min_event,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events JOIN customer ON user_id = c_custkey
    JOIN orders ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE event_type = 'click' AND value > 350
      AND o_orderdate >= TIMESTAMP '2000-01-01' AND o_orderdate < TIMESTAMP '2001-01-01'
    """,
    tags=("job",),
)


# orders x3 variant keyed on STATUS (not year): one P, one O, one F.
register_sql(
    "job_q103",
    """
    SELECT CAST(MIN(c_custkey) AS BIGINT) AS min_cust,
           CAST(MIN(o1.o_orderkey) AS BIGINT) AS min_p_order,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer
    JOIN orders o1 ON o1.o_custkey = c_custkey
    JOIN orders o2 ON o2.o_custkey = c_custkey
    JOIN orders o3 ON o3.o_custkey = c_custkey
    WHERE o1.o_orderstatus = 'P' AND o2.o_orderstatus = 'O' AND o3.o_orderstatus = 'F'
      AND o1.o_totalprice > 300000
      AND o2.o_totalprice > 300000 AND o3.o_totalprice > 300000
    """,
    tags=("job",),
)


# anti whose exclusion predicate is itself a DISJUNCTION.
register_sql(
    "job_q104",
    """
    SELECT CAST(MIN(c_custkey) AS BIGINT) AS min_cust,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE NOT EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND (o_orderstatus = 'P' OR o_totalprice > 450000))
      AND c_acctbal > 9000
    """,
    tags=("job",),
)


# CROSS-TABLE correlated scalar: supplier balance vs the average CUSTOMER
# balance of the supplier's own nation — the correlation key bridges two
# different dimension tables.
register_sql(
    "job_q105",
    """
    SELECT CAST(MIN(s_suppkey) AS BIGINT) AS min_supp,
           MIN(n_name) AS min_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM supplier s
    JOIN nation ON s.s_nationkey = n_nationkey
    WHERE s.s_acctbal > (SELECT AVG(c_acctbal) FROM customer c
                         WHERE c.c_nationkey = s.s_nationkey)
      AND n_name LIKE 'NATION_2%'
    """,
    tags=("job",),
)


# derived-month equality (function-wrapped date: December orders of any
# year) + a tight price band — unpushable date predicate by design.
register_sql(
    "job_q106",
    """
    SELECT CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           MIN(c_name) AS min_cust,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE EXTRACT(MONTH FROM o_orderdate) = 12
      AND o_totalprice BETWEEN 350000 AND 450000
      AND c_acctbal < 500
    """,
    tags=("job",),
)


# all-dims star with regionkey literals on both nation copies and a
# quantity EQUALITY (the rarest fact predicate form).
register_sql(
    "job_q107",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE c_acctbal > 0 AND p_size < 25 AND s_acctbal > 0
      AND cn.n_regionkey = 2 AND sn.n_regionkey = 3
      AND l_quantity = 1
    """,
    tags=("job",),
)


# same-part cross-ORDER self-join with a time-inversion theta (an earlier
# ship in a later order) — two theta terms on different columns.
register_sql(
    "job_q108",
    """
    SELECT CAST(MIN(l1.l_orderkey) AS BIGINT) AS min_o1,
           CAST(MIN(l2.l_orderkey) AS BIGINT) AS min_o2,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem l1
    JOIN lineitem l2 ON l1.l_partkey = l2.l_partkey
      AND l1.l_orderkey < l2.l_orderkey
      AND l2.l_shipdate < l1.l_shipdate
    JOIN part ON l1.l_partkey = p_partkey
    WHERE p_type = 'PROMO' AND p_size > 45
      AND l1.l_shipdate >= TIMESTAMP '2001-06-01'
    """,
    tags=("job",),
)


# aggregate OF an aggregate as the graph node: per-nation average of the
# per-customer lifetime totals — two grouping levels before any dim join.
register_sql(
    "job_q109",
    """
    SELECT CAST(MIN(n_nationkey) AS INT) AS min_nation_key,
           MIN(n_name) AS min_nation,
           ROUND(MIN(avg_tot), 2) AS min_avg_total,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT c_nationkey AS nk, AVG(tot) AS avg_tot
          FROM (SELECT c_custkey, c_nationkey, SUM(o_totalprice) AS tot
                FROM customer JOIN orders ON o_custkey = c_custkey
                GROUP BY c_custkey, c_nationkey) per_cust
          GROUP BY c_nationkey) per_nation
    JOIN nation ON nk = n_nationkey
    WHERE avg_tot > 400000
    """,
    tags=("job",),
)


# EXISTS whose inner body is a 2-way join WITH a LIKE — the semi branch
# carries its own string predicate.
register_sql(
    "job_q110",
    """
    SELECT CAST(MIN(p_partkey) AS BIGINT) AS min_part,
           MIN(p_name) AS min_name,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM part
    WHERE EXISTS (SELECT 1 FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                  WHERE l_partkey = p_partkey AND s_name LIKE '%99'
                    AND l_quantity > 30)
      AND p_name LIKE 'new%'
    """,
    tags=("job",),
)


# outer join BELOW a dim equality: the nation filter must still apply to
# null-extended customers (it sits on the preserved side).
register_sql(
    "job_q111",
    """
    SELECT CAST(MIN(c_custkey) AS BIGINT) AS min_cust,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(o_orderkey) AS BIGINT) AS matched
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-03-01'
    JOIN nation ON c_nationkey = n_nationkey
    WHERE n_name = 'NATION_11'
    """,
    tags=("job",),
)


# IN-subquery against a WINDOW-derived set (top-3 orders per status).
register_sql(
    "job_q112",
    """
    SELECT CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders
    WHERE o_orderkey IN (
      SELECT o_orderkey FROM (
        SELECT o_orderkey, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) t WHERE rn <= 3)
    """,
    tags=("job",),
)


# closing kitchen sink: 8 relations + a behavioral semi + two NOT LIKEs +
# a band + a suffix LIKE + an IN — the 113th query.
register_sql(
    "job_q113",
    """
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           MIN(p_name) AS min_part,
           MIN(cn.n_name) AS min_cust_nation,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN part ON l_partkey = p_partkey
    WHERE cr.r_name IN ('ASIA', 'MIDDLE EAST')
      AND sn.n_name NOT LIKE '%_2'
      AND p_name LIKE '%bolt'
      AND l_quantity BETWEEN 10 AND 20
      AND o_totalprice > 50000
      AND c_name NOT LIKE '%7'
      AND EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey
                  AND event_type = 'view')
    """,
    tags=("job",),
)
