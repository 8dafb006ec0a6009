"""Analytic superset — grouping sets / rollup / cube, pivot / unpivot,
approximate sketches.

The reference has none of these ("No grouping sets / cube / rollup ... no
approx_count_distinct-style sketches", SURVEY.md §2.4) — they come free with
Spark and round out the OLAP surface its users would expect. Sketch queries
whose output is approximate by construction register without an oracle
(driver's rows-only check) but pin their error bounds in tests/.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hyrise_spark.catalog import load_tables
from hyrise_spark.registry import register, register_sql


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    tabs = load_tables(spark, sf_dir, names)
    return [tabs[n] for n in names]


register_sql(
    "agg_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("aggregate", "rollup"),
)


register_sql(
    "agg_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           ROUND(SUM(o_totalprice), 2) AS total, COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("aggregate", "cube"),
)


register_sql(
    "agg_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("aggregate", "grouping-sets"),
)


# Pivot: avg-free (deterministic SUM) wide table of order counts by status.
register_sql(
    "pivot_status_by_priority",
    """
    SELECT o_orderpriority,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS F,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS O,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS P
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("pivot",),
)


# Unpivot (melt/stack): wide -> long over part price/size attributes.
register_sql(
    "unpivot_part_attrs",
    """
    SELECT p_partkey, attr, val FROM (
      SELECT p_partkey, 'retailprice' AS attr, p_retailprice AS val FROM part
      UNION ALL
      SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
    ) u WHERE p_partkey < 100
    """,
    tags=("unpivot",),
)


# Approximate sketches: output is estimator-specific -> rows-only check here;
# tests/test_sketches.py pins the error bounds against exact values.
@register("sketch_approx_distinct", oracle=None, tags=("sketch",))
def sketch_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    # Approx ONLY: mixing approx_count_distinct with an exact count_distinct
    # in one agg makes Catalyst plan them as separate subplans joined back
    # (5x slower measured); the exact comparison lives in the test instead.
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.05).alias("approx_orders")
    )


@register("sketch_percentile_approx", oracle=None, tags=("sketch",))
def sketch_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the one-pass multi-quantile sketch still computes all three cut
    # points in a single aggregate; the array is unpacked to scalar
    # columns at the output boundary (registry contract: no complex
    # output types — tests/test_registry_schema.py)
    (li,) = _t(spark, sf_dir, "lineitem")
    pcts = F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], 10000)
    return li.agg(
        F.element_at(pcts, 1).alias("p50"),
        F.element_at(pcts, 2).alias("p95"),
        F.element_at(pcts, 3).alias("p99"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )


# ---------------------------------------------------------------------------
# Deterministic mergeable sketches (round 6): unlike the two approx_* ops
# above (engine-specific estimators, rows-only), these two construct their
# sketch STATE with explicit md5-derived hashes, so the full state is
# hash-checked against DuckDB — and the state is what matters at 100 TB:
# both are one partial-agg pass, and two sketches built on disjoint data
# merge by cellwise-add (count-min) / bitwise-OR (Bloom).
_CM_DEPTH = 4      # hash rows
_CM_WIDTH = 64     # buckets per row
_BLOOM_WORDS = 32  # 32 words x 63 usable bits = 2016 bits (63, not 64:
                   # DuckDB signed BIGINT overflows on 1 << 63, so the top
                   # bit of each word stays unused on BOTH engines)
_BLOOM_HASHES = 3


# The depth hash rows are disjoint 6-hex-char (24-bit) windows of ONE md5
# of the value — the double-hashing convention: md5 bits are uniform, so
# the windows act as independent hash functions, and the value is digested
# once per row instead of once per (row, depth). Catalyst's subexpression
# elimination shares the single md5 across the depth expressions.
def _cm_hash_sql(row: int, expr: str) -> str:
    return (f"CAST(concat('0x', substr(md5(CAST({expr} AS VARCHAR)), {1 + row * 6}, 6)) "
            f"AS BIGINT) % {_CM_WIDTH}")


def _cm_hash_spark(row: int, col) -> "F.Column":
    import pyspark.sql.functions as F  # noqa: F811

    return (
        F.conv(
            F.substring(F.md5(col.cast("string")), 1 + row * 6, 6),
            16, 10,
        ).cast("long") % _CM_WIDTH
    )


@register(
    "sketch_count_min",
    oracle=f"""
    WITH rows_h AS (
      SELECT r.d AS d,
             {" ".join("")}CASE r.d
               WHEN 0 THEN {_cm_hash_sql(0, "l_partkey")}
               WHEN 1 THEN {_cm_hash_sql(1, "l_partkey")}
               WHEN 2 THEN {_cm_hash_sql(2, "l_partkey")}
               ELSE {_cm_hash_sql(3, "l_partkey")} END AS bucket
      FROM lineitem, LATERAL (SELECT UNNEST(generate_series(0, {_CM_DEPTH - 1})) AS d) r
    )
    SELECT CAST(d AS INT) AS d, CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM rows_h GROUP BY d, bucket ORDER BY d, bucket
    """,
    tags=("sketch", "countmin"),
)
def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch state over l_partkey: depth x width cell counts from
    md5-derived hash rows. One explode(depth) + one partial-agg groupBy —
    shuffle carries at most depth*width rows per partition. Point estimate =
    min over d of cell(d, h_d(x)), >= true frequency; merge = cellwise add.
    tests/test_sketches.py pins the overestimate-only property."""
    (li,) = _t(spark, sf_dir, "lineitem")
    cells = li.select(
        F.posexplode(
            F.array(*[_cm_hash_spark(d, F.col("l_partkey")) for d in range(_CM_DEPTH)])
        ).alias("d", "bucket")
    )
    return (
        cells.groupBy(F.col("d").cast("int").alias("d"), F.col("bucket").cast("int").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("d", "bucket")
    )


@register(
    "sketch_bloom_build",
    oracle=f"""
    WITH bits AS (
      SELECT DISTINCT
             CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)),
                  1 + h.i * 8, 8)) AS BIGINT)
               % {_BLOOM_WORDS * 63} AS bit
      FROM lineitem, LATERAL (SELECT UNNEST(generate_series(0, {_BLOOM_HASHES - 1})) AS i) h
    )
    SELECT CAST(bit // 63 AS INT) AS word_idx,
           CAST(bit_or(1::BIGINT << (bit % 63)) AS BIGINT) AS word
    FROM bits GROUP BY 1 ORDER BY 1
    """,
    tags=("sketch", "bloom"),
)
def sketch_bloom_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter bitset over l_partkey (the explicit form of the runtime
    Bloom join filters session.py enables): k md5-derived bit positions per
    key, OR-folded into 64-bit words. One explode(k) + distinct + partial-agg
    bit_or; merge across partitions/tables = bitwise OR of words. Membership
    false-positive bound pinned in tests/test_sketches.py."""
    (li,) = _t(spark, sf_dir, "lineitem")

    # k bit positions = disjoint 8-hex-char windows of ONE md5 per key
    # (double-hashing convention, same as the count-min rows): the value is
    # digested once, not once per hash — CSE shares the md5 expression.
    def bit_for(i: int):
        return (
            F.conv(
                F.substring(F.md5(F.col("l_partkey").cast("string")), 1 + i * 8, 8),
                16, 10,
            ).cast("long") % (_BLOOM_WORDS * 63)
        )

    bits = (
        li.select(
            F.explode(F.array(*[bit_for(i) for i in range(_BLOOM_HASHES)])).alias("bit")
        )
        .distinct()
    )
    return (
        bits.groupBy((F.col("bit") / 63).cast("int").alias("word_idx"))
        # shiftleft's python binding wants a literal shift; the SQL form
        # accepts a column expression
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bit % 63 AS INT)))").alias("word"))
        .orderBy("word_idx")
    )


# ---------------------------------------------------------------------------
# Exact second-moment statistics: correlation / covariance / regression
# slope from INTEGER moment sums. The reference's aggregate vocabulary stops
# at STDDEV_SAMP (aggregate_hash.cpp); Spark/DuckDB both have corr()
# built-ins, but their streaming float accumulations differ across engines
# and partition orders — so the registered query computes the five integer
# moments exactly (one partial-agg pass, same as any SUM) and derives the
# statistics with one fixed IEEE expression per row: same integers in, same
# doubles out, hash-matchable. This is also the 100 TB design: integer
# moments are mergeable partial aggregates (the textbook one-pass parallel
# corr), while Welford-style streaming floats are order-sensitive.


register_sql(
    "aggregate_corr_moments",
    """
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS sy,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)
                      * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS sxy,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)
                      * CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sx2,
             CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)
                      * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS sy2
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy)), 6)
             AS corr_qty_disc,
           ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)), 6)
             AS covar_samp_qty_disc,
           ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx), 6)
             AS regr_slope_disc_on_qty
    FROM m ORDER BY l_returnflag
    """,
    tags=("aggregate", "statistics"),
)


# ---------------------------------------------------------------------------
# Exact percentiles via the value histogram. percentile_disc(p) = the
# smallest value whose cumulative count reaches ceil(p * n / 100). Engines
# disagree on built-in quantile interpolation conventions, so both sides
# compute this single rank-based definition explicitly. The scale property:
# the cumulative window runs over the per-group VALUE HISTOGRAM (bounded by
# the number of distinct values — 50 here), never over raw rows; this is
# exactly how a distributed engine computes exact percentiles when the
# domain is compact, and the t-digest/approx path (approx_quantile_*) is
# the fallback when it is not.

_PCTS = (25, 50, 75, 90)


register_sql(
    "aggregate_percentile_disc",
    f"""
    WITH hist AS (
      SELECT l_returnflag, CAST(ROUND(l_quantity) AS BIGINT) AS q,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT l_returnflag, q, cnt,
             SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY q
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
      FROM hist
    ),
    p AS ({" UNION ALL ".join(f"SELECT {p} AS pct" for p in _PCTS)})
    SELECT l_returnflag, CAST(pct AS INTEGER) AS pct,
           CAST(MIN(q) AS BIGINT) AS val
    FROM cum CROSS JOIN p
    WHERE cum * 100 >= pct * n
    GROUP BY l_returnflag, pct
    ORDER BY l_returnflag, pct
    """,
    tags=("aggregate", "percentile"),
)


# ---------------------------------------------------------------------------
# Ordered-set-style aggregates the reference lacks entirely: LISTAGG
# (SQL:2016 T625) and a deterministic MODE. The registered oracle spells
# each in the engines' respective dialects (Spark: LISTAGG ... WITHIN
# GROUP; DuckDB: string_agg(... ORDER BY)) — the ORDER BY inside the
# aggregate is what makes the result well-defined and hash-comparable.


@register(
    "aggregate_listagg",
    oracle="""
    SELECT o_orderstatus,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey)
             AS keys_csv
    FROM orders WHERE o_orderkey <= 64
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tags=("aggregate", "listagg"),
)
def aggregate_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG with an explicit WITHIN GROUP order (Spark 4's ordered-set
    form; DuckDB oracle spells it string_agg ORDER BY). The in-aggregate
    sort runs per group over the filtered slice; unordered LISTAGG is
    nondeterministic under parallel merge — the ordered form is the only
    distributed-safe one, which is why the query pins it."""
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderkey") <= 64)
        .groupBy("o_orderstatus")
        .agg(
            F.expr(
                "listagg(CAST(o_orderkey AS STRING), ',')"
                " WITHIN GROUP (ORDER BY o_orderkey)"
            ).alias("keys_csv")
        )
        .orderBy("o_orderstatus")
    )


@register(
    "aggregate_mode_manual",
    oracle="""
    WITH h AS (
      SELECT l_returnflag, CAST(ROUND(l_quantity) AS BIGINT) AS q,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    mx AS (SELECT l_returnflag, MAX(c) AS mc FROM h GROUP BY l_returnflag)
    SELECT h.l_returnflag, CAST(MIN(h.q) AS BIGINT) AS mode_val,
           CAST(mx.mc AS BIGINT) AS mode_count
    FROM h JOIN mx ON mx.l_returnflag = h.l_returnflag AND h.c = mx.mc
    GROUP BY h.l_returnflag, mx.mc
    ORDER BY h.l_returnflag
    """,
    tags=("aggregate", "mode"),
)
def aggregate_mode_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE with a deterministic tie-break (smallest value wins) — engines'
    built-in mode() functions break ties arbitrarily, so the query states
    the histogram-argmax explicitly: value-count histogram (partial agg),
    per-group max count, min value at that count. Everything after the
    first groupBy is histogram-sized.

    Kept over its oracle text, which Catalyst plans with the histogram
    aggregation per read of h: 6 Exchanges against 5 here (4 final + 1 in
    the hub) at sf0.01 and sf0.1, and 1.13x the time in an interleaved A/B
    at sf0.1 (0.720 vs 0.636 s)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    # h is a hub (the max branch AND the join read it): truncate so the
    # lineitem scan + histogram agg run once, not per branch. Histogram-sized.
    h = li.groupBy(
        "l_returnflag", F.floor(F.col("l_quantity") + F.lit(0.5)).alias("q")
    ).agg(F.count(F.lit(1)).alias("c")).localCheckpoint(eager=False)
    mx = h.groupBy("l_returnflag").agg(F.max("c").alias("mc"))
    return (
        h.join(mx, "l_returnflag")
        .filter(F.col("c") == F.col("mc"))
        .groupBy("l_returnflag", "mc")
        .agg(F.min("q").alias("mode_val"))
        .select("l_returnflag", "mode_val", F.col("mc").alias("mode_count"))
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier) — Börzsönyi et al. 2001. The reference has no
# skyline operator; the classic OLAP formulation is the NOT EXISTS dominance
# query (the oracle below). A naive distributed evaluation is an all-pairs
# dominance join; the implementation instead uses the bucketed prefix-max
# decomposition: with price on a fixed lattice, domination against CHEAPER
# rows reduces to two running-max-of-size lookups (strictly-cheaper buckets +
# strictly-cheaper prices within the bucket), both over bounded domains.

_SKY_BUCKET = 500  # cents per price bucket (~20 buckets over the 900..1000 range)


@register(
    "skyline_price_size",
    oracle="""
    WITH r AS (
      SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
             p_size
      FROM part
    )
    SELECT r.p_partkey, r.cents, r.p_size
    FROM r
    WHERE NOT EXISTS (
      SELECT 1 FROM r b
      WHERE b.cents <= r.cents AND b.p_size >= r.p_size
        AND (b.cents < r.cents OR b.p_size > r.p_size)
    )
    ORDER BY r.cents, r.p_size, r.p_partkey
    """,
    tags=("analytic", "skyline"),
)
def skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal parts (minimize retail price, maximize size): a part
    survives iff no other part is <= on price AND >= on size with at least
    one strict. Scale shape: one partial-agg groupBy to one row per
    (bucket, price-lattice-value), a running max over <= ~50 lattice rows
    per bucket partition, a bucket-level prefix over the fixed ~20-bucket
    domain, then one equi-join back to the base rows — no all-pairs
    dominance join anywhere, and no window ever sees raw-row cardinality.
    The price lattice (cents) is exact: p_retailprice sits on a 0.1 grid,
    so round(*100) is the same integer in both engines.

    Kept over the oracle's NOT EXISTS dominance text, which plans a
    BroadcastNestedLoopJoin — all pairs of parts, quadratic in the part
    count. It ran 0.93x this builder at sf0.1 (0.732 vs 0.783 s), where
    there are only 20k parts."""
    from pyspark.sql import Window

    part = load_tables(spark, sf_dir, ("part",))["part"]
    rows = part.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
        "p_size",
    ).withColumn("bucket", (F.col("cents") / _SKY_BUCKET).cast("long"))

    # One row per distinct price value, carrying the max size at that price.
    pv = rows.groupBy("bucket", "cents").agg(F.max("p_size").alias("pmax"))

    # Bucket-level prefix: max size over all STRICTLY cheaper buckets. The
    # window input is one row per bucket — a fixed ~20-row domain.
    bmax = pv.groupBy("bucket").agg(F.max("pmax").alias("bmax"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    bpref = bmax.select("bucket", F.max("bmax").over(w_b).alias("bprev"))

    # Within-bucket prefix over the price lattice (<= bucket_width/10 rows
    # per partition by construction): max size at strictly cheaper prices.
    w_p = (
        Window.partitionBy("bucket")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pv2 = (
        pv.withColumn("inb_lt", F.max("pmax").over(w_p))
        .join(bpref, "bucket")
        .select(
            "cents",
            "pmax",
            F.greatest(
                F.coalesce(F.col("bprev"), F.lit(-1)),
                F.coalesce(F.col("inb_lt"), F.lit(-1)),
            ).alias("maxlt"),
        )
    )

    # dominated <=> (max size at cheaper price) >= mine, or a strictly
    # larger size exists at my exact price.
    return (
        rows.join(pv2, "cents")
        .filter(~((F.col("maxlt") >= F.col("p_size")) | (F.col("pmax") > F.col("p_size"))))
        .select("p_partkey", "cents", "p_size")
        .orderBy("cents", "p_size", "p_partkey")
    )


# ---------------------------------------------------------------------------
# Join-key skew profile — the diagnostics companion to the salted join
# (operators/joins.py::salted_join) and AQE's skew handling: before shuffling
# 100 TB on a key, profile its heavy hitters. Output: the top-K keys with
# their share in basis points, the fair share (10000 / n_keys), and a skew
# flag at share > 4x fair. All integer division — exact in both engines.

_SKEW_TOPK = 10
_SKEW_FACTOR = 4


@register(
    "aggregate_key_skew_profile",
    oracle=f"""
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS total
      FROM c
    ),
    top AS (
      SELECT user_id, cnt FROM c ORDER BY cnt DESC, user_id LIMIT {_SKEW_TOPK}
    )
    SELECT top.user_id, top.cnt,
           CAST(10000 * top.cnt // t.total AS BIGINT) AS share_bp,
           CAST(10000 // t.n_keys AS BIGINT) AS fair_share_bp,
           CAST(10000 * top.cnt // t.total
                > {_SKEW_FACTOR} * (10000 // t.n_keys) AS BOOLEAN) AS skew_flag
    FROM top CROSS JOIN t
    ORDER BY top.cnt DESC, top.user_id
    """,
    tags=("aggregate", "skew", "diagnostics"),
)
def aggregate_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of the events join key: top-{_SKEW_TOPK} keys,
    basis-point shares vs the fair share, and a >4x-fair skew flag.

    Scale: one partial-agg groupBy on the key (the same shuffle the join
    itself would do, but carrying only counts), TakeOrderedAndProject for
    the head, and a single-row totals frame cross-joined in (scalar
    aggregate — bounded). The profile's cost is a strict lower bound on
    the join it de-risks."""
    (events,) = _t(spark, sf_dir, "events")
    # c feeds the totals scalar and the top-k head: materialize the
    # key-sized count frame once instead of running the fact groupBy twice
    c = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    ).localCheckpoint(eager=False)
    t = c.agg(
        F.count(F.lit(1)).alias("n_keys"), F.sum("cnt").alias("total")
    )
    top = c.orderBy(F.col("cnt").desc(), "user_id").limit(_SKEW_TOPK)
    return (
        top.crossJoin(F.broadcast(t))  # 1-row scalar-aggregate frame
        .select(
            "user_id",
            "cnt",
            F.expr("CAST(10000 * cnt div total AS BIGINT)").alias("share_bp"),
            F.expr("CAST(10000 div n_keys AS BIGINT)").alias("fair_share_bp"),
            F.expr(
                f"CAST(10000 * cnt div total > {_SKEW_FACTOR} * (10000 div n_keys) "
                "AS BOOLEAN)"
            ).alias("skew_flag"),
        )
        .orderBy(F.col("cnt").desc(), "user_id")
    )


# ---------------------------------------------------------------------------
# SQL-standard ordered-set aggregates (SQL:2008 T612): percentile_cont /
# percentile_disc / mode WITHIN GROUP — beyond the reference's aggregate
# vocabulary (window_function_expression.hpp:19-33 has min/max/sum/avg/
# count/stddev only). Inputs stay on the integer lattice (medians of
# integers are exact .0/.5 doubles; the mode groups have strict count
# margins), so both engines agree exactly.


register_sql(
    "aggregate_ordered_set",
    """
    SELECT l_returnflag,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS median_qty,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity)
                AS BIGINT) AS p90_qty,
           mode() WITHIN GROUP (ORDER BY l_linestatus) AS mode_status,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregate", "ordered-set"),
)


# -- round 9: GROUPING()/GROUPING_ID marker functions (SQL:1999 T431) --------
# Distinguishes a real NULL group key from a super-aggregate row — the
# companion every ROLLUP/CUBE consumer needs. IDENTICAL text on both
# engines (Spark and DuckDB both expose GROUPING as 0/1 per column).
_GROUPING_FN_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY g_flag, g_status, l_returnflag, l_linestatus
"""


# GROUPING() over ROLLUP: the 0/1 super-aggregate markers per key —
# same text, two independent implementations of the bitmask.
register_sql(
    "agg_grouping_function",
    _GROUPING_FN_SQL,
    tags=("aggregate", "grouping-sets", "sql"),
)


# -- round 9: TRY_CAST (fallible cast -> NULL; beyond the reference, whose
# lossy_cast.hpp throws on failure) + sorted ARRAY_AGG ----------------------
_TRY_CAST_SQL = """
    SELECT doc_id,
           TRY_CAST(split_part(text, ' ', 1) AS INTEGER) AS first_as_int,
           TRY_CAST(lang AS DOUBLE) AS lang_num,
           TRY_CAST(CAST(n_chars AS VARCHAR(10)) AS INTEGER) AS n_roundtrip
    FROM documents
    WHERE doc_id < 300
    ORDER BY doc_id
"""


# TRY_CAST: failed conversions yield NULL instead of an error (the
# reference's lossy_cast asserts; DuckDB/Spark agree on the NULL
# contract). Same text, both engines; mixes guaranteed-fail,
# data-dependent, and guaranteed-roundtrip casts.
register_sql(
    "projection_try_cast",
    _TRY_CAST_SQL,
    tags=("projection", "cast", "sql"),
)


@register(
    "aggregate_array_agg_sorted",
    oracle="""
    SELECT l_returnflag,
           array_to_string(list_sort(list(DISTINCT l_linestatus)), ',')
               AS statuses,
           CAST(len(list(DISTINCT l_linestatus)) AS BIGINT) AS n_statuses,
           array_to_string(
               list_transform(
                   list_sort(list(DISTINCT CAST(l_quantity AS BIGINT)))[1:5],
                   v -> CAST(v AS VARCHAR)),
               ',') AS smallest_qtys
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregate", "array"),
)
def aggregate_array_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-valued aggregation made deterministic: collect_set is
    unordered on BOTH engines (accumulation order is partition-dependent),
    so every array output is sorted before it leaves the aggregate — the
    only hash-stable contract for array aggregates. slice() bounds the
    per-group payload (the 100 TB rule for any collect_*: never unbounded).

    The arrays are exercised INSIDE the plan (sort_array/slice over
    collect_set) but leave the query as comma-joined strings: registered
    outputs must be scalar-typed so every differential harness (driver
    canonicalizer included) can sort/hash them — enforced registry-wide by
    tests/test_registry_schema.py."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("l_linestatus")), ","
            ).alias("statuses"),
            F.size(F.collect_set("l_linestatus")).cast("long").alias(
                "n_statuses"
            ),
            F.array_join(
                F.transform(
                    F.slice(
                        F.sort_array(
                            F.collect_set(F.col("l_quantity").cast("long"))
                        ),
                        1, 5,
                    ),
                    lambda v: v.cast("string"),
                ),
                ",",
            ).alias("smallest_qtys"),
        )
        .orderBy("l_returnflag")
    )


# -- round 9: PERCENTILE_CONT (SQL:2003 T612 inverse distribution) -----------
# Interpolating companion to the rank-defined percentile_disc family.
# Oracle: DuckDB's NATIVE PERCENTILE_CONT ... WITHIN GROUP. Spark HAS the
# same syntax, but its physical plan is a sort-based aggregate that
# collects each group's values (measured 3.9 s at sf0.1 — the slowest
# plan in the registry); the engine therefore computes the identical
# semantics over the VALUE HISTOGRAM (the aggregate_percentile_disc
# pattern): cumulative counts locate the two bracketing values at
# continuous position p*(n-1), then one IEEE-exact interpolation on the
# integer DOLLAR lattice — the histogram trick needs a BOUNDED value
# domain (cents are ~fully distinct at sf0.1: 583k of 600k; dollars
# compress 6x), which is also its 100 TB contract. Windows run over the
# histogram, never the data.
_PCTL_CONT_ORACLE = """
    SELECT l_returnflag,
           PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY
               CAST(ROUND(l_extendedprice) AS BIGINT)) AS p25_usd,
           PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY
               CAST(ROUND(l_extendedprice) AS BIGINT)) AS med_usd,
           PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY
               CAST(ROUND(l_extendedprice) AS BIGINT)) AS p90_usd
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""

_PCTS_CONT = (25, 50, 90)


@register(
    "aggregate_percentile_cont",
    oracle=_PCTL_CONT_ORACLE,
    tags=("aggregate", "percentile", "sql"),
)
def aggregate_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 13 (§2.4 remove shuffles / §1.2): the bracketing values are
    located with CONDITIONAL MINs inside one aggregation over the
    cumulative histogram — the 0-indexed position k lives in the cents
    whose cumulative range [cum-cnt, cum) contains it, i.e. the SMALLEST
    cents with cum > k — replacing the former checkpoint hub + two
    position-joins + pivot (4 extra jobs and their exchanges). The
    interpolation arithmetic (r = pct/100.0 * (n-1), v_lo + (r-k)*(v_hi -
    v_lo)) is kept expression-identical so the IEEE result matches the
    oracle bit-for-bit.

    Kept over the oracle's PERCENTILE_CONT text, which plans one Exchange
    fewer (2 vs 3) but ran 1.44x the time in an interleaved A/B at sf0.1
    (5.79 vs 4.02 s)."""
    from pyspark.sql import Window

    (li,) = _t(spark, sf_dir, "lineitem")
    # FLOOR(x + 0.5) == ROUND(x) here and skips ROUND's per-row BigDecimal
    # path (the tpch_q1 integer-lattice finding): l_extendedprice is a
    # positive cents-lattice double < 2^52, so x + 0.5 is an EXACT fp add;
    # .50 decimals are exactly representable (k + 1/2), where both FLOOR+0.5
    # and both engines' ROUND go up; every other fraction sits >= 0.01-1e-11
    # from the boundary.
    hist = li.groupBy(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") + F.lit(0.5)).alias("cents"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "l_returnflag", "cents", "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("l_returnflag")).alias("n"),
    )

    def _val_at(k):  # smallest cents whose cumulative count exceeds k
        return F.min(F.when(F.col("cum") > k, F.col("cents")))

    aggs = []
    for p in _PCTS_CONT:
        # n is constant within the group, so k/r are well-defined per row
        r = F.lit(p) / 100.0 * (F.col("n") - 1)
        k = F.floor(r).cast("long")
        aggs.append(_val_at(k).alias(f"lo{p}"))
        aggs.append(_val_at(F.least(k + 1, F.col("n") - 1)).alias(f"hi{p}"))
        aggs.append(F.max(r - k).alias(f"frac{p}"))
    wide = cum.groupBy("l_returnflag").agg(*aggs)

    def _interp(p):
        return F.col(f"lo{p}") + F.col(f"frac{p}") * (
            F.col(f"hi{p}") - F.col(f"lo{p}")
        )

    return wide.select(
        "l_returnflag",
        _interp(25).alias("p25_usd"),
        _interp(50).alias("med_usd"),
        _interp(90).alias("p90_usd"),
    ).orderBy("l_returnflag")


# -- round 9: regular-expression vocabulary ----------------------------------
# regexp_extract group selection agrees between Spark (Java regex) and
# DuckDB (RE2) on the conservative-class patterns used here. DuckDB's
# regexp_replace is FIRST-match by default while Spark's is global — the
# oracle passes the 'g' flag to pin the same global semantics.
@register(
    "projection_regexp",
    oracle=r"""
    SELECT doc_id,
           regexp_extract(text, '([a-z]+) ([a-z]+)', 2) AS second_word,
           regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled_head,
           CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_words
    FROM (SELECT doc_id, substr(text, 1, 40) AS text FROM documents
          WHERE doc_id < 200) t
    ORDER BY doc_id
    """,
    tags=("projection", "regexp"),
)
def projection_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    head = docs.filter(F.col("doc_id") < 200).select(
        "doc_id", F.substring("text", 1, 40).alias("text")
    )
    return head.select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]+) ([a-z]+)", 2).alias("second_word"),
        F.regexp_replace("text", r"[aeiou]", "_").alias("devoweled_head"),
        F.size(F.expr(r"regexp_extract_all(text, '[a-z]+', 0)"))
        .cast("long")
        .alias("n_words"),
    ).orderBy("doc_id")


# -- round 9: SQL-standard PIVOT / UNPIVOT clause (same text, both engines) --
# pivot_status_by_priority / unpivot_part_attrs express the relational op
# via conditional aggregation / stack; these two run the actual
# SQL-standard PIVOT/UNPIVOT *clause* — Spark and DuckDB each parse and
# execute the identical text natively (independent implementations of the
# clause semantics). The outer CASTs pin DuckDB's HUGEINT pivot sums back
# to BIGINT.
_PIVOT_SQL = """
    SELECT priority,
           CAST(open_cents AS BIGINT) AS open_cents,
           CAST(full_cents AS BIGINT) AS full_cents,
           CAST(part_cents AS BIGINT) AS part_cents
    FROM (
      SELECT o_orderpriority AS priority, o_orderstatus AS status,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ) PIVOT (SUM(cents) FOR status
             IN ('O' AS open_cents, 'F' AS full_cents, 'P' AS part_cents))
    ORDER BY priority
"""


# FROM ... PIVOT (agg FOR col IN (...)): one hash aggregate wide —
# same plan Catalyst builds for the conditional-agg spelling.
register_sql(
    "pivot_sql_clause",
    _PIVOT_SQL,
    tags=("pivot", "sql"),
)


_UNPIVOT_SQL = """
    SELECT p_partkey, attr, val
    FROM (
      SELECT p_partkey,
             CAST(p_size AS DOUBLE) AS size_val,
             p_retailprice AS retail_val
      FROM part
      WHERE p_partkey < 400
    ) UNPIVOT (val FOR attr IN (size_val, retail_val))
    ORDER BY p_partkey, attr
"""


# FROM ... UNPIVOT (val FOR attr IN (...)): narrow explode, no
# shuffle — same text on both engines.
register_sql(
    "unpivot_sql_clause",
    _UNPIVOT_SQL,
    tags=("unpivot", "sql"),
)


# -- round 9: BOOL_AND / BOOL_OR aggregates (SQL:1999 EVERY/ANY; native in
# both engines — same-text parity). The reference's aggregate vocabulary
# stops at MIN/MAX/SUM/AVG/COUNT/STDDEV (window_function_expression.hpp:19);
# boolean reducers are the assert-style aggregate a data-quality audit
# composes (pipeline_data_expectations uses the CASE spelling).
_BOOL_AGG_SQL = """
    SELECT o_orderpriority,
           BOOL_AND(o_totalprice > 1000) AS all_over_1k,
           BOOL_OR(o_orderstatus = 'F') AS any_finished,
           BOOL_AND(o_custkey IS NOT NULL) AS custkey_complete,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


# BOOL_AND/BOOL_OR grouped reducers — identical text on both engines
# (independent implementations of the SQL:1999 boolean aggregates).
register_sql(
    "aggregate_bool_and_or",
    _BOOL_AGG_SQL,
    tags=("aggregate", "bool", "sql"),
)


# -- round 11 (VERDICT task 7): deterministic companions for the two
# rows-only sketches. Each engine checks ITS OWN estimator against ITS OWN
# exact value, and the OUTPUT is the boolean "estimate within bounds" —
# hash-checkable TRUE on both engines, so the estimator contract itself
# (not the engine-specific estimate) becomes a hash-green registry row.
register_sql(
    "sketch_approx_distinct_bounds",
    """
    SELECT l_returnflag,
           ABS(approx_count_distinct(l_orderkey) - COUNT(DISTINCT l_orderkey))
             <= CAST(CEIL(3 * 0.05 * COUNT(DISTINCT l_orderkey)) AS BIGINT)
             AS within
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("sketch",),
)


@register(
    "sketch_percentile_bounds",
    oracle="""
    WITH est AS (SELECT approx_quantile(l_extendedprice, 0.5) AS p50,
                        approx_quantile(l_extendedprice, 0.95) AS p95,
                        approx_quantile(l_extendedprice, 0.99) AS p99
                 FROM lineitem),
         r AS (SELECT
                 (SELECT COUNT(*) FROM lineitem, est
                  WHERE l_extendedprice <= p50) AS r50,
                 (SELECT COUNT(*) FROM lineitem, est
                  WHERE l_extendedprice <= p95) AS r95,
                 (SELECT COUNT(*) FROM lineitem, est
                  WHERE l_extendedprice <= p99) AS r99,
                 (SELECT COUNT(*) FROM lineitem) AS cnt)
    SELECT
      r50 BETWEEN CAST(FLOOR(0.48 * cnt) AS BIGINT)
              AND CAST(CEIL(0.52 * cnt) AS BIGINT) AS ok50,
      r95 BETWEEN CAST(FLOOR(0.93 * cnt) AS BIGINT)
              AND CAST(CEIL(0.97 * cnt) AS BIGINT) AS ok95,
      r99 BETWEEN CAST(FLOOR(0.98 * cnt) AS BIGINT) AND cnt AS ok99
    FROM r
    """,
    tags=("sketch",),
)
def sketch_percentile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch RANK contract: the value returned for quantile q
    must sit at a rank within a generous ±2-4% band of q·N (Spark's
    percentile_approx at accuracy 10000 guarantees ~0.01%·N; DuckDB's
    t-digest is comparably tight — both clear the band by orders of
    magnitude). Two passes: one to build the sketch, one broadcast-join
    rank count — no driver-side data path."""
    (li,) = _t(spark, sf_dir, "lineitem")
    est = li.agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("p95"),
        F.percentile_approx("l_extendedprice", 0.99, 10000).alias("p99"),
    )
    r = (
        li.select("l_extendedprice")
        .crossJoin(F.broadcast(est))
        .agg(
            F.sum(F.when(F.col("l_extendedprice") <= F.col("p50"), 1)
                  .otherwise(0)).alias("r50"),
            F.sum(F.when(F.col("l_extendedprice") <= F.col("p95"), 1)
                  .otherwise(0)).alias("r95"),
            F.sum(F.when(F.col("l_extendedprice") <= F.col("p99"), 1)
                  .otherwise(0)).alias("r99"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    c = F.col("cnt")
    return r.select(
        ((F.col("r50") >= F.floor(0.48 * c)) & (F.col("r50") <= F.ceil(0.52 * c))).alias("ok50"),
        ((F.col("r95") >= F.floor(0.93 * c)) & (F.col("r95") <= F.ceil(0.97 * c))).alias("ok95"),
        ((F.col("r99") >= F.floor(0.98 * c)) & (F.col("r99") <= c)).alias("ok99"),
    )
