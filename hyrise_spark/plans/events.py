"""Time-series / event analytics over the `events` table.

The reference has NO streaming or time-series operators (SURVEY.md §2.9);
these are net-new Spark-first capabilities. Batch forms live here with DuckDB
oracles; the structured-streaming forms of the same pipelines are in
hyrise_spark/streaming/ (watermarks + windowed aggs, tested separately since
streams aren't SQL-oracle-able).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from hyrise_spark.catalog import load_tables
from hyrise_spark.registry import register, register_sql


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    tabs = load_tables(spark, sf_dir, names)
    return [tabs[n] for n in names]


# Tumbling-window aggregation (streaming's windowed agg in batch form).
@register(
    "events_tumbling_window",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value,
           COUNT(DISTINCT user_id) AS users
    FROM events
    GROUP BY 1, 2
    """,
    tags=("events", "window-agg"),
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.count_distinct(F.col("user_id")).alias("users"),
        )
    )


# Sliding-window aggregation (hop < width, so every event lands in
# width/hop windows — 1-hour windows every 15 minutes here). Spark's
# native F.window(ts, width, hop) expands each row into its covering
# windows BEFORE the shuffle (a flat generator, not a self-join); the
# oracle derives the same window starts with generate_series. This is the
# batch twin of streaming sliding windows and the shape trend dashboards
# aggregate at any scale — state is bounded by windows-per-row (4 here),
# not data volume.
@register(
    "events_sliding_window",
    oracle="""
    WITH hops AS (SELECT UNNEST(generate_series(0, 3)) AS k),
    expanded AS (
      SELECT DATE_TRUNC('minute', ts)
               - (EXTRACT(minute FROM ts)::INT % 15) * INTERVAL 1 MINUTE
               - k * INTERVAL 15 MINUTE AS win_start,
             event_type, value, user_id
      FROM events, hops
    )
    SELECT STRFTIME(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value,
           COUNT(DISTINCT user_id) AS users
    FROM expanded
    GROUP BY 1, 2
    """,
    tags=("events", "window-agg", "sliding"),
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "15 minutes"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.count_distinct(F.col("user_id")).alias("users"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            "event_type", "n", "total_value", "users",
        )
    )


# Sessionization: gap > 30 min starts a new session (lag + cumulative sum —
# the batch twin of streaming session_window; pyspark_guide.md pattern).
@register(
    "events_sessionize",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM marked
    )
    SELECT user_id, CAST(session_id AS INT) AS session_id, COUNT(*) AS n_events,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start
    FROM sessions
    GROUP BY user_id, session_id
    """,
    tags=("events", "sessionize"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prev_ts = F.lag("ts").over(w)
    # timestamp_diff is NTZ-safe: parquet `ts` has no UTC adjustment, so PySpark 4.x
    # reads it as TIMESTAMP_NTZ and forbids CAST(ts AS BIGINT). Diff at MICROSECOND
    # precision — the 30-minute cutoff is an exact interval comparison, and the data
    # carries sub-second timestamps, so whole-second truncation drops boundary gaps.
    gap_us = F.timestamp_diff("MICROSECOND", prev_ts, F.col("ts"))
    new_session = F.when(prev_ts.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0)
    return (
        events.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(w_run).cast("int"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        )
    )


# Funnel: users who did view -> click -> purchase in order (min-ts chain).
register_sql(
    "events_funnel",
    """
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT
      COUNT(*) AS n_users,
      CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS viewed,
      CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after_view,
      CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click
               THEN 1 ELSE 0 END) AS BIGINT) AS purchased_after_click
    FROM per_user
    """,
    tags=("events", "funnel"),
)


# JSON extraction from the props column (semi-structured payloads; net-new —
# the reference has no nested/JSON types, all_type_variant.hpp:34-40).
@register(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS INT) > 50
    GROUP BY event_type
    """,
    tags=("events", "json"),
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.withColumn("k", k)
        .filter(F.col("k") > 50)
        .groupBy("event_type")
        .agg(F.sum("k").cast("long").alias("sum_k"), F.count(F.lit(1)).alias("n"))
    )


# As-of join: each event matched to the most recent prior order of the same
# "customer" (user_id % customer-key space). The reference has no as-of join
# (SURVEY §2.3 "No as-of / interval / range-join specializations"); idiomatic
# Spark = union-tag + window last_value, scalable (no per-row subquery).
@register(
    "events_asof_join_orders",
    oracle="""
    SELECT e.event_id, e.user_id,
           (SELECT MAX(o.o_orderkey)
            FROM orders o
            WHERE o.o_custkey = e.user_id % 100 AND o.o_orderdate <= e.ts
              AND o.o_orderdate = (SELECT MAX(o2.o_orderdate) FROM orders o2
                                   WHERE o2.o_custkey = e.user_id % 100 AND o2.o_orderdate <= e.ts)
           ) AS last_orderkey
    FROM events e
    WHERE e.event_id < 500
    """,
    tags=("events", "asof-join"),
)
def events_asof_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    events, orders = _t(spark, sf_dir, "events", "orders")
    ev = events.filter(F.col("event_id") < 500).select(
        "event_id", "user_id", (F.col("user_id") % 100).alias("join_key"), F.col("ts").alias("t")
    )
    od = orders.select(
        F.col("o_custkey").alias("join_key"),
        F.col("o_orderdate").alias("t"),
        "o_orderkey",
    )
    # Union-tag approach: interleave both streams on (key, time), carry the
    # running max orderkey of the latest order date seen so far. One shuffle
    # on join_key — scales linearly, no row-by-row probing.
    tagged = ev.select(
        "join_key", "t", F.lit(None).cast("long").alias("o_orderkey"), "event_id", "user_id",
        F.lit(1).alias("is_event"),
    ).unionByName(
        od.select(
            "join_key", "t", "o_orderkey",
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("long").alias("user_id"),
            F.lit(0).alias("is_event"),
        )
    )
    # Orders sort before events at identical timestamps (is_event ASC) so an
    # order dated exactly at the event ts counts as "prior or equal".
    w = (
        Window.partitionBy("join_key")
        .orderBy("t", "is_event")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # max_by over (o_orderdate, o_orderkey): emulate with struct max — the
    # latest order date wins, ties broken by highest orderkey.
    packed = F.when(
        F.col("is_event") == 0, F.struct(F.col("t").alias("od"), F.col("o_orderkey").alias("ok"))
    )
    return (
        tagged.withColumn("last_order", F.max(packed).over(w))
        .filter(F.col("is_event") == 1)
        .select("event_id", "user_id", F.col("last_order.ok").alias("last_orderkey"))
    )


# ---------------------------------------------------------------------------
# Retention cohorts: the classic product-analytics matrix — users grouped by
# the WEEK of their FIRST event (cohort; the driver corpus spans 30 days, so
# weekly is the granularity with signal), counted as active in each later
# week, keyed by week offset. Two partial-agg groupBys + one broadcast join
# (the cohort frame is one row per user, tiny relative to events); no window
# anywhere, so nothing degrades at 100 TB: the wide shuffles are both keyed
# by user_id, the final matrix is |cohorts| x |offsets| rows.
@register(
    "events_retention_cohorts",
    oracle="""
    WITH cohort AS (
      SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS active_week
      FROM events
    )
    SELECT STRFTIME(cohort_week, '%Y-%m-%d') AS cohort,
           CAST(DATEDIFF('day', cohort_week, active_week) / 7 AS INT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM activity JOIN cohort USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("events", "cohort"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    cohort = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    week_offset = (
        F.datediff(F.col("active_week").cast("date"), F.col("cohort_week").cast("date")) / 7
    )
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort"),
            week_offset.cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort", "week_offset")
    )


# Rolling z-score anomaly detection: flag days where a user's event count
# spikes versus their own trailing baseline — the standard ops/abuse
# monitoring primitive. Baseline stats come from EXACT integer sums over the
# trailing frame (n, sum, sum-of-squares), so both engines compute identical
# doubles from identical integers; stddev_samp itself is avoided because the
# engines' accumulation algorithms (naive vs Welford) differ in low bits.
# Scale: one partial-agg groupBy to daily counts, then a window partitioned
# per user — thousands of independent partitions, no global ordering.
_ZS_MIN_BASELINE = 3  # days of history required before scoring


register_sql(
    "events_anomaly_zscore",
    f"""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), framed AS (
      SELECT user_id, day, cnt,
             COUNT(*) OVER w AS n,
             SUM(cnt) OVER w AS s1,
             SUM(cnt * cnt) OVER w AS s2
      FROM daily
      WINDOW w AS (PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, day, cnt,
           CAST(n AS BIGINT) AS n_baseline,
           ROUND((cnt - CAST(s1 AS DOUBLE) / n)
                 / sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)), 4) AS z,
           (cnt - CAST(s1 AS DOUBLE) / n)
             / sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)) > 2.0
             AS is_anomaly
    FROM framed
    WHERE n >= {_ZS_MIN_BASELINE}
      AND s2 * n > s1 * s1  -- nonzero variance: constant baselines can't score
    """,
    tags=("events", "anomaly"),
)


# ---------------------------------------------------------------------------
# Time-series gap-fill with linear interpolation (TimescaleDB
# time_bucket_gapfill / interpolate analog — net-new, the reference has no
# time-series surface). Hourly counts of high-value events per event_type;
# missing hours are materialized from a per-series calendar and filled by
# linear interpolation between the nearest observed neighbors, on a scaled
# integer lattice (millis = value*1000, weighted-average form with a
# non-negative numerator so Spark `div` and DuckDB `//` agree).
#
# Scale design: the interpolation windows run over the POST-AGGREGATION
# frame — (series x calendar hours), which scales with elapsed time, not
# event volume (100 TB of events in a month is still ~720 rows per series
# here). The per-series calendar comes from exploding sequence(min, max)
# per group — no driver-side range generation. Gap position arithmetic
# uses the dense calendar row_number, so no epoch/timezone dependence.

_GAPFILL_THRESHOLD = 180.0


@register(
    "events_gapfill_interpolate",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE value > {_GAPFILL_THRESHOLD}
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
      FROM hourly GROUP BY 1
    ),
    cal AS (
      SELECT event_type, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM bounds
    ),
    j AS (
      SELECT cal.event_type, cal.hour, hourly.n,
             ROW_NUMBER() OVER (PARTITION BY cal.event_type
                                ORDER BY cal.hour) AS t
      FROM cal LEFT JOIN hourly
        ON hourly.event_type = cal.event_type AND hourly.hour = cal.hour
    ),
    m AS (
      SELECT *,
             LAST_VALUE(n IGNORE NULLS) OVER w_p AS prev_n,
             LAST_VALUE(CASE WHEN n IS NOT NULL THEN t END IGNORE NULLS)
               OVER w_p AS prev_t,
             FIRST_VALUE(n IGNORE NULLS) OVER w_n AS next_n,
             FIRST_VALUE(CASE WHEN n IS NOT NULL THEN t END IGNORE NULLS)
               OVER w_n AS next_t
      FROM j
      WINDOW
        w_p AS (PARTITION BY event_type ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_n AS (PARTITION BY event_type ORDER BY t
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type,
           STRFTIME(hour, '%Y-%m-%d %H:%M:%S') AS hour,
           n AS observed,
           CAST(CASE WHEN n IS NOT NULL THEN n * 1000
                ELSE (prev_n * (next_t - t) + next_n * (t - prev_t)) * 1000
                     // (next_t - prev_t) END AS BIGINT) AS filled_millis,
           (n IS NULL) AS is_gap
    FROM m
    """,
    tags=("events", "timeseries"),
)
def events_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly high-value event counts per type with gap-fill: every hour in
    each series' [first, last] observed range appears exactly once; gaps
    carry the linear interpolation between neighbors as
    `filled_millis = interpolated_count * 1000` (exact integer lattice).
    Interior gaps always have both neighbors because the calendar is
    bounded by observed hours.
    """
    (events,) = _t(spark, sf_dir, "events")
    hourly = (
        events.filter(F.col("value") > _GAPFILL_THRESHOLD)
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cal = (
        hourly.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    j = cal.join(hourly, ["event_type", "hour"], "left").withColumn(
        "t",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("hour")
        ),
    )
    w_p = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_n = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_t = F.when(F.col("n").isNotNull(), F.col("t"))
    m = j.select(
        "event_type",
        "hour",
        "n",
        "t",
        F.last("n", ignorenulls=True).over(w_p).alias("prev_n"),
        F.last(obs_t, ignorenulls=True).over(w_p).alias("prev_t"),
        F.first("n", ignorenulls=True).over(w_n).alias("next_n"),
        F.first(obs_t, ignorenulls=True).over(w_n).alias("next_t"),
    )
    filled = F.when(F.col("n").isNotNull(), F.col("n") * 1000).otherwise(
        F.expr(
            "(prev_n * (next_t - t) + next_n * (t - prev_t)) * 1000"
            " div (next_t - prev_t)"
        )
    )
    return m.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.col("n").alias("observed"),
        filled.cast("long").alias("filled_millis"),
        F.col("n").isNull().alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# OHLC candle aggregation (financial time-bucket rollup — net-new; the
# kdb/TimescaleDB candlestick shape). Open/close are order-dependent picks
# (first/last value by timestamp within the bucket): expressed as
# min_by/max_by over a (ts, event_id) struct — ONE partial-aggregable pass,
# no ranking window, deterministic under the event_id tie-break. High/low/
# volume are plain aggregates. Values are picked, never arithmetically
# combined, so DOUBLE round-trips both engines bit-identically.
#
# Scale: groupBy (event_type, day) — bounded groups (types x days), and
# min_by/max_by partial-aggregate map-side like min/max; nothing global.


@register(
    "events_ohlc",
    oracle="""
    -- DuckDB's arg_min/arg_max reject composite ordering keys, so the
    -- oracle states open/close with ranking windows instead; the Spark
    -- side keeps the partial-aggregable min_by/max_by over a
    -- (ts, event_id) struct -- same deterministic pick.
    WITH r AS (
      SELECT event_type,
             STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,
             value,
             ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('day', ts)
                                ORDER BY ts, event_id) AS rf,
             ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('day', ts)
                                ORDER BY ts DESC, event_id DESC) AS rl
      FROM events
    )
    SELECT event_type, day,
           MAX(CASE WHEN rf = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rl = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS volume
    FROM r GROUP BY 1, 2
    """,
    tags=("events", "timeseries"),
)
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        events.groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
    )


# ---------------------------------------------------------------------------
# Exponential moving average. EMA is inherently SEQUENTIAL (each state
# depends on the previous), which a distributed engine cannot shuffle away —
# the scalable shape is: (1) a partial-agg daily rollup collapses event
# volume to a CALENDAR-bounded series per key (100 TB of events in a month
# is still <= 31 rows per series), then (2) the recurrence runs inside one
# row as an array fold. alpha = 1/4 on the integer cents lattice:
# ema_t = floor((v_t + 3 * ema_{t-1}) / 4), seeded with the first day —
# exact and identical on both engines AND the streaming twin: all three
# spell FLOOR division explicitly (Python // floors; DuckDB's integer //
# TRUNCATES toward zero, so the oracle floors through a double), which
# also matches for negative daily sums. DuckDB's seedless list_reduce
# starts at element 1, mirrored in Spark by folding slice(vs, 2, n-1)
# onto vs[1].


@register(
    "events_ema_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(v) AS BIGINT) AS total_cents,
             list(v ORDER BY day) AS vs
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days, total_cents,
           CAST(list_reduce(vs,
                  (acc, x) -> CAST(FLOOR((x + 3 * acc) / 4.0) AS BIGINT))
                AS BIGINT) AS ema_cents
    FROM series ORDER BY event_type
    """,
    tags=("events", "timeseries"),
)
def events_ema_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final daily EMA (alpha=1/4) of summed event value per type, exact on
    the cents lattice. The fold input is the day-ordered daily array —
    array_sort on (day, v) structs makes the collect order deterministic
    under parallel merge."""
    (events,) = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
    series = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("v").alias("total_cents"),
        F.array_sort(F.collect_list(F.struct("day", "v"))).alias("dv"),
    )
    return series.select(
        "event_type",
        "n_days",
        "total_cents",
        F.expr(
            "aggregate(slice(transform(dv, s -> s.v), 2, greatest(size(dv) - 1, 0)),"
            " element_at(transform(dv, s -> s.v), 1),"
            " (acc, x) -> CAST(FLOOR((x + 3 * acc) / 4.0) AS BIGINT))"
        ).alias("ema_cents"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# RFM (recency / frequency / monetary) user segmentation — the classic
# engagement scoring every analytics stack ships. Quartile scoring at scale
# cannot globally rank users (a global window over an unbounded per-user
# frame); the standard trick is to LOG-BUCKET each metric first (bit-length
# = floor(log2) — exact integer on both engines), then score against the
# BOUNDED bucket histogram (<= 64 rows per metric): cum = users at
# better-or-equal buckets via a histogram self-join (no window at all),
# score = 5 - ceil(4 * cum / n) in {1..4}. Exact, deterministic, and every
# frame after the per-user rollup is histogram-sized.


def _rfm_score_sql(lt: str, n: str) -> str:
    # score = 4 - floor(4 * strictly_better / n), in [1, 4]. Counting
    # STRICTLY-better users (not better-or-equal) gives ties the same score
    # and puts a fully-tied metric at 4, not 1 — when every user is equally
    # recent, they are all top-quartile, not bottom. All-positive integer
    # arithmetic (NB: DuckDB's integer `//` truncates toward zero, float
    # `//` floors — positive operands sidestep the divergence).
    return f"4 - ((4 * {lt}) // {n})"


@register(
    "events_rfm_segmentation",
    oracle=f"""
    WITH mx AS (SELECT CAST(MAX(ts) AS DATE) AS d0 FROM events),
    u AS (
      SELECT user_id,
             DATEDIFF('day', CAST(MAX(ts) AS DATE), mx.d0) AS r_days,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
      FROM events CROSS JOIN mx GROUP BY user_id, mx.d0
    ),
    ub AS (
      SELECT user_id, r_days, n_events, total_cents,
             length(printf('%b', n_events)) - 1 AS fb,
             length(printf('%b', total_cents)) - 1 AS mb
      FROM u
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ub),
    rh AS (SELECT r_days AS b, COUNT(*) AS c FROM ub GROUP BY 1),
    fh AS (SELECT fb AS b, COUNT(*) AS c FROM ub GROUP BY 1),
    mh AS (SELECT mb AS b, COUNT(*) AS c FROM ub GROUP BY 1),
    rc AS (SELECT a.b, CAST(COALESCE(SUM(x.c), 0) AS BIGINT) AS cum
           FROM rh a LEFT JOIN rh x ON x.b < a.b GROUP BY a.b),
    fc AS (SELECT a.b, CAST(COALESCE(SUM(x.c), 0) AS BIGINT) AS cum
           FROM fh a LEFT JOIN fh x ON x.b > a.b GROUP BY a.b),
    mc AS (SELECT a.b, CAST(COALESCE(SUM(x.c), 0) AS BIGINT) AS cum
           FROM mh a LEFT JOIN mh x ON x.b > a.b GROUP BY a.b)
    SELECT ub.user_id, CAST(ub.r_days AS BIGINT) AS r_days, ub.n_events,
           ub.total_cents,
           CAST({_rfm_score_sql("rc.cum", "n.n")} AS INTEGER) AS r_score,
           CAST({_rfm_score_sql("fc.cum", "n.n")} AS INTEGER) AS f_score,
           CAST({_rfm_score_sql("mc.cum", "n.n")} AS INTEGER) AS m_score
    FROM ub
    JOIN rc ON rc.b = ub.r_days
    JOIN fc ON fc.b = ub.fb
    JOIN mc ON mc.b = ub.mb
    CROSS JOIN n
    ORDER BY ub.user_id
    """,
    tags=("events", "rfm"),
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user RFM quartile scores (1 = worst, 4 = best). Recency buckets
    on calendar days (bounded by corpus span); frequency/monetary on
    bit-length log buckets — the histogram self-joins and score arithmetic
    run on <= 64-row frames however many users exist."""
    (events,) = _t(spark, sf_dir, "events")
    mx = events.agg(F.max(F.col("ts").cast("date")).alias("d0"))
    u = (
        events.crossJoin(F.broadcast(mx))  # scalar aggregate: one row
        .groupBy("user_id", "d0")
        .agg(
            F.datediff(F.col("d0"), F.max(F.col("ts").cast("date"))).alias("r_days"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
        )
    )
    ub = u.select(
        "user_id",
        F.col("r_days").cast("long").alias("r_days"),
        "n_events",
        "total_cents",
        (F.length(F.expr("bin(n_events)")) - 1).alias("fb"),
        (F.length(F.expr("bin(total_cents)")) - 1).alias("mb"),
        # ub feeds the user-count scalar, all three quartile histograms and
        # the final join — five consumers; materialize the user-sized frame
        # once instead of re-running the events groupBy per branch
    ).localCheckpoint(eager=False)
    n = ub.agg(F.count(F.lit(1)).alias("n"))

    def cum_hist(col: str, better: str) -> DataFrame:
        # count of users at STRICTLY better buckets (LEFT join: the best
        # bucket has none -> 0)
        h = ub.groupBy(F.col(col).alias("b")).agg(F.count(F.lit(1)).alias("c"))
        a = h.select(F.col("b").alias("ba"))
        cond = F.col("b") < F.col("ba") if better == "low" else F.col("b") > F.col("ba")
        return (
            a.join(h, cond, "left")
            .groupBy("ba")
            .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("cum"))
            .select(F.col("ba").alias(f"{col}_b"), F.col("cum").alias(f"{col}_cum"))
        )

    score = lambda cum: (  # noqa: E731 - 4 - floor(4*strictly_better/n)
        F.lit(4) - F.floor((4 * cum).cast("double") / F.col("n")).cast("long")
    ).cast("int")

    return (
        ub.join(cum_hist("r_days", "low"), ub["r_days"] == F.col("r_days_b"))
        .join(cum_hist("fb", "high"), ub["fb"] == F.col("fb_b"))
        .join(cum_hist("mb", "high"), ub["mb"] == F.col("mb_b"))
        .crossJoin(F.broadcast(n))
        .select(
            "user_id",
            "r_days",
            "n_events",
            "total_cents",
            score(F.col("r_days_cum")).alias("r_score"),
            score(F.col("fb_cum")).alias("f_score"),
            score(F.col("mb_cum")).alias("m_score"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over user journeys — the classic product-analytics
# "what do users do next" summary and a first-order behavior model. Each
# user's event stream (ordered by ts, event_id tie-break) yields transitions
# (prev_type -> type); the matrix row normalizes to basis points by INTEGER
# division, so both engines produce identical values.


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    totals AS (
      SELECT prev_type, CAST(SUM(cnt) AS BIGINT) AS row_total
      FROM trans GROUP BY prev_type
    )
    SELECT t.prev_type, t.next_type, t.cnt,
           CAST(10000 * t.cnt // n.row_total AS BIGINT) AS prob_bp
    FROM trans t JOIN totals n ON n.prev_type = t.prev_type
    ORDER BY t.prev_type, t.next_type
    """,
    tags=("events", "markov"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix over per-user event sequences, with
    row-normalized probabilities in basis points.

    Scale: the LAG window is partitioned by user_id (bounded per-user
    state, never a global window); transition counting is a partial-agg
    groupBy whose output is |event_type|^2 rows — a constant-size frame
    that AQE broadcasts for the row-total join. One shuffle of (user)
    sequence data, then constant-size work."""
    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = trans.groupBy("prev_type").agg(F.sum("cnt").alias("row_total"))
    return (
        trans.join(totals, "prev_type")
        .select(
            "prev_type",
            "next_type",
            "cnt",
            F.expr("CAST(10000 * cnt div row_total AS BIGINT)").alias("prob_bp"),
        )
        .orderBy("prev_type", "next_type")
    )


# ---------------------------------------------------------------------------
# Windowed funnel (ClickHouse windowFunnel semantics, EXISTS-chain form):
# a user reaches level L when SOME ordered chain of step events fits inside
# the window anchored at its first step — view -> click -> purchase with
# purchase.ts <= view.ts + T. Unlike `events_funnel` (min-timestamp
# approximation over a user's whole history), this admits ANY qualifying
# chain, which is the product-analytics semantics. Scale: every join is keyed
# on user_id with a range predicate on top — never cross-user; the (view x
# click) pairs collapse to the EARLIEST qualifying click per view (the
# purchase deadline is anchored at the VIEW), and the purchase step is a
# semi join, so no intermediate exceeds one row per view event.

_WF_WINDOW = "12 HOUR"  # calibrated: levels 150/136/36 on the test corpus


register_sql(
    "events_window_funnel",
    f"""
    WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    l1 AS (SELECT DISTINCT user_id FROM v),
    l2 AS (
      SELECT DISTINCT v.user_id FROM v
      JOIN c ON c.user_id = v.user_id AND c.ts > v.ts
            AND c.ts <= v.ts + INTERVAL {_WF_WINDOW}
    ),
    l3 AS (
      SELECT DISTINCT v.user_id FROM v
      JOIN c ON c.user_id = v.user_id AND c.ts > v.ts
            AND c.ts <= v.ts + INTERVAL {_WF_WINDOW}
      JOIN p ON p.user_id = v.user_id AND p.ts > c.ts
            AND p.ts <= v.ts + INTERVAL {_WF_WINDOW}
    ),
    u AS (SELECT DISTINCT user_id FROM events)
    SELECT u.user_id,
           CAST(CASE WHEN l3.user_id IS NOT NULL THEN 3
                     WHEN l2.user_id IS NOT NULL THEN 2
                     WHEN l1.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS funnel_level
    FROM u
    LEFT JOIN l1 ON l1.user_id = u.user_id
    LEFT JOIN l2 ON l2.user_id = u.user_id
    LEFT JOIN l3 ON l3.user_id = u.user_id
    ORDER BY u.user_id
    """,
    tags=("events", "funnel"),
)


# ---------------------------------------------------------------------------
# Trajectory similarity by grid signature (the ICDE'19 road-network
# trajectory-join shape, re-expressed for behavior streams): each user's
# (day, value-band) visit set is a grid signature; similar users share
# cells, so candidates come from a cell equi-join with a hot-cell df-cap —
# the same lossless-candidate pattern as the shingle-join dedup, applied to
# trajectories. Jaccard >= threshold on the capped cell sets.

_TRAJ_VBAND = 5
_TRAJ_MAX_DF = 10
_TRAJ_MIN_JACCARD = 0.1


@register(
    "events_trajectory_similarity",
    oracle=f"""
    WITH cells AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(FLOOR(value / {_TRAJ_VBAND}) AS INT) AS vbk
      FROM events
    ),
    cold AS (
      SELECT d, vbk FROM cells GROUP BY d, vbk HAVING COUNT(*) <= {_TRAJ_MAX_DF}
    ),
    c2 AS (SELECT c.user_id, c.d, c.vbk FROM cells c JOIN cold USING (d, vbk)),
    sizes AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM c2 GROUP BY user_id),
    pairs AS (
      SELECT a.user_id AS u1, b.user_id AS u2, CAST(COUNT(*) AS BIGINT) AS inter
      FROM c2 a JOIN c2 b ON a.d = b.d AND a.vbk = b.vbk AND a.user_id < b.user_id
      GROUP BY a.user_id, b.user_id
    )
    SELECT u1, u2, inter,
           ROUND(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 4) AS jaccard
    FROM pairs JOIN sizes s1 ON u1 = s1.user_id JOIN sizes s2 ON u2 = s2.user_id
    WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) >= {_TRAJ_MIN_JACCARD}
    ORDER BY u1, u2
    """,
    tags=("events", "trajectory", "similarity"),
)
def events_trajectory_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User pairs whose (day, value-band) trajectory signatures overlap at
    Jaccard >= {_TRAJ_MIN_JACCARD}.

    Scale: candidates come ONLY from shared grid cells, with cells visited
    by > {_TRAJ_MAX_DF} users dropped before the self-join — the shared
    `capped_setsim_pairs` core (same skew guard as the shingle dedup, one
    implementation); signature sets are per-user bounded (days x bands).
    Never all-pairs.

    Kept over the oracle text, which plans 23 Exchanges against 7 here at
    sf0.01 and sf0.1 and ran 1.27x in an interleaved A/B at sf0.1 (1.76 vs
    1.38 s)."""
    from hyrise_spark.pipeline.dedup import capped_setsim_pairs

    (events,) = _t(spark, sf_dir, "events")
    cells = events.select(
        "user_id",
        F.date_trunc("day", "ts").cast("date").alias("d"),
        F.floor(F.col("value") / _TRAJ_VBAND).cast("int").alias("vbk"),
    ).distinct()
    pairs = capped_setsim_pairs(cells, "user_id", ["d", "vbk"], _TRAJ_MAX_DF)
    jac = F.col("inter").cast("double") / (F.col("n1") + F.col("n2") - F.col("inter"))
    return (
        pairs.filter(jac >= _TRAJ_MIN_JACCARD)
        .select(
            F.col("id1").alias("u1"),
            F.col("id2").alias("u2"),
            "inter",
            F.round(jac, 4).alias("jaccard"),
        )
        .orderBy("u1", "u2")
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast baseline + backtest MAE — the first model every
# forecasting pipeline must beat. Train on events before the split date,
# predict each (event_type, hour-of-day) cell's mean value, score MAE on
# the holdout. Exact on the cents lattice: values quantize to cents, the
# cell mean is INTEGER division of the cent sum, and MAE sums absolute
# integer differences — both engines agree bit-for-bit.

_SB_SPLIT = "2024-01-28 00:00:00"


@register(
    "events_seasonal_baseline",
    oracle=f"""
    WITH train AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS hod,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts < TIMESTAMP '{_SB_SPLIT}'
    ),
    model AS (
      SELECT event_type, hod,
             CAST(SUM(cents) // COUNT(*) AS BIGINT) AS pred_cents
      FROM train GROUP BY event_type, hod
    ),
    test AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS hod,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts >= TIMESTAMP '{_SB_SPLIT}'
    )
    SELECT t.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(ABS(t.cents - m.pred_cents)) AS BIGINT) AS sum_abs_err,
           CAST(SUM(ABS(t.cents - m.pred_cents)) // COUNT(*) AS BIGINT)
             AS mae_cents
    FROM test t JOIN model m
      ON m.event_type = t.event_type AND m.hod = t.hod
    GROUP BY t.event_type
    ORDER BY t.event_type
    """,
    tags=("events", "forecast"),
)
def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type MAE of the (type, hour-of-day) seasonal-naive
    baseline on the last-days holdout.

    Scale: train pass = one partial-agg groupBy with |types| x 24 output
    cells (constant-size model frame — AQE broadcasts it into the test
    join); the holdout scoring is one more partial agg. The time-based
    split predicate pushes into the scan on a date-sorted layout."""
    (events,) = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    base = events.select(
        "event_type",
        F.hour("ts").alias("hod"),
        cents.alias("cents"),
        F.col("ts"),
    )
    split = F.lit(_SB_SPLIT).cast("timestamp_ntz")
    train = base.filter(F.col("ts") < split)
    model = train.groupBy("event_type", "hod").agg(
        F.expr("CAST(SUM(cents) div COUNT(*) AS BIGINT)").alias("pred_cents")
    )
    test = base.filter(F.col("ts") >= split)
    return (
        test.join(model, ["event_type", "hod"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(F.abs(F.col("cents") - F.col("pred_cents"))).alias("sum_abs_err"),
        )
        .select(
            "event_type",
            "n_test",
            "sum_abs_err",
            F.expr("CAST(sum_abs_err div n_test AS BIGINT)").alias("mae_cents"),
        )
        .orderBy("event_type")
    )


# -- round 9: nearest-in-time asof (minimum absolute distance) ---------------
# Beyond backward/forward asof: pandas merge_asof(direction='nearest')
# semantics. Composition: one backward pass + one forward pass of the
# single-shuffle union-form asof operator, then an arithmetic pick —
# 2 shuffles total regardless of per-key order density (the naive
# equi-join + per-pair distance ranking fans out with orders-per-key).
# Ties: equidistant -> the EARLIER order date wins; same date -> max
# orderkey (the operator's struct-max carry; the forward pass carries a
# negated key so its struct-MIN also yields the max orderkey).
@register(
    "events_asof_nearest",
    oracle="""
    SELECT e.event_id, e.user_id,
           (SELECT MAX(o.o_orderkey) FROM orders o
            WHERE o.o_custkey = e.user_id % 100
              AND o.o_orderdate = (
                SELECT MIN(o2.o_orderdate) FROM orders o2
                WHERE o2.o_custkey = e.user_id % 100
                  AND ABS(epoch(o2.o_orderdate) - epoch(e.ts)) = (
                    SELECT MIN(ABS(epoch(o3.o_orderdate) - epoch(e.ts)))
                    FROM orders o3 WHERE o3.o_custkey = e.user_id % 100))
           ) AS nearest_orderkey
    FROM events e
    WHERE e.event_id < 500
    ORDER BY e.event_id
    """,
    tags=("events", "asof-join"),
)
def events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hyrise_spark.operators.joins import asof_join

    events, orders = _t(spark, sf_dir, "events", "orders")
    ev = events.filter(F.col("event_id") < 500).select(
        "event_id", "user_id",
        (F.col("user_id") % 100).alias("join_key"), "ts",
    )
    od = orders.select(
        F.col("o_custkey").alias("join_key"),
        F.col("o_orderdate").alias("t"),
        "o_orderkey",
        (-F.col("o_orderkey")).alias("neg_key"),
        F.col("o_orderdate").alias("odate"),
    )
    b = asof_join(
        ev, od, on="join_key", left_time="ts", right_time="t",
        value_cols=["o_orderkey", "odate"], direction="backward",
    ).select(
        "event_id",
        F.col("o_orderkey").alias("b_key"),
        F.col("odate").alias("b_date"),
    )
    f = asof_join(
        ev, od, on="join_key", left_time="ts", right_time="t",
        value_cols=["neg_key", "o_orderkey", "odate"], direction="forward",
    ).select(
        "event_id", "user_id", "ts",
        F.col("o_orderkey").alias("f_key"),
        F.col("odate").alias("f_date"),
    )
    j = f.join(b, "event_id")
    bd = F.unix_timestamp("ts") - F.unix_timestamp("b_date")
    fd = F.unix_timestamp("f_date") - F.unix_timestamp("ts")
    nearest = F.when(
        F.col("b_date").isNotNull()
        & (F.col("f_date").isNull() | (bd <= fd)),
        F.col("b_key"),
    ).otherwise(F.col("f_key"))
    return j.select(
        "event_id", "user_id", nearest.alias("nearest_orderkey")
    ).orderBy("event_id")


# -- round 9: M4 downsampling (Jugel et al., VLDB 2014) -----------------------
# The visualization-aware time-series reducer: per time bucket keep exactly
# the first, last, min-value and max-value points — the 4 points that make
# a line rendering pixel-identical to the full series. One partial-agg
# groupBy per bucket (4 min_by/max_by aggregates), then a 4-way unpivot of
# the kept points: output is 4 rows per bucket however dense the input —
# the property that makes M4 THE dashboard query at 100 TB event volumes.
# Ties resolve to min event_id; the (key, tiebreak) ordering is encoded as
# one exact BIGINT (key * 1e9 +/- event_id) because DuckDB's min_by/max_by
# take a single orderable argument — identical integer keys on both
# engines.
@register(
    "events_m4_downsample",
    oracle="""
    WITH b AS (
      SELECT event_id, value, ts,
             CAST(FLOOR(epoch(ts) / 14400) AS BIGINT) AS bucket,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep,
             ROUND(value, 4) AS v
      FROM events WHERE event_type = 'view'
    ),
    agg AS (
      SELECT bucket,
             MIN_BY(event_id, ep * 1000000000 + event_id) AS first_id,
             MAX_BY(event_id, ep * 1000000000 - event_id) AS last_id,
             MIN_BY(event_id, CAST(ROUND(v * 10000) AS BIGINT) * 1000000000
                              + event_id) AS min_id,
             MAX_BY(event_id, CAST(ROUND(v * 10000) AS BIGINT) * 1000000000
                              - event_id) AS max_id
      FROM b GROUP BY bucket
    ),
    pts AS (
      SELECT bucket, 'first' AS role, first_id AS event_id FROM agg
      UNION ALL SELECT bucket, 'last', last_id FROM agg
      UNION ALL SELECT bucket, 'min', min_id FROM agg
      UNION ALL SELECT bucket, 'max', max_id FROM agg
    )
    SELECT p.bucket, p.role, p.event_id, b.v AS value
    FROM pts p JOIN b ON b.event_id = p.event_id
    ORDER BY p.bucket, p.role, p.event_id
    """,
    tags=("events", "downsample", "timeseries"),
)
def events_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    b = events.filter(F.col("event_type") == "view").select(
        "event_id",
        (F.unix_timestamp("ts") / F.lit(14400)).cast("long").alias("bucket"),
        F.unix_timestamp("ts").alias("ep"),
        F.round("value", 4).alias("v"),
    )
    vkey = F.round(F.col("v") * 10000).cast("long") * F.lit(1000000000)
    tkey = F.col("ep") * F.lit(1000000000)
    agg = b.groupBy("bucket").agg(
        F.min_by("event_id", tkey + F.col("event_id")).alias("first_id"),
        F.max_by("event_id", tkey - F.col("event_id")).alias("last_id"),
        F.min_by("event_id", vkey + F.col("event_id")).alias("min_id"),
        F.max_by("event_id", vkey - F.col("event_id")).alias("max_id"),
    )
    pts = None
    for role, col in (("first", "first_id"), ("last", "last_id"),
                      ("min", "min_id"), ("max", "max_id")):
        part = agg.select(
            "bucket", F.lit(role).alias("role"), F.col(col).alias("event_id")
        )
        pts = part if pts is None else pts.unionByName(part)
    return (
        pts.join(b.select("event_id", F.col("v").alias("value")), "event_id")
        .select("bucket", "role", "event_id", "value")
        .orderBy("bucket", "role", "event_id")
    )


# -- round 9: CUSUM changepoint detection (Page 1954) -------------------------
# The classic sequential changepoint statistic: per series, the cumulative
# sum of centered values; the |CUSUM| maximum locates the most likely mean
# shift. Everything on the integer milli-lattice (values and the global
# mean both scaled exactly), so both engines agree bit-for-bit. Plan: one
# global 2-value aggregate (broadcast back), one per-type window cumsum
# over DAILY means (365-row partitions — the aggregation to days happens
# FIRST, so the window never sees raw events), one argmax per type.
@register(
    "events_changepoint_cusum",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
             CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS v_milli,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT CAST(SUM(v_milli) AS BIGINT) AS tot,
             CAST(SUM(n) AS BIGINT) AS cnt FROM daily
    ),
    cusum AS (
      SELECT event_type, day,
             CAST(SUM(v_milli * cnt - n * tot) OVER (PARTITION BY event_type
                  ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
                  CURRENT ROW) AS BIGINT) AS c
      FROM daily CROSS JOIN g
    ),
    peak AS (
      SELECT event_type, day, c,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ABS(c) DESC, day) AS rn
      FROM cusum
    )
    SELECT event_type, day AS change_day, c AS cusum_scaled
    FROM peak WHERE rn = 1
    ORDER BY event_type
    """,
    tags=("events", "changepoint", "timeseries"),
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type, the day where the |CUSUM| of centered daily totals
    peaks — the Page (1954) mean-shift locator. The centering term is
    cross-multiplied (v*cnt - n*tot) to stay on the exact integer lattice
    instead of subtracting a fractional mean."""
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        (F.unix_timestamp("ts") / F.lit(86400)).cast("long").alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("v_milli"),
        F.count(F.lit(1)).alias("n"),
    ).localCheckpoint(eager=False)  # feeds the totals scalar + the cusum
    # window: one day-grain aggregation pass instead of two
    g = daily.agg(
        F.sum("v_milli").alias("tot"), F.sum("n").alias("cnt")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = daily.crossJoin(F.broadcast(g)).select(
        "event_type", "day",
        F.sum(
            F.col("v_milli") * F.col("cnt") - F.col("n") * F.col("tot")
        ).over(w_cum).alias("c"),
    )
    w_pk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("c")).desc(), F.col("day")
    )
    return (
        cusum.withColumn("rn", F.row_number().over(w_pk))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            F.col("c").alias("cusum_scaled"),
        )
        .orderBy("event_type")
    )


# -- round 9: inter-arrival cadence profile -----------------------------------
# Queueing/cadence analysis: per event type, the distribution of gaps
# between consecutive events (LAG over integer epoch seconds), summarized
# as exact min / max / mean-milliseconds and the rank-defined exact median
# via the value HISTOGRAM (the percentile-family pattern — the median
# search never sorts the gap stream). Everything integer-exact: gaps are
# whole seconds, the mean is cross-multiplied to milli-seconds.
@register(
    "events_interarrival_stats",
    oracle="""
    WITH o AS (
      SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep,
             event_id
      FROM events
    ),
    gaps AS (
      SELECT event_type,
             ep - LAG(ep) OVER (PARTITION BY event_type
                                ORDER BY ep, event_id) AS gap
      FROM o
    ),
    g AS (SELECT event_type, gap FROM gaps WHERE gap IS NOT NULL),
    hist AS (
      SELECT event_type, gap, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM g GROUP BY event_type, gap
    ),
    cum AS (
      SELECT event_type, gap, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY gap
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM hist
    ),
    med AS (
      SELECT event_type, CAST(MIN(gap) AS BIGINT) AS median_gap_s
      FROM cum WHERE cum * 2 >= n GROUP BY event_type
    ),
    stats AS (
      SELECT event_type,
             CAST(MIN(gap) AS BIGINT) AS min_gap_s,
             CAST(MAX(gap) AS BIGINT) AS max_gap_s,
             CAST((1000 * SUM(gap)) // COUNT(*) AS BIGINT) AS mean_gap_ms,
             CAST(COUNT(*) AS BIGINT) AS n_gaps
      FROM g GROUP BY event_type
    )
    SELECT s.event_type, s.n_gaps, s.min_gap_s, s.max_gap_s,
           s.mean_gap_ms, m.median_gap_s
    FROM stats s JOIN med m ON m.event_type = s.event_type
    ORDER BY s.event_type
    """,
    tags=("events", "cadence", "timeseries"),
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale note: the LAG pass partitions by event_type — a 5-value key,
    so each series orders in one task. At 100 TB the same plan runs per
    (event_type, day) with boundary stitching (carry each day's last
    timestamp into the next — one extra tiny join), keeping partitions
    day-sized; the gap HISTOGRAM/median machinery below is unchanged."""
    from pyspark.sql import Window

    (events,) = _t(spark, sf_dir, "events")
    o = events.select(
        "event_type",
        F.unix_timestamp("ts").alias("ep"),
        "event_id",
    )
    w_lag = Window.partitionBy("event_type").orderBy("ep", "event_id")
    g = o.select(
        "event_type",
        (F.col("ep") - F.lag("ep").over(w_lag)).alias("gap"),
    ).filter(F.col("gap").isNotNull()).localCheckpoint(eager=False)
    hist = g.groupBy("event_type", "gap").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "event_type", "gap",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
    )
    med = cum.filter(F.col("cum") * 2 >= F.col("n")).groupBy("event_type").agg(
        F.min("gap").alias("median_gap_s")
    )
    stats = g.groupBy("event_type").agg(
        F.min("gap").alias("min_gap_s"),
        F.max("gap").alias("max_gap_s"),
        F.expr("CAST((1000 * SUM(gap)) DIV COUNT(*) AS BIGINT)").alias(
            "mean_gap_ms"
        ),
        F.count(F.lit(1)).alias("n_gaps"),
    )
    return (
        stats.join(med, "event_type")
        .select(
            "event_type", "n_gaps", "min_gap_s", "max_gap_s",
            "mean_gap_ms", "median_gap_s",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Sample autocorrelation function (Box & Jenkins): per-series ACF at lags
# 1..5, the standard "is there serial structure / seasonality worth
# modeling" probe a time-series pipeline runs before any model fit.
#
#   r_k = sum_{t<=n-k}(x_t - xbar)(x_{t+k} - xbar) / sum_t(x_t - xbar)^2
#
# Determinism: values are exact integer cents; the per-series/per-lag
# sufficient statistics (S1 = sum x, S2 = sum x^2, Ck = sum x_t*x_{t+k},
# A/B = the lag-overlap partial sums) are all exact BIGINTs, and r_k is
# ONE fixed dag of IEEE double ops over them, written identically on both
# engines — no accumulation-order drift. (S2/Ck peak ~8e12 at sf0.1:
# comfortably inside BIGINT.)
_ACF_MAX_LAG = 5


@register(
    "events_autocorrelation",
    oracle=f"""
    WITH e AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id)
                 AS rn,
             CAST(ROUND(value * 100) AS BIGINT) AS x
      FROM events
    ),
    base AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s1,
             CAST(SUM(x * x) AS BIGINT) AS s2
      FROM e GROUP BY event_type
    ),
    lags AS (SELECT UNNEST(generate_series(1, {_ACF_MAX_LAG})) AS k),
    cross_k AS (
      SELECT a.event_type, l.k,
             CAST(SUM(a.x * b.x) AS BIGINT) AS ck,
             CAST(SUM(a.x) AS BIGINT) AS sa,
             CAST(SUM(b.x) AS BIGINT) AS sb
      FROM e a CROSS JOIN lags l
      JOIN e b ON b.event_type = a.event_type AND b.rn = a.rn + l.k
      GROUP BY a.event_type, l.k
    )
    SELECT c.event_type, CAST(c.k AS BIGINT) AS lag, b.n,
           ROUND(
             (c.ck - (CAST(b.s1 AS DOUBLE) / b.n) * (c.sa + c.sb)
                   + (b.n - c.k) * (CAST(b.s1 AS DOUBLE) / b.n)
                                 * (CAST(b.s1 AS DOUBLE) / b.n))
             / (b.s2 - b.n * (CAST(b.s1 AS DOUBLE) / b.n)
                           * (CAST(b.s1 AS DOUBLE) / b.n)),
             4) AS acf
    FROM cross_k c JOIN base b ON b.event_type = c.event_type
    ORDER BY c.event_type, lag
    """,
    tags=("events", "autocorrelation", "timeseries"),
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF(1..5) per event_type. Plan: one per-series ROW_NUMBER window
    (the only shuffle that carries the data), a 5-row lag frame exploded
    against it, one equi-join on (event_type, rn+k) — each lag's overlap
    is series-sized, never quadratic — and two partial aggs joined at
    series granularity (25 rows)."""
    (events,) = _t(spark, sf_dir, "events")
    # e (the numbered series — one window shuffle+sort over the data) feeds
    # the moment agg and BOTH sides of the lag self-join: materialize it
    # once instead of re-running the window pass three times.
    e = events.select(
        "event_type",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("event_id"))
        .alias("rn"),
        F.round(F.col("value") * 100).cast("long").alias("x"),
    ).localCheckpoint(eager=False)
    base = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
    )
    # lag fan-out as a literal-array explode: a projection, not a join —
    # nothing for the planner to turn into a cartesian
    ak = e.select(
        "event_type",
        "rn",
        "x",
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _ACF_MAX_LAG + 1)])
        ).alias("k"),
    )
    b = e.select(
        F.col("event_type").alias("bt"),
        F.col("rn").alias("brn"),
        F.col("x").alias("bx"),
    )
    cross_k = (
        ak.join(
            b,
            (F.col("bt") == F.col("event_type"))
            & (F.col("brn") == F.col("rn") + F.col("k")),
        )
        .groupBy("event_type", "k")
        .agg(
            F.sum(F.col("x") * F.col("bx")).cast("long").alias("ck"),
            F.sum("x").cast("long").alias("sa"),
            F.sum("bx").cast("long").alias("sb"),
        )
    )
    xbar = F.col("s1").cast("double") / F.col("n")
    r = (
        F.col("ck") - xbar * (F.col("sa") + F.col("sb"))
        + (F.col("n") - F.col("k")) * xbar * xbar
    ) / (F.col("s2") - F.col("n") * xbar * xbar)
    return (
        cross_k.join(base, "event_type")
        .select(
            "event_type",
            F.col("k").cast("long").alias("lag"),
            "n",
            F.round(r, 4).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


# ---------------------------------------------------------------------------
# Lagged cross-correlation (CCF) between two event streams: does `click`
# activity LEAD `purchase` activity, and by how many hours? The bivariate
# sibling of events_autocorrelation and the standard causality-screening
# probe (Box & Jenkins transfer-function prelude). Series = hourly event
# counts on a DENSE hour spine (missing hours are real zeros — dropping
# them would bias the correlation), lags -3..+3.
#
# Determinism: counts are exact BIGINTs; per-lag sufficient statistics
# (n, Sx, Sy, Sxy, Sxx, Syy) are exact integer aggregates; Pearson is one
# fixed double dag over them, ROUND(.., 4).
_CCF_X, _CCF_Y = "click", "purchase"
_CCF_MAX_LAG = 3


@register(
    "events_cross_correlation",
    oracle=f"""
    WITH hrs AS (
      SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS h, event_type
      FROM events WHERE event_type IN ('{_CCF_X}', '{_CCF_Y}')
    ),
    bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hrs),
    spine AS (
      SELECT UNNEST(generate_series(h0, h1)) AS h FROM bounds
    ),
    xs AS (
      SELECT s.h,
             COALESCE(cx.n, 0) AS x, COALESCE(cy.n, 0) AS y
      FROM spine s
      LEFT JOIN (SELECT h, CAST(COUNT(*) AS BIGINT) AS n FROM hrs
                 WHERE event_type = '{_CCF_X}' GROUP BY h) cx ON cx.h = s.h
      LEFT JOIN (SELECT h, CAST(COUNT(*) AS BIGINT) AS n FROM hrs
                 WHERE event_type = '{_CCF_Y}' GROUP BY h) cy ON cy.h = s.h
    ),
    lags AS (SELECT UNNEST(generate_series(-{_CCF_MAX_LAG}, {_CCF_MAX_LAG})) AS k),
    pairs AS (
      SELECT l.k, a.x, b.y
      FROM lags l
      JOIN xs a ON TRUE
      JOIN xs b ON b.h = a.h + l.k
    ),
    stats AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS lag_hours, n,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                    * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
                 4) AS ccf
    FROM stats
    ORDER BY lag_hours
    """,
    tags=("events", "cross-correlation", "timeseries"),
)
def events_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCF(click -> purchase) at lags -3..+3 hours. Plan: two hour-keyed
    partial-agg count series left-joined onto a generated dense spine
    (sequence explode — no data shuffle), a 7-row lag frame, one
    equi-join on h+k (spine-sized per lag), and a 7-row stats frame."""
    (events,) = _t(spark, sf_dir, "events")
    # hrs (3 consumers) and xs (2 consumers) stay UN-checkpointed
    # deliberately: each consumer is a 2-column pruned scan + partial agg
    # (or a spine-sized join), and materializing either measured 14-20%
    # SLOWER than the cheap re-evaluations — the barrier costs more than
    # the recompute here.
    hrs = events.filter(F.col("event_type").isin(_CCF_X, _CCF_Y)).select(
        (F.unix_timestamp("ts") / 3600).cast("long").alias("h"), "event_type"
    )
    bounds = hrs.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h")
    )

    def _cnt(et: str, out: str) -> DataFrame:
        return (
            hrs.filter(F.col("event_type") == et)
            .groupBy("h")
            .agg(F.count(F.lit(1)).cast("long").alias(out))
        )

    xs = (
        spine.join(_cnt(_CCF_X, "xn"), "h", "left")
        .join(_cnt(_CCF_Y, "yn"), "h", "left")
        .select(
            "h",
            F.coalesce("xn", F.lit(0)).alias("x"),
            F.coalesce("yn", F.lit(0)).alias("y"),
        )
    )
    lags = events.sparkSession.createDataFrame(
        [(k,) for k in range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1)], "k int"
    )
    a = xs.select("h", "x")
    b = xs.select(F.col("h").alias("bh"), F.col("y").alias("by"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("bh") == F.col("h") + F.col("k"))
    )
    stats = pairs.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("by").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("by")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("by") * F.col("by")).cast("long").alias("syy"),
    )
    r = (
        F.col("n") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.sqrt(
            F.col("n") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx")
        )
        * F.sqrt(
            F.col("n") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy")
        )
    )
    return stats.select(
        F.col("k").cast("long").alias("lag_hours"),
        "n",
        F.round(r, 4).alias("ccf"),
    ).orderBy("lag_hours")


# ---------------------------------------------------------------------------
# Robust anomaly flagging by median absolute deviation (Hampel's rule,
# |x - med| > 3 * 1.4826 * MAD): the robust sibling of
# events_anomaly_zscore — mean/stddev are themselves dragged by the
# outliers they are supposed to flag; the median/MAD pair has a 50%
# breakdown point. All arithmetic stays on the integer-cents lattice:
# medians are LOWER medians found on per-type value histograms (the same
# cum*2 >= n trick as events_interarrival_stats — no global sort), and
# the flag test multiplies through by 10^4 (3 * 1.4826 = 4.4478) so both
# engines compare exact integers. Plan: two histogram-median passes, one
# broadcast-joined flag filter, one bounded top-k.
_MAD_TOPK = 50


register_sql(
    "events_anomaly_mad",
    f"""
    WITH x AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    vc AS (SELECT event_type, cents, COUNT(*) AS c FROM x
           GROUP BY event_type, cents),
    cum AS (
      SELECT event_type, cents,
             SUM(c) OVER (PARTITION BY event_type ORDER BY cents) AS cs,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM vc
    ),
    med AS (
      SELECT event_type, CAST(MIN(cents) AS BIGINT) AS med
      FROM cum WHERE cs * 2 >= n GROUP BY event_type
    ),
    dev AS (
      SELECT x.event_id, x.event_type, x.cents,
             ABS(x.cents - m.med) AS d, m.med
      FROM x JOIN med m ON m.event_type = x.event_type
    ),
    dc AS (SELECT event_type, d, COUNT(*) AS c FROM dev
           GROUP BY event_type, d),
    dcum AS (
      SELECT event_type, d,
             SUM(c) OVER (PARTITION BY event_type ORDER BY d) AS cs,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM dc
    ),
    mad AS (
      SELECT event_type, CAST(MIN(d) AS BIGINT) AS mad
      FROM dcum WHERE cs * 2 >= n GROUP BY event_type
    )
    SELECT dev.event_id, dev.event_type,
           CAST(dev.cents AS BIGINT) AS cents,
           CAST(dev.med AS BIGINT) AS med,
           CAST(dev.d AS BIGINT) AS abs_dev,
           ma.mad
    FROM dev JOIN mad ma ON ma.event_type = dev.event_type
    WHERE dev.d * 10000 > 44478 * ma.mad
    ORDER BY dev.d DESC, dev.event_id
    LIMIT {_MAD_TOPK}
    """,
    tags=("events", "anomaly", "robust"),
)


# ---------------------------------------------------------------------------
# Benford first-digit audit (Newcomb 1881 / Benford 1938; the standard
# forensic screen for fabricated or truncated numeric columns — also the
# pipeline_data_expectations-style check that catches unit mix-ups, since
# rescaling a column shifts its digit profile): per event_type, the
# first-significant-digit histogram of the cents lattice against the
# Benford expectation P(d) = log10(1 + 1/d), scored by chi-square.
#
# Determinism: the 9 Benford weights are PYTHON-computed literals baked
# into both engines' texts (no libm log at query time); observed counts
# are exact integers; chi2 uses the algebraic form sum(obs^2/(n w_d)) - n
# with each obs^2/w_d term floored onto a 1e6 lattice, so the 9-term sum
# is exact integer arithmetic (order-free), and one double division at
# the end.
_BENFORD_W = {d: __import__("math").log10(1 + 1 / d) for d in range(1, 10)}


def _benford_case(digit_expr: str) -> str:
    """CASE mapping first digit -> floor(1e6 / w_d): the reciprocal weight
    on a 1e6 integer lattice (python literal, identical in both texts).
    1e6 keeps the summed product c^2 * R_d inside BIGINT at any plausible
    scale (c <= 2^31 -> product <= ~1e26 would overflow at 1e12 scale;
    at 1e6 scale c <= ~6e5 per digit stays exact, and the corpus-level
    relative quantization error is ~3e-7 — deterministic on both engines
    because the literal is shared)."""
    arms = " ".join(
        f"WHEN {d} THEN {int(1e6 / _BENFORD_W[d])}" for d in range(1, 10)
    )
    return f"CASE {digit_expr} {arms} END"


@register(
    "events_benford",
    oracle=f"""
    WITH x AS (
      SELECT event_type,
             CAST(substr(CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR),
                         1, 1) AS BIGINT) AS d
      FROM events WHERE ROUND(value * 100) >= 1
    ),
    obs AS (
      SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS c
      FROM x GROUP BY event_type, d
    ),
    terms AS (
      SELECT event_type,
             CAST(SUM(c) AS BIGINT) AS n,
             -- pure integer sum; the single 1e6 descale happens once below
             CAST(SUM(c * c * {_benford_case('d')}) AS BIGINT) AS s_scaled
      FROM obs GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(CAST(s_scaled AS DOUBLE) / 1000000.0 / n - n, 4) AS chi2
    FROM terms
    ORDER BY event_type
    """,
    tags=("events", "benford", "audit"),
)
def events_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Benford chi-square over first digits of the cents values.
    Plan: one digit projection, one (type, digit) partial agg (45 rows),
    one per-type agg — nothing beyond scan + two tiny aggregates."""
    (events,) = _t(spark, sf_dir, "events")
    d = F.substring(
        F.round(F.col("value") * 100).cast("long").cast("string"), 1, 1
    ).cast("long")
    x = events.filter(F.round(F.col("value") * 100) >= 1).select(
        "event_type", d.alias("d")
    )
    obs = x.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w_recip = F.expr(_benford_case("d"))
    terms = obs.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c") * w_recip).cast("long").alias("s_scaled"),
    )
    return terms.select(
        "event_type",
        "n",
        F.round(
            F.col("s_scaled").cast("double") / 1000000.0 / F.col("n")
            - F.col("n"),
            4,
        ).alias("chi2"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Item co-occurrence with lift (the classic association/recsys signal —
# Agrawal et al. 1993's support/lift on market baskets; "users who touched
# X also touched Y"). Baskets = users; items = the props.k attribute
# (bucketed to a bounded catalog). lift(x,y) = P(x,y) / (P(x) P(y)) =
# n_xy * N / (n_x * n_y) — exact integer counts, one double expression.
#
# Scale: the (user, item) incidence frame is one distinct pass over
# events; item-item pairs come from a per-user self-join whose fan-out is
# bounded by ITEMS-PER-USER (catalog-bounded, here <= 20), never by the
# user count — the standard co-occurrence shape. The output is at most
# items^2 / 2 rows (a 20-item catalog -> <= 190).
_COOC_MIN_N = 5      # minimum pair support
_COOC_TOPK = 30


@register(
    "events_cooccurrence_lift",
    oracle=f"""
    WITH ui AS (
      SELECT DISTINCT user_id,
             CAST(json_extract(props, '$.k') AS INT) // 5 AS item
      FROM events
    ),
    n_users AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu FROM ui),
    item_n AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM ui GROUP BY item),
    pairs AS (
      SELECT a.item AS x, b.item AS y, CAST(COUNT(*) AS BIGINT) AS n_xy
      FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY a.item, b.item
    )
    SELECT CAST(p.x AS BIGINT) AS x, CAST(p.y AS BIGINT) AS y, p.n_xy,
           ROUND(CAST(p.n_xy AS DOUBLE) * nu.nu
                 / (CAST(ix.n AS DOUBLE) * iy.n), 4) AS lift
    FROM pairs p
    JOIN item_n ix ON ix.item = p.x
    JOIN item_n iy ON iy.item = p.y
    CROSS JOIN n_users nu
    WHERE p.n_xy >= {_COOC_MIN_N}
    ORDER BY lift DESC, x, y
    LIMIT {_COOC_TOPK}
    """,
    tags=("events", "cooccurrence", "recsys"),
)
def events_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top item pairs by lift over user baskets. One distinct incidence
    pass, a per-user self-join bounded by items-per-user, catalog-sized
    aggregates."""
    (events,) = _t(spark, sf_dir, "events")
    item = (F.get_json_object("props", "$.k").cast("int") / 5).cast("int")
    # ui feeds the user-count scalar, the per-item counts and BOTH sides of
    # the per-user self-join — four consumers; materialize the json-parsed
    # distinct (user, item) frame once instead of re-running parse+distinct
    ui = events.select(
        "user_id", item.alias("item")
    ).distinct().localCheckpoint(eager=False)
    nu = ui.agg(F.countDistinct("user_id").cast("long").alias("nu"))
    item_n = ui.groupBy("item").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = ui.select("user_id", F.col("item").alias("x"))
    b = ui.select("user_id", F.col("item").alias("y"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
    )
    return (
        pairs.join(item_n.select(F.col("item").alias("x"), F.col("n").alias("nx")), "x")
        .join(item_n.select(F.col("item").alias("y"), F.col("n").alias("ny")), "y")
        .crossJoin(F.broadcast(nu))
        .filter(F.col("n_xy") >= _COOC_MIN_N)
        .select(
            F.col("x").cast("long"),
            F.col("y").cast("long"),
            "n_xy",
            F.round(
                F.col("n_xy").cast("double") * F.col("nu")
                / (F.col("nx").cast("double") * F.col("ny")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "x", "y")
        .limit(_COOC_TOPK)
    )


# ---------------------------------------------------------------------------
# Per-series linear trend: closed-form OLS of hourly event counts against a
# dense hour index — slope/intercept/R^2 per event_type, the "is this
# signal growing?" primitive time-series monitoring stacks ship. All five
# sufficient statistics (Sx, Sy, Sxy, Sxx, Syy) are exact BIGINT sums (the
# hour index is a per-series ROW_NUMBER, so no epoch/timezone dependence —
# the events_gapfill convention), and the doubles are derived from those
# integers only at the output boundary, so both engines agree. One
# groupBy(hour) shuffle + one per-series window + a 5-statistic partial
# agg: the sufficient-statistic pattern is also the 100 TB contract (OLS
# over a billion rows is still five sums).
_LINEAR_TREND_SQL = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ), idx AS (
      SELECT event_type,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) - 1
                  AS BIGINT) AS x,
             y
      FROM hourly
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM idx GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / NULLIF(n * sxx - sx * sx, 0), 6) AS slope,
           ROUND((sy - CAST(n * sxy - sx * sy AS DOUBLE)
                        / NULLIF(n * sxx - sx * sx, 0) * sx)
                 / n, 6) AS intercept,
           ROUND(CAST((n * sxy - sx * sy) * (n * sxy - sx * sy) AS DOUBLE)
                 / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE)
                          * (n * syy - sy * sy), 0), 6) AS r2
    FROM s ORDER BY event_type
"""


# OLS trend per event_type over the hourly count series (same text on
# both engines; see the sufficient-statistic note above).
register_sql(
    "events_linear_trend",
    _LINEAR_TREND_SQL,
    tags=("events", "timeseries", "sql"),
)


# ---------------------------------------------------------------------------
# Seasonal/trend strength (Wang-Hyndman-Smith decomposition features, the
# STL-lite instrumentation forecasting stacks run first): per event_type,
# decompose the hourly count series into trend (centered 24-term moving
# average), hour-of-day seasonal means, and residual, then report
# strength_seasonal = max(0, 1 - var(resid)/var(detrended)) and
# strength_trend = max(0, 1 - var(detrended)/var(series)).
#
# Float discipline: every variance is computed from INTEGER sufficient
# sums. The only doubles on the path are single divisions (the moving
# average and the per-hour seasonal mean — one sum/count each, bit-exact
# on both engines); each is immediately ROUND(..*1e6)-latticed, so the
# n*S2 - S1^2 variance arithmetic stays exact and the same text
# hash-matches DuckDB. One groupBy(hour) shuffle, two partitioned
# windows, one (type, hour-of-day) agg, one per-series agg.
#
# Round 13 (found by the first full sf0.1 oracle sweep): the QUADRATIC
# terms do not fit the INT64 lattice — at sf0.1, n*srr = 720 * 1.85e16
# overflows, which DuckDB raises on and non-ANSI Spark silently WRAPS.
# All squares/cross-products now run on an explicit DECIMAL lattice,
# widths chosen so BOTH engines' static rules stay under the shared
# 38-digit cap (DuckDB mul width = w1+w2; Spark adds 1 and rescales past
# 38 — scale stays 0 throughout, so values are exact):
#   element squares  (18,0)x(18,0) -> sums CAST to (30,0)   [|d6| < 1e12 envelope]
#   n * S2           (7,0)x(30,0)  -> (37,0)                [n < 1e7]
#   S1 * S1          (18,0)x(18,0) -> (37,0)                [|S1| < 1e18]
#   difference       (37,0)-(37,0) -> (38,0), then one CAST to DOUBLE.
# Identical results wherever the old INT64 form was exact (sf0.001/0.01).
# Past the documented envelope DuckDB raises, but non-ANSI Spark does NOT
# fail loudly: its decimal overflow yields NULL, GREATEST(0.0, ...) skips
# the NULL, and the strength reads 0.0. Only the DuckDB differential
# catches that case.
_SEASONAL_STRENGTH_SQL = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ), trended AS (
      SELECT event_type, h, y,
             CAST(ROUND((y - AVG(y) OVER (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)) * 1000000)
               AS BIGINT) AS d6
      FROM hourly
    ), seasonal AS (
      SELECT event_type, h, y, d6,
             CAST(ROUND(d6 - AVG(d6) OVER (PARTITION BY event_type,
                 EXTRACT(HOUR FROM h))) AS BIGINT) AS r6
      FROM trended
    ), stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(CAST(y AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0)))
               AS DECIMAL(30,0)) AS syy,
             CAST(SUM(d6) AS BIGINT) AS sd,
             CAST(SUM(CAST(d6 AS DECIMAL(18,0)) * CAST(d6 AS DECIMAL(18,0)))
               AS DECIMAL(30,0)) AS sdd,
             CAST(SUM(r6) AS BIGINT) AS sr,
             CAST(SUM(CAST(r6 AS DECIMAL(18,0)) * CAST(r6 AS DECIMAL(18,0)))
               AS DECIMAL(30,0)) AS srr
      FROM seasonal GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(GREATEST(0.0, 1.0 -
                 CAST(CAST(CAST(n AS DECIMAL(7,0)) * srr AS DECIMAL(37,0))
                      - CAST(CAST(sr AS DECIMAL(18,0))
                             * CAST(sr AS DECIMAL(18,0)) AS DECIMAL(37,0))
                   AS DOUBLE)
                 / NULLIF(CAST(CAST(CAST(n AS DECIMAL(7,0)) * sdd
                                 AS DECIMAL(37,0))
                      - CAST(CAST(sd AS DECIMAL(18,0))
                             * CAST(sd AS DECIMAL(18,0)) AS DECIMAL(37,0))
                   AS DOUBLE), 0)), 6)
               AS strength_seasonal,
           ROUND(GREATEST(0.0, 1.0 -
                 CAST(CAST(CAST(n AS DECIMAL(7,0)) * sdd AS DECIMAL(37,0))
                      - CAST(CAST(sd AS DECIMAL(18,0))
                             * CAST(sd AS DECIMAL(18,0)) AS DECIMAL(37,0))
                   AS DOUBLE)
                 / NULLIF(CAST(CAST(CAST(n AS DECIMAL(7,0)) * syy
                                 AS DECIMAL(37,0))
                      - CAST(CAST(sy AS DECIMAL(18,0))
                             * CAST(sy AS DECIMAL(18,0)) AS DECIMAL(37,0))
                   AS DOUBLE) * 1000000 * 1000000, 0)), 6)
               AS strength_trend
    FROM stats ORDER BY event_type
"""


# Wang-Hyndman seasonal/trend strength per event series (same text on
# both engines; integer-lattice variance discipline — see note).
register_sql(
    "events_seasonal_strength",
    _SEASONAL_STRENGTH_SQL,
    tags=("events", "timeseries", "sql"),
)
