"""Structured Streaming pipelines over the events table.

Net-new surface (the reference has no streaming, SURVEY.md §2.9). The same
aggregations as plans/events.py, expressed as streams: file-source ->
watermark -> windowed agg / session_window -> sink. Tests run them with
availableNow=True (bounded backfill) and compare against the batch results —
the streaming/batch parity check Structured Streaming is designed for.

Scale notes: at production scale the source swaps for Kafka with the same
plan (readStream options change, the DAG does not). Watermarks bound state;
session_window state is per (user_id, open session) only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from hyrise_spark.catalog import read_parquet

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream of event batches (parquet files dropped into a dir)."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)


def windowed_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window count/sum per event_type with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionized(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows per user (gap-based), the streaming twin of
    plans/events.py::events_sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState.

    Maintains per-user running (event count, value total) across micro-batches
    — the "custom stateful operator" path for semantics Spark's built-in
    streaming aggregates can't express (arbitrary per-key state machines).
    State is one (long, double) pair per user: bounded, skew-safe, and
    partitioned by the grouping key, so a 1000-executor deployment shards
    state horizontally with no driver involvement.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    def update(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def deduped_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon —
    the streaming twin of pipeline/dedup.py::dedup_exact. State holds only
    ids newer than the watermark, so memory is bounded by event rate x
    horizon, not by stream history."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def run_to_completion(stream_df: DataFrame, out_table: str,
                      output_mode: str = "complete") -> None:
    """Drain all available input into an in-memory sink (availableNow).
    `complete` fits aggregation streams; stateless/dedup streams need
    `append` (complete is invalid without an aggregation)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(out_table)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def purchase_click_attribution(
    events: DataFrame,
    events2: DataFrame,
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each purchase joins the same user's
    clicks from the preceding `max_lag` — streaming last-touch attribution.

    Both sides carry watermarks and the join condition bounds event time on
    both ends, so Spark can expire join state (docs: stream-stream joins
    REQUIRE this to avoid unbounded buffers). State per side is bounded by
    rate x (watermark + lag). Pass the same source twice (two independent
    readStream handles — a self-join on one handle is disallowed for
    streaming).
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("amount"),
        )
    )
    clicks = (
        events2.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {max_lag}")),
        "inner",
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"), "p_ts", "c_ts", "amount")


def purchase_click_attribution_outer(
    events: DataFrame,
    events2: DataFrame,
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every purchase emits — with
    its preceding clicks when they exist, with NULL click columns otherwise.

    Same watermark/interval contract as the inner form (both sides
    watermarked, event time bounded both ways — required for state expiry);
    additionally, outer NULL results for an unmatched purchase emit only
    once the watermark passes the purchase's join window (Spark's
    stream-stream outer-join completeness rule) — the parity test advances
    the watermark past the data with a late sentinel event.
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("amount"),
        )
    )
    clicks = (
        events2.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {max_lag}")),
        "left_outer",
    ).select(
        "purchase_id", "click_id", F.col("p_user").alias("user_id"),
        "p_ts", "c_ts", "amount",
    )


def purchase_click_attribution_full_outer(
    events: DataFrame,
    events2: DataFrame,
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """FULL OUTER stream-stream interval join — completes the outer-join
    matrix (inner / left since round 8 / full here): matched
    purchase-click pairs emit immediately; an unmatched purchase emits a
    NULL-click row and an unmatched click a NULL-purchase row once the
    watermark passes their respective join windows (Spark's stream-stream
    outer completeness rule, same state-expiry contract as the other two:
    both sides watermarked + event time bounded both ways)."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("amount"),
        )
    )
    clicks = (
        events2.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {max_lag}")),
        "full_outer",
    ).select(
        "purchase_id", "click_id",
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
        "p_ts", "c_ts", "amount",
    )


def enriched_stream(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static join: events enriched with the customer dimension.

    The static side re-resolves per micro-batch (picking up dim updates);
    no state is kept for it. Deliberately NO broadcast hint: `customers`
    scales with SF, and a forced `F.broadcast` ignores
    `autoBroadcastJoinThreshold` and cannot fall back — at scale that is the
    8 GB broadcast dead-end on every micro-batch. A plain equi-join lets the
    cost/threshold machinery pick broadcast while the dim is genuinely small
    and shuffle once it isn't (reference analog: join impl is always
    cost-based, lqp_translator.cpp:389-392).
    """
    dim = customers.select(
        F.col("c_custkey").alias("d_custkey"), "c_name", "c_mktsegment"
    )
    return events.join(
        dim, F.col("user_id") == F.col("d_custkey"), "left"
    ).select("event_id", "ts", "user_id", "event_type", "value", "c_name", "c_mktsegment")


def streaming_anomaly_zscore(events: DataFrame) -> DataFrame:
    """Streaming form of the batch `events_anomaly_zscore`: per-user daily
    event counts scored against the user's trailing 7 CLOSED days, via
    applyInPandasWithState.

    State per user = the last 7 closed (day, count) pairs plus the currently
    OPEN day's running count — bounded (8 entries) regardless of stream
    length, sharded by user. A day closes when a later day arrives for that
    user; only closed days score, so every emitted z is final (the batch
    query's score for that day, verified by the parity test). Days older
    than the open day are late beyond the state horizon and are dropped —
    the explicit watermark analog for this operator.
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("day", StringType()),
            StructField("cnt", LongType()),
            StructField("n_baseline", LongType()),
            StructField("z", DoubleType()),
            StructField("is_anomaly", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("days", ArrayType(StringType())),
            StructField("cnts", ArrayType(LongType())),
            StructField("open_day", StringType()),
            StructField("open_cnt", LongType()),
        ]
    )

    def score(hist_cnts, day, cnt, user, rows):
        n = len(hist_cnts)
        if n < 3:
            return
        s1 = sum(hist_cnts)
        s2 = sum(c * c for c in hist_cnts)
        if s2 * n <= s1 * s1:  # zero variance baseline
            return
        var = (s2 - float(s1) * s1 / n) / (n - 1)
        z = (cnt - float(s1) / n) / math.sqrt(var)
        rows.append((user, day, cnt, n, round(z, 4), z > 2.0))

    def update(key, pdf_iter, state: GroupState):
        user = key[0]
        days, cnts, open_day, open_cnt = (
            state.get if state.exists else ([], [], None, 0)
        )
        days, cnts = list(days), list(cnts)
        batches = [pdf for pdf in pdf_iter]
        pdf = pd.concat(batches) if batches else pd.DataFrame({"day": []})
        rows: list = []
        if len(pdf):
            per_day = (
                pdf.assign(day=pdf["day"].astype(str))
                .groupby("day").size().sort_index()
            )
            for day, c in per_day.items():
                c = int(c)
                if open_day is None or day == open_day:
                    open_cnt += c
                    open_day = day
                elif day > open_day:
                    # close the open day: score it against the history,
                    # then append it (trimmed to the trailing 7)
                    score(cnts, open_day, open_cnt, user, rows)
                    days.append(open_day)
                    cnts.append(open_cnt)
                    days, cnts = days[-7:], cnts[-7:]
                    open_day, open_cnt = day, c
                # else: arrived before the open day — late beyond horizon, drop
        state.update((days, cnts, open_day, open_cnt))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=["user_id", "day", "cnt", "n_baseline", "z", "is_anomaly"],
            )

    daily = events.select("user_id", F.to_date("ts").cast("string").alias("day"))
    return daily.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def ohlc_stream(events: DataFrame, window: str = "1 day",
                watermark: str = "2 hours") -> DataFrame:
    """Streaming OHLC candles — the incremental twin of
    plans/events.py::events_ohlc. One watermarked tumbling-window aggregate:
    open/close are min_by/max_by picks over a (ts, event_id) struct, which
    merge associatively across micro-batches exactly like min/max (each
    partial carries its best (key, value) pair), so the converged candle
    equals the batch one — pinned by the parity test. State is one row per
    open (event_type, window): bounded by types x watermark horizon."""
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type", "open", "high", "low", "close", "volume",
        )
    )


def streaming_ema_daily(events: DataFrame) -> DataFrame:
    """Streaming form of the batch `events_ema_daily`: per event_type, the
    exact integer-lattice EMA (alpha = 1/4) over CLOSED days, via
    applyInPandasWithState.

    State per type = (seeded?, ema_cents, open_day, open_sum) — O(1)
    regardless of stream length; a day closes when a later day arrives for
    that type (the operator's watermark analog, same convention as
    streaming_anomaly_zscore). Each closed day folds into the recurrence
    ema = (v + 3*ema) div 4 — identical integer arithmetic to the batch
    fold, so every emitted row is final and equals the batch prefix-EMA
    for that day (pinned by the parity test). Days arriving before the
    open day are late beyond the horizon and are dropped."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("day", StringType()),
            StructField("v_cents", LongType()),
            StructField("ema_cents", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("seeded", BooleanType()),
            StructField("ema", LongType()),
            StructField("open_day", StringType()),
            StructField("open_sum", LongType()),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        etype = key[0]
        seeded, ema, open_day, open_sum = (
            state.get if state.exists else (False, 0, None, 0)
        )
        batches = [pdf for pdf in pdf_iter]
        pdf = pd.concat(batches) if batches else pd.DataFrame({"day": [], "cents": []})
        rows: list = []
        if len(pdf):
            per_day = (
                pdf.assign(day=pdf["day"].astype(str))
                .groupby("day")["cents"].sum().sort_index()
            )
            for day, v in per_day.items():
                v = int(v)
                if open_day is None or day == open_day:
                    open_sum += v
                    open_day = day
                elif day > open_day:
                    # close the open day: fold it into the recurrence
                    # (Python // is floor division — same as the batch fold)
                    ema = open_sum if not seeded else (open_sum + 3 * ema) // 4
                    seeded = True
                    rows.append((etype, open_day, open_sum, ema))
                    open_day, open_sum = day, v
                # else: before the open day — late beyond horizon, drop
        state.update((seeded, ema, open_day, open_sum))
        if rows:
            yield pd.DataFrame(
                rows, columns=["event_type", "day", "v_cents", "ema_cents"]
            )

    daily = events.select(
        "event_type",
        F.to_date("ts").cast("string").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return daily.groupBy("event_type").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def rollup_maintaining_sink(events: DataFrame, path: str):
    """Streaming maintenance of the day-partitioned continuous aggregate
    (layout.write_daily_rollup): each micro-batch computes the set of days
    it touches and re-aggregates ONLY those days from the accumulated
    ingest log, swapping just those partitions (dynamic partition
    overwrite via layout.refresh_daily_rollup). foreachBatch is the right
    tool because partition-overwrite parquet maintenance is not an append
    sink — the batch hook gives exactly-once-per-epoch semantics with the
    streaming engine tracking progress.

    Returns the DataStreamWriter (caller starts it). State: none in the
    stream itself — the rollup directory IS the state, which is what makes
    the maintenance restartable. foreachBatch is AT-LEAST-once (the batch
    function can re-run if the process dies between the side effect and
    the checkpoint commit), so BOTH side effects here are keyed by
    epoch_id: the ingest log writes each epoch to its own
    `epoch=<id>` subdirectory with overwrite (a replay rewrites the
    identical files instead of appending duplicates), and the partition
    overwrite is naturally idempotent. Together: exactly-once results."""
    import pyspark.sql.functions as F

    from hyrise_spark.layout import refresh_daily_rollup

    ingest_dir = path + "_ingest"

    def refresh(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        days = [
            str(r.day)
            for r in batch_df.select(
                F.col("ts").cast("date").alias("day")
            ).distinct().collect()  # bounded: distinct DAYS in one micro-batch
        ]
        if not days:
            return
        # epoch-keyed ingest-log write: replays overwrite, never duplicate
        batch_df.write.mode("overwrite").parquet(f"{ingest_dir}/epoch={epoch_id}")
        # the epoch=N layout reads back as a partition column — drop it so
        # the log's schema stays the event schema
        log = read_parquet(spark, ingest_dir).drop("epoch")
        refresh_daily_rollup(spark, log, path, days)

    return events.writeStream.foreachBatch(refresh).trigger(availableNow=True)


def markov_transition_stream(events: DataFrame) -> DataFrame:
    """Streaming sibling of `events_markov_transitions`: per-user state is
    the LAST seen event type (one string per user — bounded, key-sharded),
    and each micro-batch emits that user's transition-count INCREMENTS.
    Summing the emitted increments per (prev_type, next_type) converges to
    the batch transition matrix — the mergeable-increment shape that scales
    to a 1000-executor deployment (state never leaves the key's shard).

    Assumes per-user in-order arrival across micro-batches (the file
    source's natural order here); within a batch rows are sorted by
    (ts, event_id) to match the batch window's order. Late, out-of-order
    events would need a watermark-buffered reorder in front.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("prev_type", StringType()),
            StructField("next_type", StringType()),
            StructField("cnt", LongType()),
        ]
    )
    state_schema = StructType([StructField("last_type", StringType())])

    def update(key, pdf_iter, state: GroupState):
        from collections import Counter

        last = state.get[0] if state.exists else None
        counts: Counter = Counter()
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            for t in pdf["event_type"]:
                if last is not None:
                    counts[(last, t)] += 1
                last = t
        state.update((last,))
        if counts:
            prev, nxt = zip(*counts.keys())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(counts),
                    "prev_type": list(prev),
                    "next_type": list(nxt),
                    "cnt": list(counts.values()),
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def m4_downsampled_stream(
    events: DataFrame, window: str = "4 hours", watermark: str = "2 hours",
    event_type: str = "view",
) -> DataFrame:
    """Streaming M4 downsampling (Jugel et al., VLDB 2014) — the live
    sibling of the batch `events_m4_downsample`: per closed window emit the
    first/last/min/max points of each series, 4 points per window however
    dense the ingest. THE dashboard-ingestion reducer: downstream renderers
    store 4 rows per window instead of the raw stream.

    State is one (4 x BIGINT)-tuple aggregate per open window (bounded by
    watermark horizon / window width); composite orderings are encoded as
    single exact BIGINTs exactly like the batch op, so stream and batch
    pick identical representatives (batch-parity pinned in tests)."""
    ep = F.unix_timestamp("ts")
    vkey = F.round(F.col("value") * 10000).cast("long") * F.lit(1000000000)
    tkey = ep * F.lit(1000000000)
    return (
        events.filter(F.col("event_type") == event_type)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.min_by("event_id", tkey + F.col("event_id")).alias("first_id"),
            F.max_by("event_id", tkey - F.col("event_id")).alias("last_id"),
            F.min_by("event_id", vkey + F.col("event_id")).alias("min_id"),
            F.max_by("event_id", vkey - F.col("event_id")).alias("max_id"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "first_id", "last_id", "min_id", "max_id",
        )
    )
