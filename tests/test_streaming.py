"""Structured Streaming parity tests: stream the events table through
windowed aggregation + sessionization with availableNow and compare with the
equivalent batch plans."""

from __future__ import annotations

import glob
import shutil

import pyspark.sql.functions as F
import pytest

from hyrise_spark.streaming.events_stream import (
    deduped_stream,
    read_events_stream,
    run_to_completion,
    sessionized,
    stateful_user_totals,
    windowed_counts,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    # Re-encode the ns-timestamp parquet into a stream-source dir with
    # microsecond timestamps (a streaming file source wants uniform schema).
    import pyarrow.parquet as pq
    import pyarrow.compute as pc
    import pyarrow as pa

    src = f"{SF_DIR}/events.parquet"
    d = tmp_path_factory.mktemp("events_stream")
    t = pq.read_table(src)
    # events carry true nanosecond precision; truncation to us is intended
    ts_us = pc.cast(t["ts"], pa.timestamp("us"), safe=False)
    t = t.set_column(t.schema.get_field_index("ts"), "ts", ts_us)
    # Split into 3 files to exercise multi-batch ingestion.
    n = t.num_rows
    for i in range(3):
        pq.write_table(t.slice(i * n // 3, (i + 1) * n // 3 - i * n // 3), d / f"part{i}.parquet")
    return str(d)


def test_windowed_counts_stream_matches_batch(spark, events_dir):
    stream = windowed_counts(read_events_stream(spark, events_dir))
    run_to_completion(stream, "stream_counts")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.table("stream_counts").collect()
    }
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .collect()
    )
    want = {(r["h"], r["event_type"]): (r["n"], r["tv"]) for r in batch}
    assert got == want


def test_stateful_user_totals_matches_batch(spark, events_dir):
    """applyInPandasWithState running totals == batch groupBy at stream end.

    The memory sink in update mode appends one row per (user, micro-batch);
    the LAST row per user carries the final state."""
    stream = stateful_user_totals(read_events_stream(spark, events_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_user_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final: dict[int, tuple] = {}
    for r in spark.table("stream_user_totals").collect():
        prev = final.get(r["user_id"])
        # n_events is monotone per user; keep the max = last micro-batch
        if prev is None or r["n_events"] > prev[0]:
            final[r["user_id"]] = (r["n_events"], r["total_value"])
    batch = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .collect()
    )
    want = {r["user_id"]: (r["n"], r["tv"]) for r in batch}
    assert len(final) == len(want)
    for uid, (n, tv) in want.items():
        gn, gtv = final[uid]
        assert gn == n, (uid, gn, n)
        assert abs(gtv - tv) < 0.05, (uid, gtv, tv)


def test_deduped_stream_removes_reingested_file(spark, events_dir, tmp_path):
    """Copy one source file twice into the stream dir -> exact-dup events;
    dropDuplicates on event_id must restore the original cardinality."""
    import shutil

    d = tmp_path / "dup_events"
    d.mkdir()
    for f in glob.glob(f"{events_dir}/part*.parquet"):
        shutil.copy(f, d / f.split("/")[-1])
    shutil.copy(f"{events_dir}/part0.parquet", d / "part0_again.parquet")
    stream = deduped_stream(read_events_stream(spark, str(d))).select(
        "event_id", "ts", "user_id"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_unique = spark.read.parquet(events_dir).select("event_id").distinct().count()
    out = spark.table("stream_dedup")
    assert out.count() == n_unique
    assert out.select("event_id").distinct().count() == n_unique


def test_sessionized_stream_runs(spark, events_dir):
    stream = sessionized(read_events_stream(spark, events_dir))
    run_to_completion(stream, "stream_sessions")
    out = spark.table("stream_sessions")
    assert out.count() > 0
    # session integrity: no user has overlapping sessions
    w = out.orderBy("user_id", "session_start").collect()
    by_user: dict[int, list] = {}
    for r in w:
        by_user.setdefault(r["user_id"], []).append(r)
    for sess in by_user.values():
        for a, b in zip(sess, sess[1:]):
            assert a["session_end"] <= b["session_start"]


def test_stream_stream_attribution_matches_batch(spark, events_dir):
    """Stream-stream interval join == the same join run in batch."""
    from hyrise_spark.streaming.events_stream import purchase_click_attribution

    stream = purchase_click_attribution(
        read_events_stream(spark, events_dir), read_events_stream(spark, events_dir)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_attr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["purchase_id"], r["click_id"]) for r in spark.table("stream_attr").collect()
    }
    ev = spark.read.parquet(events_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    want = {
        (r["pid"], r["cid"])
        for r in p.join(
            c,
            (F.col("pu") == F.col("cu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_stream_static_enrichment(spark, events_dir):
    """Stream-static broadcast join enriches every event; unmatched users
    keep NULL dims (left join semantics)."""
    from hyrise_spark.catalog import load_tables
    from hyrise_spark.streaming.events_stream import enriched_stream

    customers = load_tables(spark, SF_DIR, ("customer",))["customer"]
    stream = enriched_stream(read_events_stream(spark, events_dir), customers)
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("stream_enriched")
    n_events = spark.read.parquet(events_dir).count()
    assert out.count() == n_events  # left join: no row loss
    matched = out.filter(F.col("c_name").isNotNull()).count()
    assert 0 < matched <= n_events


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """An event arriving later than the watermark horizon behind the stream's
    max event time must be DROPPED from append-mode windowed aggregation —
    the late-data contract that bounds state at scale. Driven as ONE logical
    query over a checkpoint with two availableNow passes (parquet sink; the
    memory sink cannot recover from checkpoints)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "late_events"
    d.mkdir()
    out_dir = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "ckpt")

    def write(name, rows):
        df = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        df["ts"] = pd.to_datetime(df["ts"])
        tbl = pa.Table.from_pandas(df, preserve_index=False)
        tbl = tbl.set_column(
            tbl.schema.get_field_index("ts"),
            "ts",
            tbl["ts"].cast(pa.timestamp("us")),
        )
        pq.write_table(tbl, d / name)

    def drain():
        q = (
            windowed_counts(
                read_events_stream(spark, str(d)), window="1 hour", watermark="1 hour"
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # pass 1: on-time events; max event time 12:00 -> watermark 11:00, the
    # 09:00-10:00 window closes and is emitted with n=1
    write(
        "b1.parquet",
        [
            (1, "2024-01-01 09:30:00", 1, "click", 1.0, "{}"),
            (2, "2024-01-01 12:00:00", 1, "click", 1.0, "{}"),
        ],
    )
    drain()
    # pass 2: a 09:45 event arrives — behind the watermark, must be dropped
    write("b2.parquet", [(3, "2024-01-01 09:45:00", 1, "click", 1.0, "{}")])
    drain()
    rows = spark.read.parquet(out_dir).collect()
    nine = [r for r in rows if str(r["window_start"]).startswith("2024-01-01 09")]
    assert len(nine) == 1 and nine[0]["n"] == 1, rows


def test_streaming_anomaly_zscore_matches_batch(spark, tmp_path):
    """The stateful streaming z-score emits, for every CLOSED user-day, the
    exact score the batch events_anomaly_zscore computes for that day; the
    still-open last day per user is the only difference between the two."""
    import pyarrow.parquet as pq

    from hyrise_spark.registry import all_queries
    from hyrise_spark.streaming.events_stream import streaming_anomaly_zscore

    # sf-dir layout with events.parquet as a DIRECTORY of time-ordered part
    # files: days arrive in order per user (the operator's watermark analog)
    sf = tmp_path / "sf"
    d = sf / "events.parquet"
    d.mkdir(parents=True)
    t = pq.read_table(f"{SF_DIR}/events.parquet").sort_by("ts")
    n = t.num_rows
    for i in range(3):
        pq.write_table(
            t.slice(i * n // 3, (i + 1) * n // 3 - i * n // 3),
            d / f"part{i}.parquet",
        )

    stream = streaming_anomaly_zscore(read_events_stream(spark, str(d)))
    run_to_completion(stream, "zs_stream_out", output_mode="append")
    got = {
        (r.user_id, r.day): (r.cnt, r.n_baseline, r.z, r.is_anomaly)
        for r in spark.table("zs_stream_out").collect()
    }

    batch = all_queries()["events_anomaly_zscore"].builder(spark, str(sf)).collect()
    last_day = {
        r.user_id: str(r.d)
        for r in spark.read.parquet(str(d))
        .groupBy("user_id").agg(F.max(F.to_date("ts")).alias("d")).collect()
    }
    expected = {
        (r.user_id, str(r.day)): (r.cnt, r.n_baseline, r.z, r.is_anomaly)
        for r in batch
        if str(r.day) != last_day[r.user_id]
    }
    assert set(got) == set(expected)
    for k, (cnt, nb, z, anom) in expected.items():
        gcnt, gnb, gz, ganom = got[k]
        assert (gcnt, gnb, ganom) == (cnt, nb, anom), k
        assert abs(gz - z) < 1e-9, (k, gz, z)
    assert any(v[3] for v in got.values())  # anomalies actually fire


def test_streaming_ohlc_matches_batch(spark, events_dir):
    """ohlc_stream over a 3-file ingestion converges to the batch
    events_ohlc candles: min_by/max_by partials merge associatively across
    micro-batches."""
    from hyrise_spark.plans.events import events_ohlc
    from hyrise_spark.streaming.events_stream import ohlc_stream, run_to_completion
    from tests.conftest import SF_DIR

    stream = ohlc_stream(read_events_stream(spark, events_dir))
    run_to_completion(stream, "ohlc_out", output_mode="complete")
    got = sorted(tuple(r) for r in spark.table("ohlc_out").collect())
    want = sorted(
        tuple(r)
        for r in events_ohlc(spark, SF_DIR)
        .select("day", "event_type", "open", "high", "low", "close", "volume")
        .collect()
    )
    assert got and got == want


def test_streaming_ema_daily_matches_batch_prefix(spark, tmp_path):
    """Every CLOSED day's streamed EMA equals the batch integer recurrence
    folded over the daily rollup up to that day; the still-open last day
    per type is the only difference."""
    import pyarrow.parquet as pq

    from hyrise_spark.streaming.events_stream import streaming_ema_daily

    sf = tmp_path / "sf"
    d = sf / "events.parquet"
    d.mkdir(parents=True)
    t = pq.read_table(f"{SF_DIR}/events.parquet").sort_by("ts")
    n = t.num_rows
    for i in range(3):
        pq.write_table(
            t.slice(i * n // 3, (i + 1) * n // 3 - i * n // 3),
            d / f"part{i}.parquet",
        )

    stream = streaming_ema_daily(read_events_stream(spark, str(d)))
    run_to_completion(stream, "ema_stream_out", output_mode="append")
    got = {
        (r.event_type, r.day): (r.v_cents, r.ema_cents)
        for r in spark.table("ema_stream_out").collect()
    }

    # batch reference: per-type day-ordered daily cents, folded in Python
    daily = (
        spark.read.parquet(str(d))
        .groupBy("event_type", F.to_date("ts").cast("string").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.day, r.v))
    expected = {}
    for etype, dv in series.items():
        dv.sort()
        ema = None
        for day, v in dv[:-1]:  # last day stays open in the stream
            ema = v if ema is None else (v + 3 * ema) // 4
            expected[(etype, day)] = (v, ema)
    assert got == expected and expected


def test_streaming_rollup_maintenance_matches_batch(spark, tmp_path):
    """Streaming the corpus through the foreachBatch rollup maintainer
    yields the identical day-partitioned aggregate a one-shot batch build
    produces — partition-level incremental maintenance converges to the
    batch truth."""
    import pyarrow.parquet as pq

    from hyrise_spark.layout import write_daily_rollup
    from hyrise_spark.streaming.events_stream import rollup_maintaining_sink

    d = tmp_path / "events_stream"
    d.mkdir()
    t = pq.read_table(f"{SF_DIR}/events.parquet").sort_by("ts")
    n = t.num_rows
    for i in range(3):
        pq.write_table(
            t.slice(i * n // 3, (i + 1) * n // 3 - i * n // 3),
            d / f"part{i}.parquet",
        )

    rollup = str(tmp_path / "rollup")
    writer = rollup_maintaining_sink(read_events_stream(spark, str(d)), rollup)
    q = writer.option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(rollup).collect()))
    full = str(tmp_path / "rollup_batch")
    write_daily_rollup(spark.read.parquet(str(d)), full)
    want = sorted(map(tuple, spark.read.parquet(full).collect()))
    assert got == want and got


def test_streaming_markov_transitions_match_batch(spark, events_dir):
    """Summed streaming transition increments == the batch LAG-window
    transition counts over the same files."""
    from hyrise_spark.streaming.events_stream import markov_transition_stream
    from pyspark.sql.window import Window

    stream = markov_transition_stream(read_events_stream(spark, events_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_markov")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got: dict[tuple, int] = {}
    for r in spark.table("stream_markov").collect():
        k = (r["prev_type"], r["next_type"])
        got[k] = got.get(k, 0) + r["cnt"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        spark.read.parquet(events_dir)
        .select("user_id", "event_type", F.lag("event_type").over(w).alias("p"))
        .filter(F.col("p").isNotNull())
        .groupBy("p", "event_type")
        .count()
        .collect()
    )
    want = {(r["p"], r["event_type"]): r["count"] for r in batch}
    assert got == want


def test_stream_stream_attribution_outer_matches_batch(spark, events_dir, tmp_path):
    """LEFT OUTER stream-stream join == the batch left join: unmatched
    purchases emit NULL-click rows once the watermark passes their window.
    A far-future sentinel click (excluded from the comparison) advances the
    watermark beyond all real data so every pending outer result flushes."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hyrise_spark.streaming.events_stream import (
        purchase_click_attribution_outer,
    )

    d = tmp_path / "events_outer"
    shutil.copytree(events_dir, d)
    real = spark.read.parquet(str(events_dir))
    max_ts = real.agg(F.max("ts")).collect()[0][0]
    sentinel_ts = pa.scalar(
        max_ts.replace(year=max_ts.year + 1), type=pa.timestamp("us")
    )
    base = pq.read_table(f"{events_dir}")
    # one sentinel per SIDE: the global watermark is the MIN across inputs,
    # so both the click and the purchase stream need a far-future event
    sentinel = pa.table(
        {
            "event_id": pa.array([10**9, 10**9 + 1], pa.int64()),
            "ts": pa.array([sentinel_ts.as_py()] * 2, pa.timestamp("us")),
            "user_id": pa.array([10**8, 10**8 + 1], pa.int64()),
            "event_type": pa.array(["click", "purchase"], pa.string()),
            "value": pa.array([0.0, 0.0], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        }
    ).select(base.column_names).cast(base.schema)
    pq.write_table(sentinel, d / "zz_sentinel.parquet")

    stream = purchase_click_attribution_outer(
        read_events_stream(spark, str(d)), read_events_stream(spark, str(d))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_attr_outer")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.table("stream_attr_outer").collect()
        if r["purchase_id"] < 10**9 and (r["click_id"] is None or r["click_id"] < 10**9)
    }  # the sentinels are plumbing, not data
    p = real.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    c = real.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    want = {
        (r["pid"], r["cid"])
        for r in p.join(
            c,
            (F.col("pu") == F.col("cu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 hour")),
            "left_outer",
        ).collect()
    }
    assert got == want
    # the outer rows are doing real work: some purchases have no click
    assert any(cid is None for _, cid in got)


def test_stream_stream_attribution_full_outer_matches_batch(spark, events_dir, tmp_path):
    """FULL OUTER stream-stream join == the batch full join: unmatched
    purchases emit NULL-click rows AND unmatched clicks emit NULL-purchase
    rows once the watermark passes their windows. Completes the streaming
    outer-join matrix (inner / left_outer / full_outer)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hyrise_spark.streaming.events_stream import (
        purchase_click_attribution_full_outer,
    )

    d = tmp_path / "events_fouter"
    shutil.copytree(events_dir, d)
    real = spark.read.parquet(str(events_dir))
    max_ts = real.agg(F.max("ts")).collect()[0][0]
    sentinel_ts = pa.scalar(
        max_ts.replace(year=max_ts.year + 1), type=pa.timestamp("us")
    )
    base = pq.read_table(f"{events_dir}")
    sentinel = pa.table(
        {
            "event_id": pa.array([10**9, 10**9 + 1], pa.int64()),
            "ts": pa.array([sentinel_ts.as_py()] * 2, pa.timestamp("us")),
            "user_id": pa.array([10**8, 10**8 + 1], pa.int64()),
            "event_type": pa.array(["click", "purchase"], pa.string()),
            "value": pa.array([0.0, 0.0], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        }
    ).select(base.column_names).cast(base.schema)
    pq.write_table(sentinel, d / "zz_sentinel.parquet")

    stream = purchase_click_attribution_full_outer(
        read_events_stream(spark, str(d)), read_events_stream(spark, str(d))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_attr_fouter")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.table("stream_attr_fouter").collect()
        if (r["purchase_id"] is None or r["purchase_id"] < 10**9)
        and (r["click_id"] is None or r["click_id"] < 10**9)
    }  # the sentinels are plumbing, not data
    p = real.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    c = real.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    want = {
        (r["pid"], r["cid"])
        for r in p.join(
            c,
            (F.col("pu") == F.col("cu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 hour")),
            "full_outer",
        ).collect()
    }
    assert got == want
    # both outer directions do real work
    assert any(cid is None for _, cid in got if _ is not None)
    assert any(pid is None for pid, _ in got)


def test_m4_downsampled_stream_matches_batch(spark, events_dir):
    """Streaming M4 picks the identical first/last/min/max representatives
    the batch aggregation picks, per closed window."""
    from hyrise_spark.streaming.events_stream import m4_downsampled_stream

    stream = m4_downsampled_stream(read_events_stream(spark, events_dir))
    run_to_completion(stream, "stream_m4")
    got = {
        r["window_start"]: (r["first_id"], r["last_id"], r["min_id"], r["max_id"])
        for r in spark.table("stream_m4").collect()
    }
    ev = spark.read.parquet(events_dir).filter(F.col("event_type") == "view")
    ep = F.unix_timestamp("ts")
    vkey = F.round(F.col("value") * 10000).cast("long") * F.lit(1000000000)
    tkey = ep * F.lit(1000000000)
    batch = (
        ev.groupBy(F.window("ts", "4 hours").alias("w"))
        .agg(
            F.min_by("event_id", tkey + F.col("event_id")).alias("f"),
            F.max_by("event_id", tkey - F.col("event_id")).alias("l"),
            F.min_by("event_id", vkey + F.col("event_id")).alias("mn"),
            F.max_by("event_id", vkey - F.col("event_id")).alias("mx"),
        )
        .collect()
    )
    want = {r["w"]["start"]: (r["f"], r["l"], r["mn"], r["mx"]) for r in batch}
    assert got == want and len(got) > 3


def test_join_state_survives_checkpoint_restart(spark, tmp_path):
    """Stream-stream join STATE recovers across query restarts: a click
    ingested in pass 1 must still match a purchase that only arrives in
    pass 2, after the first query has terminated — the buffered-side state
    lives in the checkpoint, not the process. (The late-data test pins
    aggregation-state recovery; this pins JOIN-state recovery.)"""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hyrise_spark.streaming.events_stream import purchase_click_attribution

    d = tmp_path / "join_events"
    d.mkdir()
    out_dir = str(tmp_path / "join_out")
    ckpt = str(tmp_path / "join_ckpt")

    def write(name, rows):
        df = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        df["ts"] = pd.to_datetime(df["ts"])
        tbl = pa.Table.from_pandas(df, preserve_index=False)
        tbl = tbl.set_column(
            tbl.schema.get_field_index("ts"), "ts",
            tbl["ts"].cast(pa.timestamp("us")),
        )
        pq.write_table(tbl, d / name)

    def drain():
        q = (
            purchase_click_attribution(
                read_events_stream(spark, str(d)),
                read_events_stream(spark, str(d)),
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # pass 1: the click only — no joined row can exist yet
    write("b1.parquet", [(1, "2024-01-01 10:00:00", 7, "click", 0.0, "{}")])
    drain()
    # pass 2 (new query instance, same checkpoint): the purchase 30 min
    # later — must match the PASS-1 click from recovered state; plus a
    # far-future row to advance the watermark so the join emits
    write("b2.parquet", [
        (2, "2024-01-01 10:30:00", 7, "purchase", 42.0, "{}"),
        (3, "2024-01-01 20:00:00", 8, "click", 0.0, "{}"),
    ])
    drain()
    rows = spark.read.parquet(out_dir).collect()
    matched = [(r["purchase_id"], r["click_id"]) for r in rows]
    assert (2, 1) in matched, rows
