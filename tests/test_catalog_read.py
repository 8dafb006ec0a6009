"""The footer-pinned parquet reader (`catalog.read_parquet`).

Every parquet read in hyrise_spark/ takes its schema from one footer instead
of Spark's inference job. These tests pin the two halves of that contract:
the pinned schema is exactly the one Spark would have inferred, and table
registration starts no Spark job.
"""
from __future__ import annotations

import datetime as dt
import gc
import glob
import itertools
import os
import weakref
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import pyspark.sql.functions as F

from hyrise_spark.catalog import TESTDATA_TABLES, _footer_schema, load_tables, read_parquet
from tests.conftest import SF_DIR

TESTDATA_ROOT = os.path.dirname(SF_DIR)
TESTDATA_PARQUET = sorted(glob.glob(os.path.join(TESTDATA_ROOT, "sf*", "*.parquet")))
_GROUPS = itertools.count()


def _jobs_started(spark, fn):
    """(fn's result, ids of the Spark jobs fn started on this thread)."""
    sc = spark.sparkContext
    group = f"catalog_read_{next(_GROUPS)}"
    sc.setJobGroup(group, "catalog read job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "path", TESTDATA_PARQUET, ids=[os.path.relpath(p, TESTDATA_ROOT) for p in TESTDATA_PARQUET]
)
def test_pinned_schema_equals_inferred_on_testdata(spark, path):
    assert read_parquet(spark, path).schema.json() == spark.read.parquet(path).schema.json()


def test_pinned_schema_equals_inferred_on_type_zoo(spark, tmp_path):
    """One pyarrow file per footer type the mapping covers, nested included,
    plus legacy INT96 timestamps (pyarrow reports them as ns)."""
    ts = [dt.datetime(2024, 1, 2, 3, 4, 5, 678901)]
    zoo = pa.table({
        "b": pa.array([True]),
        "i8": pa.array([1], pa.int8()),
        "i16": pa.array([1], pa.int16()),
        "i32": pa.array([1], pa.int32()),
        "i64": pa.array([1], pa.int64()),
        "f32": pa.array([1.5], pa.float32()),
        "f64": pa.array([1.5], pa.float64()),
        "dec": pa.array([Decimal("1.25")], pa.decimal128(15, 2)),
        "s": pa.array(["x"]),
        "bin": pa.array([b"x"]),
        "d": pa.array([dt.date(2024, 1, 2)]),
        "ts_ms_utc": pa.array(ts, pa.timestamp("ms", tz="UTC")),
        "ts_us_utc": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "ts_us_ntz": pa.array(ts, pa.timestamp("us")),
        "ts_ms_ntz": pa.array(ts, pa.timestamp("ms")),
        "cat": pa.array(["a"]).dictionary_encode(),
        "arr": pa.array([[1.0, None]], pa.list_(pa.float32())),
        "st": pa.array([{"x": 1, "y": "z"}]),
        "mp": pa.array([{"k": 1}], pa.map_(pa.string(), pa.int64())),
        "nested": pa.array([[{"t": ts[0]}]], pa.list_(pa.struct([("t", pa.timestamp("us"))]))),
    })
    pq.write_table(zoo, tmp_path / "zoo.parquet")
    pq.write_table(
        pa.table({"legacy": pa.array(ts, pa.timestamp("us")), "n": pa.array([1])}),
        tmp_path / "int96.parquet",
        use_deprecated_int96_timestamps=True,
    )
    for name in ("zoo", "int96"):
        p = str(tmp_path / f"{name}.parquet")
        assert _footer_schema(spark, p)[0] is not None, name  # pinned, no fallback
        got = read_parquet(spark, p)
        assert got.schema.json() == spark.read.parquet(p).schema.json(), name
        assert got.collect() == spark.read.parquet(p).collect(), name


def test_pinned_schema_keeps_partition_columns(spark, tmp_path):
    out = str(tmp_path / "by_region")
    spark.read.parquet(f"{SF_DIR}/nation.parquet").write.partitionBy("n_regionkey").parquet(out)
    got = read_parquet(spark, out)
    want = spark.read.parquet(out)
    assert got.schema.json() == want.schema.json()
    assert "n_regionkey" in got.columns
    assert sorted(got.collect()) == sorted(want.collect())


def test_load_tables_starts_no_job(spark):
    fresh = spark.newSession()
    tables, jobs = _jobs_started(fresh, lambda: load_tables(fresh, SF_DIR))
    assert sorted(tables) == sorted(TESTDATA_TABLES)
    assert jobs == []


def test_layout_variant_builders_start_no_job(spark):
    """Once a layout copy exists, building its query reads the copy's
    footer instead of inferring its schema."""
    from hyrise_spark.registry import all_queries

    for name in ("tpch_q6_datesorted", "ssb_q1_1_datesorted", "scan_multidim_zordered"):
        build = all_queries()[name].builder
        build(spark, SF_DIR)  # writes the layout copy on first use
        _, jobs = _jobs_started(spark, lambda: build(spark, SF_DIR))
        assert jobs == [], name


def test_dropped_session_is_collected(spark):
    """The read cache is scoped to its session: it keeps no dropped session
    alive, so no later session can be handed a stale handle."""
    s2 = spark.newSession()
    load_tables(s2, SF_DIR, ("nation",))
    ref = weakref.ref(s2)
    del s2
    # SparkSession.__init__ points RDD.toDF at the newest session; a further
    # session re-points it, leaving the read cache as the only holder
    spark.newSession()
    gc.collect()
    assert ref() is None


def test_nanosecond_timestamps(spark, tmp_path):
    """TIMESTAMP(NANOS) columns, which Spark rejects, read back as the
    microsecond-truncated timestamps, through a job-free registration."""
    nanos = [1_700_000_000_123_456_789, 1_718_000_000_000_000_999, 86_400_000_000_001]
    path = tmp_path / "nanos.parquet"
    pq.write_table(
        pa.table({"id": pa.array([0, 1, 2]), "ts": pa.array(nanos, pa.timestamp("ns"))}),
        path,
        version="2.6",
    )
    assert str(pq.read_schema(path).field("ts").type) == "timestamp[ns]"
    fresh = spark.newSession()
    tables, jobs = _jobs_started(fresh, lambda: load_tables(fresh, str(tmp_path), ("nanos",)))
    assert jobs == []
    df = tables["nanos"]
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = df.orderBy("id").select(F.unix_micros("ts").alias("us")).collect()
    assert [r.us for r in got] == [n // 1000 for n in nanos]
    # the pinned footer schema (ts as LONG) equals inference under the
    # legacy conf the reader set
    pinned, nano_cols = _footer_schema(fresh, str(path))
    assert nano_cols == ["ts"]
    assert pinned.json() == fresh.read.parquet(str(path)).schema.json()
