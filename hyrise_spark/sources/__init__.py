"""Sources & sinks — IMPORT/EXPORT surface.

Reference FileType enum: Csv, Tbl, Binary, Auto
(/root/reference/src/lib/import_export/file_type.hpp:9); Import/Export
operators at src/lib/operators/import.hpp:23 / export.hpp:24. All four
members have real readers: `.bin` is parsed natively (sources/hybin.py,
BinaryParser parity) with a content sniff so parquet files carrying a .bin
suffix (this engine's pre-round-4 export convention) still load.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hyrise_spark.catalog import read_parquet
from hyrise_spark.sources.tbl import read_tbl, write_tbl
from hyrise_spark.sources.csv_meta import read_csv_with_meta, write_csv_with_meta

__all__ = [
    "read_tbl",
    "write_tbl",
    "read_csv_with_meta",
    "write_csv_with_meta",
    "read_any",
    "write_any",
]


def read_any(spark: SparkSession, path: str) -> DataFrame:
    """FileType::Auto dispatch by extension (file_type.hpp:9)."""
    if path.endswith(".tbl"):
        return read_tbl(spark, path)
    if path.endswith(".csv"):
        return read_csv_with_meta(spark, path)
    if path.endswith(".parquet"):
        return read_parquet(spark, path)
    if path.endswith((".jsonl", ".ndjson", ".json")):
        return spark.read.json(path)
    if path.endswith(".orc"):
        return spark.read.orc(path)
    if path.endswith(".bin"):
        import os

        from hyrise_spark.sources.hybin import read_bin

        # content sniff: hyrise BinaryWriter output is a single flat file;
        # parquet (dir, or file starting with the PAR1 magic) also shipped
        # under .bin before round 4.
        if os.path.isdir(path):
            return read_parquet(spark, path)
        with open(path, "rb") as fh:
            if fh.read(4) == b"PAR1":
                return read_parquet(spark, path)
        return read_bin(spark, path)
    raise ValueError(
        f"cannot infer file type of {path!r} (want .tbl/.csv/.parquet/.json/.orc)"
    )


def write_any(df: DataFrame, path: str) -> None:
    if path.endswith(".tbl"):
        write_tbl(df, path)
    elif path.endswith(".csv"):
        write_csv_with_meta(df, path)
    elif path.endswith(".parquet"):
        df.write.mode("overwrite").parquet(path)
    elif path.endswith(".bin"):
        from hyrise_spark.sources.hybin import write_bin

        write_bin(df, path)
    elif path.endswith((".json", ".jsonl", ".ndjson")):
        df.write.mode("overwrite").json(path)
    elif path.endswith(".orc"):
        df.write.mode("overwrite").orc(path)
    else:
        raise ValueError(
            f"cannot infer file type of {path!r} (want .tbl/.csv/.parquet/.json/.orc)"
        )
