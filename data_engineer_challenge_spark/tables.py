"""Loaders for the driver testdata star schema.

``spark.read.parquet`` with the declared schema — Catalyst prunes
columns and pushes filters into the scan; at cluster scale the same
call reads a partitioned/bucketed table layout unchanged.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import TESTDATA, TESTDATA_TABLES

# events.ts has shipped as both TIMESTAMP(MICROS) (Spark-native) and
# TIMESTAMP(NANOS) (which Spark's parquet reader rejects) across
# driver testdata generations. Sniff the footer's physical unit and,
# for nanos only, read raw int64 (legacy.parquet.nanosAsLong) and
# truncate to micros with integer division — matching how DuckDB
# narrows ns to its µs timestamps. Assuming one unit silently
# corrupts the other: nanos read as micros collapses 30 days of
# events into ~43 minutes.
_EVENTS_RAW = T.StructType(
    [
        f if f.name != "ts" else T.StructField("ts", T.LongType())
        for f in TESTDATA["events"].fields
    ]
)


@functools.lru_cache(maxsize=None)
def _sniff_events_nanos(path: str, mtime_ns: int, size: int) -> bool:
    import pyarrow.parquet as pq

    schema = pq.ParquetFile(path).schema
    for col in schema:
        if col.name == "ts":
            return "nanoseconds" in str(col.logical_type)
    return False


def _events_ts_is_nanos(path: str) -> bool:
    # cache keyed on (path, mtime, size), not path alone: the driver
    # regenerates testdata between rounds, and a same-path regeneration
    # that flips the timestamp unit must not reuse a stale verdict —
    # that would silently mis-scale every events timestamp by 1000x.
    # A Spark-written table is a DIRECTORY of part files sharing one
    # schema — sniff any one part (tables Spark writes itself look
    # like this; the shipped testdata tables are single files)
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        if not parts:
            return False
        path = parts[0]
    st = os.stat(path)
    return _sniff_events_nanos(path, st.st_mtime_ns, st.st_size)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA:
        raise KeyError(f"unknown testdata table {name!r}")
    # engine semantics are UTC (and the DuckDB oracle is UTC-naive);
    # set defensively in case the caller's session pinned another zone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events" and _events_ts_is_nanos(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.schema(_EVENTS_RAW).parquet(path)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.read.schema(TESTDATA[name]).parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for the SQL API."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
