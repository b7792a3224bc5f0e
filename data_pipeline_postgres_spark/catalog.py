"""Table registry for the parquet test lake.

The driver's testdata (TESTDATA.md) is a TPC-H-ish star schema plus
``events`` / ``documents`` / ``embeddings``. Every query callable takes
``(spark, sf_dir)``; this module centralizes loading and temp-view
registration so Spark and the DuckDB oracle see identically-named
relations.

At 100 TB these would be partitioned/bucketed catalog tables; the
loader keeps that swap local to one function.
"""

from __future__ import annotations

import glob
import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _version_file(path: str) -> str:
    """The parquet file whose footer and mtime stand for ``path``: the
    file itself, or a directory's first part file (Spark writes every
    part of a new version under a new name)."""
    if os.path.isdir(path):
        inner = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not inner:
            raise FileNotFoundError(f"no parquet files under {path}")
        return inner[0]
    return path


def parquet_ts_unit(path: str, column: str = "ts") -> str:
    """Time unit ('s'|'ms'|'us'|'ns') of a parquet timestamp column,
    read from the file footer. The testdata has flipped units between
    driver versions (NANOS in round 1, MICROS by round 5); sniffing
    the footer instead of hard-coding the unit makes the reader
    unit-proof. One footer read on the driver per (file, mtime,
    column) — cached, negligible even at 100 TB. The mtime rides in
    the cache key so a regenerated file (the unit-flip scenario this
    sniffing exists for) can never serve a stale cached unit within a
    long-lived session."""
    path = _version_file(path)
    return _parquet_ts_unit_cached(
        path, os.stat(path).st_mtime_ns, column
    )


@lru_cache(maxsize=64)
def _parquet_ts_unit_cached(path: str, mtime_ns: int, column: str) -> str:
    import pyarrow.parquet as pq

    return pq.read_schema(path).field(column).type.unit


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """Spark's own inferred schema of a parquet file or directory,
    inferred once per file version. ``spark.read.parquet(path)``
    without a schema runs a footer-reading Spark job on every call
    (about 70 ms on 4 cores; the same read with a schema runs none),
    so repeat reads of an unchanged file pass this schema instead.
    Keyed on (file, ``st_mtime_ns``) like ``parquet_ts_unit``: a file
    rewritten at the same path is inferred again."""
    f = _version_file(path)
    return _inferred_schema(spark, path, f, os.stat(f).st_mtime_ns)


@lru_cache(maxsize=64)
def _inferred_schema(
    spark: SparkSession, path: str, version_file: str, mtime_ns: int
) -> T.StructType:
    return spark.read.parquet(path).schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` under its cached inferred schema
    (``parquet_schema``): the same DataFrame, no inference job after
    the first read of a file version."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def _events_schema(ts: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


# events.parquet physical layout (TESTDATA.md). A TIMESTAMP(NANOS) ts
# is read as raw long and floored to micros by ``_fix_ts``; SECONDS /
# MILLIS / MICROS files read natively as TimestampType.
EVENTS_RAW_SCHEMA = _events_schema(T.LongType())
EVENTS_TS_SCHEMA = _events_schema(T.TimestampType())


def _events_read_schema(path: str) -> tuple[T.StructType, bool]:
    """(explicit read schema, needs ``_fix_ts``?) for an events parquet
    file or directory. The only place the engine branches on the
    file's ts unit, so batch and streaming readers both survive the
    driver flipping the testdata's unit."""
    nanos = parquet_ts_unit(path) == "ns"
    return (EVENTS_RAW_SCHEMA if nanos else EVENTS_TS_SCHEMA), nanos


def _fix_ts(df: DataFrame, nanos: bool) -> DataFrame:
    """Floor raw int64 nanos to a microsecond timestamp (DuckDB's
    truncation, so both engines see identical values); identity when
    the file unit is natively readable."""
    if nanos:
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one lake table as a DataFrame (columnar parquet scan —
    column pruning and predicate pushdown reach the file scan). Reads
    under the file's cached inferred schema (``read_parquet``), so
    building a query runs no schema-inference job after the first
    load of each table version."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = table_path(sf_dir, name)
    if name == "events":
        schema, nanos = _events_read_schema(path)
        if nanos:
            # TIMESTAMP(NANOS) is rejected by Spark's vectorized
            # reader when inferring the schema (PARQUET_TYPE_ILLEGAL).
            # Supplying the schema explicitly with ``ts long`` reads
            # the raw nanos without touching the session-wide
            # ``spark.sql.legacy.parquet.nanosAsLong`` conf (no leak
            # into other readers).
            return _fix_ts(spark.read.schema(schema).parquet(path), nanos)
        # MICROS files without isAdjustedToUTC infer as timestamp_ntz;
        # the session timezone is pinned to UTC (session.py), so the
        # cast to TIMESTAMP is value-preserving and keeps one ts type
        # across batch, streaming, and the DuckDB oracle.
        return read_parquet(spark, path).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
    return read_parquet(spark, path)


def spread_scan(df: DataFrame, key: str) -> DataFrame:
    """Scale-adaptive scan-parallelism fix for heavy per-row work
    (optimization guide §2.5 "input skew: one huge unsplittable file
    ... repartition immediately after the read"). The test lake's
    tables are ONE parquet file with ONE row group, so every stage up
    to the first exchange — tokenize/shingle/md5/explode, often the
    dominant cost of a text query — runs as a single task on one core
    regardless of cluster width. Hash-repartition by ``key`` up to
    ``defaultParallelism`` ONLY when the scan yields fewer partitions
    than cores: at 100 TB a table scan already carries thousands of
    splits, the branch is a no-op, and no gratuitous exchange is ever
    added at scale. Results are unchanged for any downstream plan
    that is row-order independent (everything here is: aggregations,
    joins, windows keyed by columns) — do NOT use upstream of
    ``monotonically_increasing_id``/``spark_partition_id`` consumers,
    whose values depend on the physical partitioning."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, F.col(key))
    return df

