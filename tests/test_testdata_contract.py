"""Regression guards against testdata drift and driver-harness limits.

Round 5 post-mortem: the driver regenerated events.parquet with
``ts`` as TIMESTAMP(MICROS) where round 1 had TIMESTAMP(NANOS); the
engine's hard-coded nanos workaround silently collapsed every event
timestamp to 1970-01-20 and ~35 queries went wrong with zero local
signal. These tests make both failure classes loud:

- unit drift: for every testdata dir, the engine's min/max(ts) must
  equal DuckDB's read of the same file (DuckDB resolves the parquet
  logical type from the footer, so it is unit-proof by construction);
- array outputs: the driver's value-hasher dies on array cells
  (``TypeError: unhashable type`` — r5 ERROR rows for emb_quantize /
  array_funcs_suite), so no oracle-backed query may return
  array/map/struct columns.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pytest

from tests.conftest import SF_SMOKE

SF_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(SF_SMOKE), "sf*")))


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_events_ts_unit_matches_duckdb(spark, sf_dir):
    """Engine-read event timestamps == DuckDB-read, whatever the
    parquet time unit of the day is."""
    from data_pipeline_postgres_spark.catalog import load_table, table_path

    path = table_path(sf_dir, "events")
    if not os.path.exists(path):
        pytest.skip(f"no events table in {sf_dir}")
    got = (
        load_table(spark, sf_dir, "events")
        .selectExpr(
            "CAST(min(ts) AS STRING) AS lo", "CAST(max(ts) AS STRING) AS hi"
        )
        .collect()[0]
    )
    want = duckdb.sql(
        "SELECT CAST(min(ts) AS VARCHAR) lo, CAST(max(ts) AS VARCHAR) hi "
        f"FROM read_parquet('{path}')"
    ).fetchone()
    assert (got.lo, got.hi) == want
    # and nothing collapsed to the epoch
    assert not got.lo.startswith("1970-")


def test_all_tables_count_matches_duckdb(spark):
    """Every lake table the engine loads must see the same row count
    DuckDB sees — a one-scan tripwire for ANY future driver testdata
    regeneration (schema/type drift usually breaks the read or the
    count long before subtler value drift)."""
    from data_pipeline_postgres_spark.catalog import (
        TABLES,
        load_table,
        table_path,
    )

    for name in TABLES:
        path = table_path(SF_SMOKE, name)
        want = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{path}')"
        ).fetchone()[0]
        got = load_table(spark, SF_SMOKE, name).count()
        assert got == want, f"{name}: spark={got} duckdb={want}"


def test_events_ts_is_timestamp_type(spark):
    from data_pipeline_postgres_spark.catalog import load_table

    df = load_table(spark, SF_SMOKE, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_streaming_schema_matches_file_unit():
    """The streaming reader must pick the raw-long schema ONLY for
    nanos files; for everything else the native timestamp schema."""
    from data_pipeline_postgres_spark.catalog import (
        EVENTS_RAW_SCHEMA,
        EVENTS_TS_SCHEMA,
        _events_read_schema,
        parquet_ts_unit,
        table_path,
    )

    path = table_path(SF_SMOKE, "events")
    schema, nanos = _events_read_schema(path)
    unit = parquet_ts_unit(path)
    if unit == "ns":
        assert nanos and schema == EVENTS_RAW_SCHEMA
    else:
        assert not nanos and schema == EVENTS_TS_SCHEMA


def test_no_oracle_query_returns_nested_columns(spark):
    """Driver hasher contract: every oracle-backed query's schema is
    scalar-only. Schema inspection is lazy (no job runs), so the whole
    sweep is cheap."""
    import __spark_entry__ as entry
    from pyspark.sql import types as T

    queries = entry.queries()
    oracles = entry.oracle_sql()
    offenders = {}
    for name in oracles:
        df = queries[name](spark, SF_SMOKE)
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(
                f.dataType, (T.ArrayType, T.MapType, T.StructType)
            )
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"nested output columns: {offenders}"


def test_sentinel_assertion_raises_on_single_batch():
    """streaming.jobs._assert_sentinel_sequenced must fail loudly when
    the drain ran fewer than two data micro-batches (the silent
    no-windows failure shape of a sentinel-ordering surprise)."""
    from data_pipeline_postgres_spark.streaming.jobs import (
        _assert_sentinel_sequenced,
    )

    class _P:
        def __init__(self, j):
            self.json = j

    class _Q:
        recentProgress = [
            _P('{"numInputRows": 1000}'),
            _P('{"numInputRows": 0}'),
        ]

    with pytest.raises(RuntimeError, match="sentinel"):
        _assert_sentinel_sequenced(_Q())

    class _QOk:
        recentProgress = [
            _P('{"numInputRows": 1000}'),
            _P('{"numInputRows": 1}'),
        ]

    _assert_sentinel_sequenced(_QOk())  # no raise


def test_nanos_branch_still_works(spark, tmp_path):
    """The TIMESTAMP(NANOS) reader branch (raw int64 + floor-to-µs)
    has no live testdata anymore — cover it with a synthetic ns file
    so a driver flip back to NANOS can't silently break it again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_postgres_spark.catalog import load_table

    base_us = 1_705_315_800_000_000  # 2024-01-15 10:50:00 UTC
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [base_us * 1000 + 999, (base_us + 1) * 1000],
                pa.timestamp("ns"),
            ),
            "user_id": pa.array([10, 11], pa.int64()),
            "event_type": pa.array(["click", "view"], pa.string()),
            "value": pa.array([1.5, 2.5], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        }
    )
    sf_dir = str(tmp_path)
    pq.write_table(tbl, f"{sf_dir}/events.parquet")
    df = load_table(spark, sf_dir, "events")
    rows = {r["event_id"]: r["ts"].isoformat() for r in df.collect()}
    # sub-µs nanos floor away; the +1µs row lands one microsecond later
    assert rows[1] == "2024-01-15T10:50:00"
    assert rows[2] == "2024-01-15T10:50:00.000001"
    assert dict(df.dtypes)["ts"] == "timestamp"
