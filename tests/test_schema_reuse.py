"""Lake and stored-index reads reuse Spark's inferred schema per file
version (``catalog.parquet_schema``), so building a query runs no
schema-inference job after the first read of a file; a file rewritten
at the same path is inferred again."""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from data_pipeline_postgres_spark import catalog

from .conftest import SF_SMOKE


def _jobs_in(spark, group: str, fn, wait_for_one: bool = False) -> int:
    """Spark jobs started while ``fn()`` runs, counted through the
    status tracker under a fresh job group. The tracker is fed by an
    asynchronous listener, so a count that must be positive is polled
    briefly."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 10
    while wait_for_one and not tracker.getJobIdsForGroup(group):
        if time.monotonic() > deadline:
            break
        time.sleep(0.1)
    return len(tracker.getJobIdsForGroup(group))


def test_second_load_runs_no_job(spark, tmp_path):
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copy(catalog.table_path(SF_SMOKE, "orders"), sf)
    first = _jobs_in(
        spark,
        "schema-reuse-first",
        lambda: catalog.load_table(spark, sf, "orders"),
        wait_for_one=True,
    )
    assert first >= 1, "the first load of a new file infers its schema"
    again = _jobs_in(
        spark,
        "schema-reuse-again",
        lambda: catalog.load_table(spark, sf, "orders"),
    )
    assert again == 0


def test_cached_schema_is_sparks_inferred_schema(spark):
    for name in catalog.TABLES:
        path = catalog.table_path(SF_SMOKE, name)
        assert (
            catalog.parquet_schema(spark, path)
            == spark.read.parquet(path).schema
        ), name


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    """The events ts-unit flip: the same path rewritten with ts in
    UTC-adjusted millis instead of local micros changes Spark's
    inferred ts type, and the new version's schema is served."""
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    path = catalog.table_path(sf, "events")
    shutil.copy(catalog.table_path(SF_SMOKE, "events"), path)
    before = catalog.parquet_schema(spark, path)
    assert before["ts"].dataType.typeName() == "timestamp_ntz"

    table = pq.read_table(path)
    i = table.schema.get_field_index("ts")
    ts = table.column(i).cast(pa.timestamp("ms", tz="UTC"), safe=False)
    old = os.stat(path).st_mtime_ns
    pq.write_table(table.set_column(i, "ts", ts), path)
    # a later version of the file, whatever the filesystem's mtime
    # granularity
    os.utime(path, ns=(old + 10**9, old + 10**9))
    assert catalog.parquet_ts_unit(path) == "ms"

    after = catalog.parquet_schema(spark, path)
    assert after != before
    assert after == spark.read.parquet(path).schema
    df = catalog.load_table(spark, sf, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() == table.num_rows
