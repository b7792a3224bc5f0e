"""Pipeline-parity metamorphic tests (SURVEY.md §5): idempotent
re-runs, per-day union ≡ full transform, streaming ≡ batch."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from data_pipeline_postgres_spark import pipelines
from data_pipeline_postgres_spark.plans.flagship import flagship

from .conftest import SF_SMOKE

WORK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scratch",
    "pipeline_test",
)
DATES = [f"2024-01-{d:02d}" for d in range(1, 31)]


@pytest.fixture(scope="module")
def warehouse(spark):
    if os.path.exists(WORK):
        shutil.rmtree(WORK)
    df = pipelines.run_incremental(spark, SF_SMOKE, WORK, DATES)
    return sorted(map(tuple, df.collect()))


def test_union_of_days_equals_full_transform(spark, warehouse):
    full = sorted(map(tuple, flagship(spark, SF_SMOKE).collect()))
    assert warehouse == full


def test_rerun_day_is_idempotent(spark, warehouse):
    pipelines.extract_day(spark, SF_SMOKE, WORK, "2024-01-15")
    pipelines.transform_day(spark, WORK, "2024-01-15")
    again = sorted(
        map(tuple, pipelines.load_warehouse(spark, WORK).collect())
    )
    assert again == warehouse


def test_day_read_prunes_partitions(spark, warehouse):
    raw = spark.read.parquet(pipelines.raw_path(WORK)).filter(
        F.col("date") == F.lit("2024-01-15").cast("date")
    )
    plan = raw._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "date" in plan.split("PartitionFilters:", 1)[1].splitlines()[0]


def test_incremental_under_static_mode_session(spark):
    """Per-partition idempotency must NOT depend on the ambient
    session conf: under Spark's default (static) partitionOverwriteMode
    — e.g. the driver's own harness session — a multi-day
    run_incremental must still accumulate all days (the writers scope
    the dynamic mode themselves)."""
    work = WORK + "_static"
    if os.path.exists(work):
        shutil.rmtree(work)
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        days = ["2024-01-10", "2024-01-11", "2024-01-12"]
        got = sorted(
            map(
                tuple,
                pipelines.run_incremental(
                    spark, SF_SMOKE, work, days
                ).collect(),
            )
        )
    finally:
        spark.conf.set(key, prev)
        shutil.rmtree(work, ignore_errors=True)
    full = flagship(spark, SF_SMOKE).filter(
        F.col("date").cast("string").isin(days)
    )
    want = sorted(map(tuple, full.collect()))
    assert got == want
    assert {t[0].isoformat() for t in got} == set(days)


def test_out_of_order_day_replay(spark):
    """Replaying days in arbitrary order — including re-running a
    middle day after later days landed — must converge to the same
    warehouse as the in-order run (per-day dynamic partition overwrite
    means day N's rerun can never clobber day M)."""
    work = WORK + "_ooo"
    if os.path.exists(work):
        shutil.rmtree(work)
    days = ["2024-01-10", "2024-01-11", "2024-01-12", "2024-01-13"]
    shuffled = ["2024-01-12", "2024-01-10", "2024-01-13", "2024-01-11"]
    try:
        pipelines.run_incremental(spark, SF_SMOKE, work, shuffled)
        # late replay of a middle day after its successors are in
        pipelines.extract_day(spark, SF_SMOKE, work, "2024-01-11")
        pipelines.transform_day(spark, work, "2024-01-11")
        got = sorted(
            map(tuple, pipelines.load_warehouse(spark, work).collect())
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    want = sorted(
        map(
            tuple,
            flagship(spark, SF_SMOKE)
            .filter(F.col("date").cast("string").isin(days))
            .collect(),
        )
    )
    assert got == want


def test_streaming_transform_equals_batch(spark, warehouse):
    ckpt = os.path.join(WORK, "ckpt")
    if os.path.exists(ckpt):
        shutil.rmtree(ckpt)
    stream = pipelines.transform_stream(spark, WORK, ckpt)
    got = sorted(map(tuple, stream.collect()))
    assert got == warehouse
