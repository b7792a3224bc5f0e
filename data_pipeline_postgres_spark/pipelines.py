"""End-to-end pipeline parity: the reference's two DAGs as driver
functions over one lake layout (SURVEY.md §3, §7 phase 6).

Reference shape (mnt/dags/01fetch_from_database.py:38-67 and
mnt/dags/02datalake_to_datawarehouse.py:59-148): a daily extract of the
``[ds, next_ds)`` slice to a date-keyed lake path, a transform task, a
warehouse load — state passed via CSV files, local disk and XCom, one
worker process per task.

Here each day-run is ONE lazy Spark plan per stage writing Hive
day-partitions with dynamic partition overwrite, which gives the
reference's ``replace=True`` idempotency per partition for free; the
day filter prunes to the single partition on re-reads (asserted in
tests). The streaming variant replaces the ExternalTaskSensor poll
loop: the file source discovers new day files and ``AvailableNow``
drains them in order. Both zones are read under their declared
``schemas`` types (``PRODUCT_DEMAND`` raw, ``MATERIAL_DEMAND``
transformed), never inferred: an inferring read runs a Spark job on
every day-run.

Metamorphic contracts (tests/test_pipelines.py):
- re-running a day changes nothing (idempotence);
- the union of all per-day outputs equals the full-table transform
  (the reference's DAG-split invariant, README.md:123-141);
- the streaming transform equals the batch transform.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans.flagship import material_demand, product_demand_view
from .schemas import MATERIAL_DEMAND, PRODUCT_DEMAND


def raw_path(work_dir: str) -> str:
    return os.path.join(work_dir, "raw", "product_demand")


def transformed_path(work_dir: str) -> str:
    return os.path.join(work_dir, "transformed", "material_demand")


def extract_day(
    spark: SparkSession, sf_dir: str, work_dir: str, ds: str
) -> None:
    """DAG-01 analog: extract the ``[ds, next_ds)`` slice of
    product_demand into the lake's day-partitioned raw zone.

    The date predicate sits in the logical plan, so against a JDBC
    source it ships into the source query (the reference embeds it in
    SQL by hand); the partitioned overwrite touches only this day's
    partition.
    """
    pd_view = product_demand_view(spark, sf_dir)
    day = pd_view.filter(
        (F.col("date") >= F.lit(ds).cast("date"))
        & (F.col("date") < F.date_add(F.lit(ds).cast("date"), 1))
    )
    (
        day.write.mode("overwrite")
        # writer-scoped so idempotency NEVER depends on the ambient
        # session conf: only this day's partition is replaced even
        # under a default (static-mode) session
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("date")
        .parquet(raw_path(work_dir))
    )


def transform_day(spark: SparkSession, work_dir: str, ds: str) -> None:
    """DAG-02 analog: read ONE raw day partition (pruned scan),
    run the material-demand transform, overwrite that day's
    transformed partition."""
    raw = (
        spark.read.schema(PRODUCT_DEMAND)
        .parquet(raw_path(work_dir))
        .filter(F.col("date") == F.lit(ds).cast("date"))
    )
    out = material_demand(raw)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("date")
        .parquet(transformed_path(work_dir))
    )


def load_warehouse(
    spark: SparkSession,
    work_dir: str,
    table: str = "dbo_table_material_demand",
) -> DataFrame:
    """Warehouse-load analog of the reference's COPY bulk load: an
    overwrite save of the transformed zone into a catalog table.
    With a JDBC URL this becomes ``df.write.jdbc(..., batchsize)``
    (sources/jdbc.py); file-backed here so tests stay hermetic."""
    df = (
        spark.read.schema(MATERIAL_DEMAND)
        .parquet(transformed_path(work_dir))
        .select(
            # canonical column order (partitioned read-back appends
            # the partition column; the warehouse contract puts date
            # first)
            "date",
            "shop_id",
            "raw_material",
            "demand_kg",
        )
    )
    df.createOrReplaceTempView(table)
    return df


def run_incremental(
    spark: SparkSession, sf_dir: str, work_dir: str, dates: Sequence[str]
) -> DataFrame:
    """Run the full extract→transform chain for each logical date in
    order (the scheduler's serialized daily runs), then load."""
    for ds in dates:
        extract_day(spark, sf_dir, work_dir, ds)
        transform_day(spark, work_dir, ds)
    return load_warehouse(spark, work_dir)


def transform_stream(
    spark: SparkSession, work_dir: str, checkpoint: str
) -> DataFrame:
    """Streaming variant of the transform: file-source stream over the
    raw zone (new day files are discovered automatically — the
    ExternalTaskSensor availability gate without polling), daily
    grouped aggregation, AvailableNow drain to a memory sink.

    Emits the same (date, shop_id, raw_material, demand_kg) rows as
    the batch transform over the whole raw zone.
    """
    stream = (
        spark.readStream.schema(PRODUCT_DEMAND)
        .option("basePath", raw_path(work_dir))
        .parquet(os.path.join(raw_path(work_dir), "*"))
    )
    out = material_demand(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("pipeline_transform_stream")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("pipeline_transform_stream")
