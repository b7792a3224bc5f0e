"""SparkSession factory with scale-aware defaults.

The reference pipeline runs single-threaded pandas under Airflow's
LocalExecutor (reference: docker-compose.yml:8,
mnt/dags/02datalake_to_datawarehouse.py:62-74). Here the execution model
is Spark: lazy fused plans, whole-stage codegen, shuffle-partitioned
parallelism, AQE runtime re-planning.

Defaults are chosen for the local[32] test harness but written so the
same builder works on a 1000-executor cluster: AQE owns runtime
partition coalescing and skew-join splitting, so a static
``spark.sql.shuffle.partitions`` only sets the *initial* parallelism;
dynamic partition overwrite gives idempotent per-partition re-runs
(the reference's ``replace=True`` semantics, SURVEY.md §2.9).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "data_pipeline_postgres_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    - AQE on: runtime coalescing, skew-join handling, dynamic join
      strategy switch — the knobs that make one plan survive 100× scale.
    - UTC session timezone: deterministic timestamp semantics vs the
      DuckDB oracle.
    - Arrow on: fast pandas interchange for the Pandas-UDF slow path.
    - Dynamic partition overwrite: idempotent incremental re-runs
      (the reference's ``replace=True`` on every S3 write).
    - Python workers get this package's parent directory on their
      ``PYTHONPATH`` (before any inherited one), so UDF and Arrow
      kernels that reference package functions import from any
      working directory; ``extra_conf`` may set
      ``spark.executorEnv.PYTHONPATH`` itself.
    - Codegen class cache of 1000 entries (Spark's default is 100): one
      perfbench ``relational_sf01`` pass compiles 123 distinct classes
      and one ``daily_etl`` pass 158, so at 100 almost every class was
      evicted and recompiled with Janino on every pass.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    pkg_parent = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    worker_path = os.pathsep.join(
        p for p in (pkg_parent, os.environ.get("PYTHONPATH")) if p
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.executorEnv.PYTHONPATH", worker_path)
        # Working sets are 123 and 158 classes per pass (281 for both
        # workloads in one session); 100 recompiles almost all of them.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled with Janino in this
    JVM so far (``CodegenMetrics``); a codegen cache hit adds nothing.
    In local mode executors share the driver JVM, so this counts all."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
