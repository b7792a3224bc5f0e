"""I/O and table-management queries: JDBC scans, file formats
(CSV, JSON, ORC, Parquet, text, binary), DDL, MERGE/CDC/SCD2 writes,
lake layout planning (z-order, compaction, vacuum, file skipping) and
data-quality audits (profiles, constraints, referential sweeps).

Bindings onto the testdata star schema follow FIXTURES.md F5. Scratch
I/O (CSV/lake/DDL round-trips) stays under the scratch root
(``scratch.scratch_dir``).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..operators import multimodal, profile, transform
from ..operators import merge as merge_ops
from ..operators.aggregate import exact_sum
from ..scratch import SCRATCH_ROOT, scratch_dir
from ..sources import filesource, jdbc, lake
from .flagship import flagship
from .queries_relational import FLAGSHIP_ORACLE
from .registry import query


# --------------------------------------------------------------------------
# §2.6 merge / upsert / delete
# --------------------------------------------------------------------------

_ORDER_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


_DATA_COLS = tuple(c for c in _ORDER_COLS if c != "o_orderkey")


def _cdc_batch(orders: DataFrame) -> DataFrame:
    """Deterministic CDC batch synthesized from orders (FIXTURES.md F5):
    gen1 = every 3rd key, op from o_orderstatus (O→I, F→U, else D);
    gen2 = every 6th key, a later 'U' touching o_totalprice — exercises
    latest-change-wins."""
    gen1 = (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn(
            "operation",
            F.when(F.col("o_orderstatus") == "O", "I")
            .when(F.col("o_orderstatus") == "F", "U")
            .otherwise("D"),
        )
        .withColumn("last_updated", F.col("o_orderdate"))
    )
    gen2 = (
        orders.filter(F.col("o_orderkey") % 6 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
        .withColumn("operation", F.lit("U"))
        .withColumn("last_updated", F.col("o_orderdate") + F.expr("INTERVAL 1 DAY"))
    )
    return gen1.unionByName(gen2)


def _merge_pick_sql(cols: tuple[str, ...], use_batch_cond: str) -> str:
    picks = [
        f"CASE WHEN {use_batch_cond} THEN b.{c} ELSE t.{c} END AS {c}" for c in cols
    ]
    return ",\n           ".join(picks)


_CDC_MERGE_ORACLE = f"""
WITH target AS (SELECT * FROM orders WHERE o_orderkey % 10 < 8),
g1 AS (
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority,
           CASE o_orderstatus WHEN 'O' THEN 'I' WHEN 'F' THEN 'U' ELSE 'D' END AS operation,
           o_orderdate AS last_updated
    FROM orders WHERE o_orderkey % 3 = 0
),
g2 AS (
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1.0 AS o_totalprice,
           o_orderdate, o_orderpriority,
           'U' AS operation, o_orderdate + INTERVAL 1 DAY AS last_updated
    FROM orders WHERE o_orderkey % 6 = 0
),
batch AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2),
latest AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY last_updated DESC) AS rn
        FROM batch
    ) WHERE rn = 1
)
SELECT COALESCE(t.o_orderkey, b.o_orderkey) AS o_orderkey,
       {_merge_pick_sql(_DATA_COLS, "(t.o_orderkey IS NULL AND b.operation = 'I') OR (t.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL AND b.operation = 'U')")}
FROM target t FULL OUTER JOIN latest b ON t.o_orderkey = b.o_orderkey
WHERE b.o_orderkey IS NULL
   OR (t.o_orderkey IS NULL AND b.operation = 'I')
   OR (t.o_orderkey IS NOT NULL AND b.operation <> 'D')
"""


@query("cdc_merge", _CDC_MERGE_ORACLE)
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-based CDC MERGE with I/U/D ops and latest-change-wins
    (reference: mnt/dags/unused_02retail_stage.py:101-144). The batch
    side is small vs the target → Spark broadcasts it; the target is
    never shuffled."""
    orders = load_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 10 < 8)
    return merge_ops.cdc_merge(target, _cdc_batch(orders), "o_orderkey", "last_updated")


_UPSERT_ORACLE = f"""
WITH target AS (SELECT * FROM orders WHERE o_orderkey % 10 < 8),
batch AS (
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 10.0 AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 4 = 0
)
SELECT COALESCE(b.o_orderkey, t.o_orderkey) AS o_orderkey,
       {_merge_pick_sql(_DATA_COLS, "b.o_orderkey IS NOT NULL")}
FROM target t FULL OUTER JOIN batch b ON t.o_orderkey = b.o_orderkey
"""


@query("upsert_on_conflict", _UPSERT_ORACLE)
def q_upsert_on_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT … ON CONFLICT DO UPDATE intent (reference:
    mnt/dags/unused_pipeline_sourcecode.py:218-245 — the reference SQL
    is syntactically broken; we implement the intent)."""
    orders = load_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 10 < 8)
    batch = orders.filter(F.col("o_orderkey") % 4 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(10.0)
    )
    return merge_ops.upsert(target, batch, "o_orderkey")


@query("delete_all", "SELECT * FROM orders WHERE 1 = 0")
def q_delete_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE FROM t → empty relation, schema preserved (reference:
    mnt/dags/unused_pipeline_sourcecode.py:247-253)."""
    return merge_ops.delete_all(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# §2.1 I/O edges (file-backed; JDBC wrappers take over with a real URL)
# --------------------------------------------------------------------------


@query("jdbc_scan_full", "SELECT * FROM orders")
def q_jdbc_scan_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table extract (reference: SELECT * shipped to Postgres,
    mnt/dags/01fetch_from_database.py:49-59). File-backed Source here;
    ``sources.jdbc.jdbc_scan`` is the partitioned JDBC binding."""
    return jdbc.file_backed_source(sf_dir)(spark, "orders")


@query(
    "jdbc_scan_pushdown",
    """
SELECT * FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'
""",
)
def q_jdbc_scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental extract with pushed date predicate (reference:
    mnt/dags/01fetch_from_database.py:52). Catalyst pushes the filter
    into the scan (JDBC: into the remote SQL; parquet: PushedFilters)."""
    scan = jdbc.file_backed_source(sf_dir)(spark, "lineitem")
    return transform.filter_date_range(scan, "l_shipdate", "1996-01-01", "1996-02-01")


@query(
    "jdbc_scan_param",
    """
SELECT * FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
""",
)
def q_jdbc_scan_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized extract — driver-bound params instead of templated
    SQL strings (reference: mnt/dags/unused_postgres_hooks_V02.py:25-34)."""
    ds, next_ds = "1996-01-01", "1997-01-01"  # driver-supplied run window
    scan = jdbc.file_backed_source(sf_dir)(spark, "orders")
    return transform.filter_date_range(scan, "o_orderdate", ds, next_ds)


_NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType(), True),
        T.StructField("n_name", T.StringType(), True),
        T.StructField("n_regionkey", T.IntegerType(), True),
    ]
)


@query("csv_write", "SELECT * FROM nation")
def q_csv_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-CSV egress + re-ingest round-trip (reference:
    mnt/dags/02datalake_to_datawarehouse.py:84-85)."""
    path = scratch_dir("csv_write_nation")
    filesource.csv_write(load_table(spark, sf_dir, "nation"), path)
    return filesource.csv_read(spark, path, _NATION_SCHEMA)


@query("csv_read", "SELECT * FROM nation")
def q_csv_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-schema CSV ingest (reference infers with pd.read_csv —
    mnt/dags/02datalake_to_datawarehouse.py:62; inference is its
    VARCHAR-numerics bug class, so the engine reads with a declared
    StructType)."""
    path = scratch_dir("csv_read_nation")
    filesource.csv_write(load_table(spark, sf_dir, "nation"), path)
    return filesource.csv_read(spark, path, _NATION_SCHEMA)


@query("s3_put", "SELECT * FROM supplier")
def q_s3_put(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent lake PUT (reference ``replace=True``:
    mnt/dags/02datalake_to_datawarehouse.py:90-95): overwrite-write
    twice, read back — same result (no download/rename/re-upload hop;
    executors address the lake path directly)."""
    path = scratch_dir("s3_put_supplier")
    sup = load_table(spark, sf_dir, "supplier")
    filesource.parquet_write(sup, path)
    filesource.parquet_write(sup, path)  # idempotent re-run
    return filesource.parquet_read(spark, path)


@query("bulk_load_copy", "SELECT * FROM customer")
def q_bulk_load_copy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk warehouse load (reference COPY FROM STDIN:
    mnt/dags/02datalake_to_datawarehouse.py:136-148). Engine-native
    sink is a parallel partitioned write; against Postgres use
    ``sources.jdbc.jdbc_write`` (batched) or ``copy_sink`` — a real
    per-partition ``COPY … FROM STDIN (FORMAT CSV)`` via psycopg2
    copy_expert (CSV-encode core unit-tested in tests/test_jdbc.py;
    needs psycopg2 + a live Postgres on executors to run end-to-end,
    neither exists in this container)."""
    path = scratch_dir("warehouse_customer")
    filesource.parquet_write(load_table(spark, sf_dir, "customer"), path)
    return filesource.parquet_read(spark, path)


# --------------------------------------------------------------------------
# §2.1 DDL surface
# --------------------------------------------------------------------------


@query("ddl_create_schema", "SELECT * FROM region")
def q_ddl_create_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE SCHEMA IF NOT EXISTS dbo (reference:
    postgresql/db-setup/setup.sql:1)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS dbo LOCATION '{scratch_dir('dbo_db')}'")
    return load_table(spark, sf_dir, "region")


@query("ddl_create_table", FLAGSHIP_ORACLE)
def q_ddl_create_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent CREATE TABLE IF NOT EXISTS + load + read-back
    (reference: mnt/dags/02datalake_to_datawarehouse.py:228-240)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS dbo LOCATION '{scratch_dir('dbo_db')}'")
    loc = scratch_dir("dbo_material_demand")
    spark.sql("DROP TABLE IF EXISTS dbo.table_material_demand")
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS dbo.table_material_demand
        (date DATE, shop_id STRING, raw_material STRING, demand_kg DOUBLE)
        USING PARQUET LOCATION '{loc}'
        """
    )
    flagship(spark, sf_dir).createOrReplaceTempView("__flagship_out")
    spark.sql("INSERT OVERWRITE TABLE dbo.table_material_demand SELECT * FROM __flagship_out")
    return spark.table("dbo.table_material_demand")


@query("ddl_drop_create", "SELECT * FROM part")
def q_ddl_drop_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Destructive reload: DROP TABLE IF EXISTS + CREATE ... AS SELECT
    (reference: mnt/dags/unused_01retail_origin.py:73-94;
    postgresql/db-setup/setup.sql:3-10)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS dbo LOCATION '{scratch_dir('dbo_db')}'")
    spark.sql("DROP TABLE IF EXISTS dbo.part_reload")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("__part_src")
    # CTAS refuses non-empty locations; a previous session's files
    # survive DROP TABLE on a fresh in-memory catalog.
    loc = scratch_dir("dbo_part_reload")
    shutil.rmtree(loc, ignore_errors=True)
    spark.sql(
        f"""
        CREATE TABLE dbo.part_reload USING PARQUET
        LOCATION '{loc}'
        AS SELECT * FROM __part_src
        """
    )
    return spark.table("dbo.part_reload")


@query(
    "ddl_monthly_shard",
    f"""
WITH md AS ({FLAGSHIP_ORACLE})
SELECT date, shop_id, raw_material, demand_kg,
       CAST(year(date) AS INTEGER) AS year,
       CAST(month(date) AS INTEGER) AS month
FROM md
""",
)
def q_ddl_monthly_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-sharded storage (reference mangles table *names*
    ``table_material_demand_{YYYY_MM}`` — README.md:774-787; comment
    mnt/dags/02datalake_to_datawarehouse.py:118-132). Here: ONE
    partitioned dataset; month filters prune directories, no name
    mangling.

    The scratch target is wiped first: this query is a one-shot full
    rebuild, and dynamic partition overwrite (the engine default,
    right for the incremental pipeline) would otherwise leave behind
    partitions a previous run wrote for months the current result no
    longer contains."""
    path = scratch_dir("material_demand_partitioned")
    shutil.rmtree(path, ignore_errors=True)
    lake.write_partitioned(flagship(spark, sf_dir), path, date_col="date")
    df = lake.read_partitioned(spark, path)
    return df.select(
        "date",
        "shop_id",
        "raw_material",
        "demand_kg",
        F.col("year").cast("int").alias("year"),
        F.col("month").cast("int").alias("month"),
    )


@query(
    "jdbc_scan_partitioned",
    """
WITH b AS (
    SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) + 1 AS up FROM orders
),
s AS (SELECT lo, (up // 8) - (lo // 8) AS stride FROM b)
SELECT LEAST(GREATEST((o_orderkey - lo) // stride, 0), 7) AS slice_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders, s
GROUP BY 1
""",
)
def q_jdbc_scan_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-extract balance report: how the 8 key-range slices
    Spark's JDBC source would issue (partitionColumn=o_orderkey,
    bounds = [min, max+1)) distribute rows — (slice_id, n_rows,
    min_key, max_key). THE pre-flight check before pointing
    ``sources.jdbc.jdbc_scan`` at a production table: a skewed slice
    means one executor drags the whole extract, and the fix (a
    different partitionColumn or explicit predicates) is decided from
    exactly this report.

    Faithful to JDBCRelation.columnPartition semantics: stride =
    up/num − lo/num in INTEGER division, first slice unbounded below,
    last unbounded above (the LEAST/GREATEST clamp ≡ the generated
    `key < lo+stride` / `key >= lo+(n−1)·stride` WHERE clauses, since
    every key lies in [lo, up)). The bounds ride in as a broadcast
    1-row aggregate — no driver round-trip; the report itself is one
    map-side-combined count shuffle to 8 rows. The same
    tests/test_round8.py gate proves the 8 generated predicates
    partition the table (disjoint + covering)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    b = o.agg(
        F.min("o_orderkey").alias("lo"),
        (F.max("o_orderkey") + 1).alias("up"),
    )
    s = b.select(
        "lo",
        (
            F.expr("up div 8") - F.expr("lo div 8")
        ).alias("stride"),
    )
    return (
        o.crossJoin(F.broadcast(s))
        .select(
            F.least(
                F.greatest(
                    F.expr("(o_orderkey - lo) div stride"), F.lit(0)
                ),
                F.lit(7),
            ).alias("slice_id"),
            "o_orderkey",
        )
        .groupBy("slice_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


@query(
    "scd2_intervals",
    """
SELECT o_custkey, o_orderkey, o_totalprice,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) AS valid_to,
       (lead(o_orderdate) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) IS NULL) AS is_current
FROM orders
""",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 historization: each change
    record's validity interval is [its ts, next change's ts) per key,
    open-ended (is_current) on the latest. One key-shuffled lead
    window — the standard MERGE-free way to build history tables at
    scale (reference's MERGE family only keeps latest state,
    mnt/dags/unused_02retail_stage.py:101-144)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# -- partitioned lake layout ----------------------------------------------


@query(
    "partitioned_write_prune",
    """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
WHERE CAST(date_trunc('day', ts) AS DATE) = DATE '2024-01-15'
GROUP BY event_type
""",
)
def q_partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned lake round-trip: write events partitioned by
    day (dynamic partition overwrite — the reference's replace=True
    idempotency, SURVEY.md §2.9), read back filtered to ONE day.

    The read plan must show PartitionFilters (asserted in
    tests/test_analytics.py): the scan touches 1/30th of the files —
    the same pruning that makes a [ds, next_ds) incremental run at
    100 TB read only its slice.
    """
    ev = load_table(spark, sf_dir, "events")
    path = scratch_dir(
        "events_by_day_" + os.path.basename(sf_dir.rstrip("/"))
    )
    (
        ev.withColumn("day", F.to_date("ts"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(
        F.col("day") == F.lit("2024-01-15").cast("date")
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        exact_sum("value", "sum_value"),
    )


@query(
    "json_source_roundtrip",
    """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
""",
)
def q_json_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source/sink round-trip: events → .json write →
    schema-explicit read (no inference scan at 100 TB) → aggregate.
    Timestamps travel as ISO strings; values survive exactly."""

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = scratch_dir(
        "events_json_" + os.path.basename(sf_dir.rstrip("/")),
    )
    ev.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        exact_sum("value", "sum_value"),
    )


@query(
    "orc_roundtrip",
    """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
""",
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip (the second columnar lake format
    Spark ships natively): events → .orc write → read → aggregate.
    ORC readers get the same pushdown/pruning treatment as parquet;
    the oracle runs on the original rows, so the round-trip must be
    value-exact."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = scratch_dir(
        "events_orc_" + os.path.basename(sf_dir.rstrip("/")),
    )
    ev.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        exact_sum("value", "sum_value"),
    )


@query(
    "profile_heavy_hitters",
    """
WITH tot AS (SELECT COUNT(*) AS n FROM events)
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(COUNT(*) AS DOUBLE) / MAX(n) AS share
FROM events, tot
GROUP BY user_id
ORDER BY n_events DESC, user_id
LIMIT 20
""",
)
def q_profile_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostic: the 20 heaviest keys and their share of the
    table — what you run BEFORE choosing a salting factor for a skewed
    join. One map-side-combined groupBy + TakeOrderedAndProject; the
    total is a broadcast scalar, so no second full scan shuffles."""
    ev = load_table(spark, sf_dir, "events")
    tot = ev.agg(F.count("*").alias("n"))
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n_events",
            (F.col("n_events").cast("double") / F.col("n")).alias("share"),
        )
        .orderBy(F.desc("n_events"), "user_id")
        .limit(20)
    )


@query(
    "parquet_schema_merge",
    """
WITH v1 AS (
    SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 0
),
v2 AS (
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1
)
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
""",
)
def q_parquet_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake schema evolution: an old writer produced 2-column files, a
    new writer adds a column; ``mergeSchema`` reconciles the footers
    and back-fills nulls. At 100 TB pin the superset schema explicitly
    instead (footer merging is a distributed job over every file) —
    this query demonstrates the read semantics the pinned schema must
    reproduce."""
    o = load_table(spark, sf_dir, "orders")
    root = scratch_dir(
        "schema_merge_" + os.path.basename(sf_dir.rstrip("/"))
    )
    (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(os.path.join(root, "v=1"))
    )
    (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(os.path.join(root, "v=2"))
    )
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "v=1"), os.path.join(root, "v=2")
    )
    return back.select("o_orderkey", "o_totalprice", "o_orderpriority")


def _morton16(x, y):
    """Interleave the low 16 bits of two integer columns into a 32-bit
    Morton (Z-order) key — pure integer Column arithmetic, identical
    in DuckDB."""
    z = F.lit(0).cast("bigint")
    for i in range(16):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return z


def _morton16_sql(x: str, y: str) -> str:
    terms = []
    for i in range(16):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@query(
    "layout_zorder",
    f"""
WITH k AS (
    SELECT o_orderkey,
           CAST(o_custkey AS BIGINT) & 65535 AS xk,
           CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
           & 65535 AS yk
    FROM orders
)
SELECT o_orderkey, {_morton16_sql('xk', 'yk')} AS zkey,
       ({_morton16_sql('xk', 'yk')}) >> 27 AS file_bucket
FROM k
""",
)
def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order day):
    interleaving the two dimensions' bits gives a 1-D sort key whose
    ranges are 2-D-local, so range-partitioned files prune on BOTH
    predicates (the Delta/Iceberg OPTIMIZE ZORDER idiom, computed
    with plain integer Column arithmetic). ``file_bucket`` = top 5
    Morton bits ≈ the 32 files a repartitionByRange write would cut;
    map-only, no shuffle — the sort happens in the writer."""
    o = load_table(spark, sf_dir, "orders")
    xk = F.col("o_custkey").cast("bigint").bitwiseAND(F.lit(65535))
    yk = (
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("bigint")
        .bitwiseAND(F.lit(65535))
    )
    k = o.select("o_orderkey", xk.alias("xk"), yk.alias("yk"))
    z = _morton16(F.col("xk"), F.col("yk"))
    return k.select(
        "o_orderkey",
        z.alias("zkey"),
        F.shiftright(z, 27).alias("file_bucket"),
    )


def _corr_sql(a: str, b: str) -> str:
    """Snap-6 Pearson from the named moment columns (oracle side)."""
    return (
        f"floor((n * CAST(s{a}{b} AS DOUBLE)"
        f" - CAST(s{a} AS DOUBLE) * CAST(s{b} AS DOUBLE))"
        f" / (sqrt(n * CAST(s{a}{a} AS DOUBLE)"
        f" - CAST(s{a} AS DOUBLE) * CAST(s{a} AS DOUBLE))"
        f" * sqrt(n * CAST(s{b}{b} AS DOUBLE)"
        f" - CAST(s{b} AS DOUBLE) * CAST(s{b} AS DOUBLE)))"
        f" * 1000000 + 0.5) / 1000000 AS corr_{a}{b}"
    )


_CORR_MATRIX_ORACLE = f"""
WITH g AS (
    SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS q,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS p,
           CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS d,
           CAST(CAST(l_tax AS DECIMAL(12,2)) * 100 AS BIGINT) AS t
    FROM lineitem
),
a AS (
    SELECT COUNT(*) AS n,
           SUM(CAST(q AS DECIMAL(19,0))) AS sq,
           SUM(CAST(p AS DECIMAL(19,0))) AS sp,
           SUM(CAST(d AS DECIMAL(19,0))) AS sd,
           SUM(CAST(t AS DECIMAL(19,0))) AS st,
           SUM(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0))) AS sqq,
           SUM(CAST(p AS DECIMAL(19,0)) * CAST(p AS DECIMAL(19,0))) AS spp,
           SUM(CAST(d AS DECIMAL(19,0)) * CAST(d AS DECIMAL(19,0))) AS sdd,
           SUM(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0))) AS stt,
           SUM(CAST(q AS DECIMAL(19,0)) * CAST(p AS DECIMAL(19,0))) AS sqp,
           SUM(CAST(q AS DECIMAL(19,0)) * CAST(d AS DECIMAL(19,0))) AS sqd,
           SUM(CAST(q AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0))) AS sqt,
           SUM(CAST(p AS DECIMAL(19,0)) * CAST(d AS DECIMAL(19,0))) AS spd,
           SUM(CAST(p AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0))) AS spt,
           SUM(CAST(d AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0))) AS sdt
    FROM g
)
SELECT n,
       {_corr_sql('q', 'p')}, {_corr_sql('q', 'd')}, {_corr_sql('q', 't')},
       {_corr_sql('p', 'd')}, {_corr_sql('p', 't')}, {_corr_sql('d', 't')}
FROM a
"""


@query("profile_corr_matrix", _CORR_MATRIX_ORACLE)
def q_profile_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pairwise Pearson matrix over lineitem's four numeric
    measures (quantity, price, discount, tax) in ONE scan: all 15
    power sums ride a single map-side-combined global aggregate as
    exact integer-cent DECIMALs (agg_corr_exact's determinism
    discipline, widened to a matrix), then the 6 correlations
    combine in double once and snap to 6 digits. The one-pass
    many-statistics shape a profiler wants at 100 TB — the scan cost
    is paid once however many cells the matrix has."""
    li = load_table(spark, sf_dir, "lineitem")

    def cents(col: str) -> F.Column:
        return (F.col(col).cast("decimal(12,2)") * 100).cast("bigint")

    cols = {
        "q": "l_quantity",
        "p": "l_extendedprice",
        "d": "l_discount",
        "t": "l_tax",
    }
    g = li.select(
        *[cents(src).cast("decimal(19,0)").alias(k) for k, src in cols.items()]
    )
    pairs = [("q", "p"), ("q", "d"), ("q", "t"), ("p", "d"), ("p", "t"), ("d", "t")]
    aggs = [F.count("*").alias("n")]
    aggs += [F.sum(k).alias(f"s{k}") for k in cols]
    aggs += [F.sum(F.col(k) * F.col(k)).alias(f"s{k}{k}") for k in cols]
    aggs += [F.sum(F.col(a) * F.col(b)).alias(f"s{a}{b}") for a, b in pairs]
    m = g.agg(*aggs)

    def corr(a: str, b: str) -> F.Column:
        n = F.col("n")
        sa, sb = F.col(f"s{a}").cast("double"), F.col(f"s{b}").cast("double")
        saa = F.col(f"s{a}{a}").cast("double")
        sbb = F.col(f"s{b}{b}").cast("double")
        sab = F.col(f"s{a}{b}").cast("double")
        raw = (n * sab - sa * sb) / (
            F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb)
        )
        return (F.floor(raw * 1000000 + F.lit(0.5)) / 1000000).alias(
            f"corr_{a}{b}"
        )

    return m.select("n", *[corr(a, b) for a, b in pairs])


_RI_EDGES = (
    # (child table, child key, parent table, parent key)
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def _ri_oracle() -> str:
    parts = []
    for child, ck, parent, pk in _RI_EDGES:
        parts.append(
            f"""SELECT '{child}.{ck}->{parent}.{pk}' AS relation,
       (SELECT COUNT(*) FROM {child}) AS n_rows,
       (SELECT COUNT(*) FROM {child} c
        WHERE NOT EXISTS (
            SELECT 1 FROM {parent} p WHERE p.{pk} = c.{ck}
        )) AS n_orphans,
       (SELECT COUNT(*) FROM {child} c
        WHERE NOT EXISTS (
            SELECT 1 FROM {parent} p WHERE p.{pk} = c.{ck}
        )) = 0 AS ok"""
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY relation"


@query("referential_integrity_sweep", _ri_oracle())
def q_referential_integrity_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Whole-warehouse foreign-key conformance in one report: every
    FK edge of the star schema checked for orphaned child keys →
    (relation, n_rows, n_orphans, ok). The cross-table companion of
    table_quality_checks' single-table suite — the first thing a
    migration/backfill validation runs.

    Scale shape: each edge is a projected child keyset anti-joined
    against its (broadcast where dim-sized) parent keyset — child
    scans read ONE column; the per-edge counts are 1-row aggregates
    unioned into the report, so the whole sweep is a handful of
    column-pruned scans, never a wide join.

    (r15: a one-pass-per-child rewrite — all FK columns on one scan,
    broadcast LEFT joins + a single multi-orphan aggregate — was
    interleaved-A/B-measured at 2.2→2.8 s and REVERTED: the per-edge
    form's six single-column pushed scans are cheap, while the fused
    pass pays wider reads, per-row join probes for every edge at
    once, and checkpoint job boundaries. At scale the per-edge form
    also keeps each parent join independently plannable — a
    non-broadcastable parent degrades only its own edge's pass.)"""
    out = None
    for child, ck, parent, pk in _RI_EDGES:
        c = load_table(spark, sf_dir, child).select(F.col(ck).alias("k"))
        p = load_table(spark, sf_dir, parent).select(F.col(pk).alias("k")).distinct()
        orphans = c.join(F.broadcast(p), "k", "left_anti").agg(
            F.count("*").alias("n_orphans")
        )
        total = c.agg(F.count("*").alias("n_rows")).withColumn(
            "_j", F.lit(1)
        )
        row = (
            total.join(orphans.withColumn("_j", F.lit(1)), "_j")
            .select(
                F.lit(f"{child}.{ck}->{parent}.{pk}").alias("relation"),
                "n_rows",
                "n_orphans",
                (F.col("n_orphans") == 0).alias("ok"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("relation")


# -- data profiling --------------------------------------------------------


def _profile_oracle() -> str:
    """Mirror of operators/profile.py over ``orders``: one aggregate
    CTE, one branch per column re-shaped by UNION ALL."""
    cols = {
        "o_orderkey": "int",
        "o_custkey": "int",
        "o_orderstatus": "str",
        "o_totalprice": "num",
        "o_orderdate": "ts",
        "o_orderpriority": "str",
    }

    def canon(expr: str, kind: str) -> str:
        if kind == "num":
            return f"CAST(CAST({expr} AS DECIMAL(18,2)) AS VARCHAR)"
        if kind == "ts":
            return f"strftime({expr}, '%Y-%m-%d %H:%M:%S')"
        return f"CAST({expr} AS VARCHAR)"

    aggs = ["COUNT(*) AS n"]
    branches = []
    for i, (c, kind) in enumerate(cols.items()):
        aggs += [
            f"COUNT({c}) AS c{i}",
            f"COUNT(DISTINCT {c}) AS d{i}",
            canon(f"MIN({c})", kind) + f" AS mn{i}",
            canon(f"MAX({c})", kind) + f" AS mx{i}",
        ]
        branches.append(
            f"SELECT '{c}' AS \"column\", n AS n_rows, n - c{i} AS n_nulls,"
            f" d{i} AS n_distinct, mn{i} AS min_str, mx{i} AS max_str FROM a"
        )
    return (
        "WITH a AS (SELECT "
        + ", ".join(aggs)
        + " FROM orders)\n"
        + "\nUNION ALL ".join(branches)
    )


@query("profile_table", _profile_oracle())
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan per-column profile of ``orders`` (nulls, exact
    distincts via a shared Expand, canonicalized min/max)."""
    return profile.profile_table(load_table(spark, sf_dir, "orders"))


@query("profile_table_approx")  # HLL distincts → rows-only check;
def q_profile_table_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-mode profile: approx_count_distinct (no Expand, so no
    n_cols× row amplification on the scan) — accuracy vs the exact
    profile asserted in tests/test_ext.py."""
    return profile.profile_table(
        load_table(spark, sf_dir, "orders"), exact=False
    )


@query(
    "binary_file_ingest",
    """
SELECT 'doc_' || doc_id || '.bin' AS file_name,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS content_sha
FROM documents
""",
)
def q_binary_file_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-file ingestion via Spark's ``binaryFile`` source — the
    entry point a real multimodal corpus (images/audio on a blob
    store) arrives through: one row per file with (path, length,
    content binary), ready for the operators/multimodal.py decode
    plumbing. (file_name, n_bytes, content_sha).

    The fixture materializes each document's payload as a ``.bin``
    file EXECUTOR-side (foreachPartition — every task writes its own
    partition's files, the write scales out; no driver loop), then
    the query proper is the binaryFile scan. The oracle closes the
    loop against the source table: name, byte length, and sha256 must
    survive the filesystem round-trip. At 100 TB the same scan
    partitions by file with ``maxPartitionBytes``, and column pruning
    keeps ``content`` out of metadata-only plans.
    """
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    out_dir = os.path.join(SCRATCH_ROOT, f"binfiles_{sf_tag}")
    os.makedirs(out_dir, exist_ok=True)

    # Skip the (idempotent) file materialization when a prior run
    # already wrote this corpus: the marker fingerprints the source
    # table with one cheap aggregate, so regenerated testdata (changed
    # text/count) re-triggers the write instead of serving stale files.
    fp_row = load_table(spark, sf_dir, "documents").agg(
        F.count("*"), F.sum("doc_id"), F.sum(F.length("text"))
    ).collect()[0]
    fingerprint = f"{fp_row[0]}:{fp_row[1]}:{fp_row[2]}"
    marker = os.path.join(out_dir, "_FINGERPRINT")
    stale = not (
        os.path.exists(marker) and open(marker).read() == fingerprint
    )
    if stale:
        payloads = multimodal.attach_payload(load_table(spark, sf_dir, "documents")).select(
            "doc_id", "payload"
        )

        def _write(rows) -> None:
            for r in rows:
                tmp = os.path.join(out_dir, f".doc_{r.doc_id}.tmp")
                with open(tmp, "wb") as f:
                    f.write(bytes(r.payload))
                os.replace(
                    tmp, os.path.join(out_dir, f"doc_{r.doc_id}.bin")
                )

        payloads.foreachPartition(_write)
        with open(marker, "w") as f:
            f.write(fingerprint)
    # Load the DIRECTORY with a glob filter, not a "*.bin" glob path:
    # a glob in the path expands to one root per file and Spark then
    # runs a distributed listing job with one task per root (5k tasks
    # to list 5k files); a single directory root lists driver-side.
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out_dir)
    )
    return bf.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.sha2("content", 256).alias("content_sha"),
    )


@query(
    "table_quality_checks",
    """
WITH stats AS (
    SELECT COUNT(*) AS n,
           COUNT(o_custkey) AS custkey_nonnull,
           COUNT(DISTINCT o_orderkey) AS orderkey_distinct,
           SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS price_pos,
           SUM(CASE WHEN o_orderdate BETWEEN DATE '1995-01-01'
                    AND DATE '2001-12-31' THEN 1 ELSE 0 END) AS date_in_range
    FROM orders
),
orphans AS (
    SELECT COUNT(*) AS n_orphan
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
)
SELECT check_name, metric, passed FROM (
    SELECT 'orderkey_unique' AS check_name,
           CAST(orderkey_distinct AS DOUBLE) / n AS metric,
           orderkey_distinct = n AS passed, 1 AS ord
    FROM stats
    UNION ALL
    SELECT 'custkey_complete', CAST(custkey_nonnull AS DOUBLE) / n,
           custkey_nonnull = n, 2 FROM stats
    UNION ALL
    SELECT 'price_positive', CAST(price_pos AS DOUBLE) / n,
           price_pos = n, 3 FROM stats
    UNION ALL
    SELECT 'orderdate_in_range', CAST(date_in_range AS DOUBLE) / n,
           date_in_range = n, 4 FROM stats
    UNION ALL
    SELECT 'custkey_referential', 1.0 - CAST(n_orphan AS DOUBLE) / n,
           n_orphan = 0, 5 FROM stats, orphans
) ORDER BY ord
""",
)
def q_table_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative data-quality suite over ``orders``:
    uniqueness, completeness, value-range, date-range, and referential
    integrity vs ``customer`` — (check_name, metric, passed), metric =
    fraction of rows satisfying the constraint.

    Scale shape: ALL single-table constraints ride ONE aggregate over
    one scan (count/conditional-sum/count-distinct share the pass);
    referential integrity is a left-anti-shaped count against the dim
    (broadcast when small). The 1×5 result is built by crossing the
    1-row stats relation with a tiny literal check table — no second
    fact scan per check, which is what makes a 50-constraint suite at
    100 TB cost the same as one aggregate.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    stats = o.agg(
        F.count("*").alias("n"),
        F.count("o_custkey").alias("custkey_nonnull"),
        F.countDistinct("o_orderkey").alias("orderkey_distinct"),
        F.sum(
            F.when(F.col("o_totalprice") > 0, 1).otherwise(0)
        ).alias("price_pos"),
        F.sum(
            F.when(
                F.col("o_orderdate").between("1995-01-01", "2001-12-31"), 1
            ).otherwise(0)
        ).alias("date_in_range"),
    )
    orphans = (
        o.join(
            F.broadcast(c),
            o.o_custkey == c.c_custkey,
            "left_anti",
        )
        .agg(F.count("*").alias("n_orphan"))
    )
    s = stats.crossJoin(orphans)
    n = F.col("n").cast("double")
    checks = [
        ("orderkey_unique", F.col("orderkey_distinct") / n,
         F.col("orderkey_distinct") == F.col("n")),
        ("custkey_complete", F.col("custkey_nonnull") / n,
         F.col("custkey_nonnull") == F.col("n")),
        ("price_positive", F.col("price_pos") / n,
         F.col("price_pos") == F.col("n")),
        ("orderdate_in_range", F.col("date_in_range") / n,
         F.col("date_in_range") == F.col("n")),
        ("custkey_referential", 1.0 - F.col("n_orphan") / n,
         F.col("n_orphan") == 0),
    ]
    rows = s.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("check_name"),
                        metric.cast("double").alias("metric"),
                        passed.alias("passed"),
                        F.lit(i + 1).alias("_ord"),
                    )
                    for i, (name, metric, passed) in enumerate(checks)
                ]
            )
        ).alias("r")
    ).select("r.*")
    return rows.orderBy("_ord").drop("_ord")


@query(
    "text_lines_roundtrip",
    r"""
SELECT doc_id, length(text) AS n_chars_line
FROM documents
WHERE text NOT LIKE '%' || chr(10) || '%'
  AND text NOT LIKE '%' || chr(13) || '%'
""",
)
def q_text_lines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text line-file sink + source round-trip — the last
    Spark-native format in the matrix (csv/json/parquet/orc/
    binaryFile are covered elsewhere): newline-free documents write
    as `<doc_id>\\t<text>` lines via the ``text`` format and read
    back with ``spark.read.text`` + one split, proving the
    line-oriented lake interchange path (the jsonl-adjacent format
    raw scrapes arrive in). Output (doc_id, n_chars_line) must be
    value-exact vs the source rows, which is the oracle. Line files
    shard per-partition exactly like any other format — no driver
    funnel."""
    # Exclude BOTH terminators the text source honors on read: '\n'
    # and a lone '\r' each split a line, so either would break the
    # round-trip row count.
    docs = load_table(spark, sf_dir, "documents").filter(
        ~F.col("text").contains("\n") & ~F.col("text").contains("\r")
    )
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = scratch_dir("text_lines", sf_tag, "docs.txt")
    docs.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text")).alias(
            "value"
        )
    ).write.mode("overwrite").format("text").save(path)
    raw = spark.read.text(path)
    parsed = raw.select(
        F.split_part(F.col("value"), F.lit("\t"), F.lit(1))
        .cast("bigint")
        .alias("doc_id"),
        # everything after the FIRST tab (text may itself contain tabs)
        F.expr("substring(value, instr(value, '\t') + 1)").alias("text"),
    )
    return parsed.select(
        "doc_id", F.length("text").cast("bigint").alias("n_chars_line")
    )


# -- Snapshot diff audit ---------------------------------------------------
# Two deterministic snapshots derived from orders:
#   old  = o_orderkey % 10 != 3
#   new  = o_orderkey % 10 != 7, totalprice doubled where % 10 = 1
# so added = keys %10=3, removed = %10=7, changed = %10=1.

_DIFF_ORACLE = """
WITH old AS (
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 3
),
new AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice * 2e0
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey % 10 <> 7
)
SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
       CASE WHEN old.o_orderkey IS NULL THEN 'added'
            WHEN new.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type,
       old.o_totalprice AS old_totalprice,
       new.o_totalprice AS new_totalprice
FROM old FULL OUTER JOIN new USING (o_orderkey)
WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
   OR old.o_totalprice IS DISTINCT FROM new.o_totalprice
"""


@query("table_diff_audit", _DIFF_ORACLE)
def q_table_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the migration/backfill validation primitive:
    given two versions of a keyed table, emit every key that was
    added, removed, or changed (with before/after values), silent on
    identical rows → (o_orderkey, change_type, old_totalprice,
    new_totalprice). The row-level companion of
    referential_integrity_sweep's count-level checks; in a CDC
    pipeline this is the audit that proves a merge applied cleanly.

    Scale shape: ONE full-outer sort-merge join co-partitioned on the
    key; values compared with null-safe column equality (never
    stringified row hashes — float formatting is not portable across
    engines). Both sides scan only the compared columns."""
    o = load_table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 10 != 3).select(
        "o_orderkey", F.col("o_totalprice").alias("old_totalprice")
    )
    new = o.filter(F.col("o_orderkey") % 10 != 7).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 10 == 1, F.col("o_totalprice") * 2.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("new_totalprice"),
    )
    j = old.join(new, "o_orderkey", "full_outer")
    return j.filter(
        F.col("old_totalprice").isNull()
        | F.col("new_totalprice").isNull()
        | ~F.col("old_totalprice").eqNullSafe(F.col("new_totalprice"))
    ).select(
        "o_orderkey",
        F.when(F.col("old_totalprice").isNull(), F.lit("added"))
        .when(F.col("new_totalprice").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change_type"),
        "old_totalprice",
        "new_totalprice",
    )


# -- Column-entropy profiling ----------------------------------------------
# Entropy terms are quantized to int64 micro-bits BEFORE the per-column
# sum (the repo's order-free float contract), so the aggregate is exact
# regardless of partial-agg order.

_COL_ENTROPY_ORACLE = """
WITH vals AS (
    SELECT 'o_orderstatus' AS col_name, o_orderstatus AS v FROM orders
    UNION ALL
    SELECT 'o_orderpriority', o_orderpriority FROM orders
),
c AS (SELECT col_name, v, COUNT(*) AS n FROM vals GROUP BY 1, 2),
tot AS (SELECT col_name, SUM(n) AS t FROM c GROUP BY 1),
q AS (
    SELECT c.col_name,
           CAST(floor(-(CAST(c.n AS DOUBLE) / CAST(t AS DOUBLE))
                      * log2(CAST(c.n AS DOUBLE) / CAST(t AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) AS lq
    FROM c JOIN tot USING (col_name)
)
SELECT q.col_name, CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(lq) AS DOUBLE) / 1000000.0 AS entropy_bits
FROM q GROUP BY 1
"""


@query("profile_column_entropy", _COL_ENTROPY_ORACLE)
def q_profile_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level Shannon entropy of the categorical order columns
    (status, priority): (col_name, n_distinct, entropy_bits) — the
    information-content profile behind encoding choices (dictionary
    vs plain), partition-key selection, and drift alerts (an entropy
    collapse means a value took over the column). Companion of
    profile_table's null/distinct sweep.

    Shape: one stack()-unpivot map, one (col, value) count shuffle
    collapsing to a tiny relation, per-term micro-bit quantization ->
    exact int64 sums in any order."""
    o = load_table(spark, sf_dir, "orders")
    vals = o.select(
        F.expr(
            "stack(2, 'o_orderstatus', o_orderstatus,"
            " 'o_orderpriority', o_orderpriority) AS (col_name, v)"
        )
    )
    c = vals.groupBy("col_name", "v").agg(F.count("*").alias("n"))
    tot = c.groupBy("col_name").agg(F.sum("n").alias("t"))
    p = F.col("n").cast("double") / F.col("t").cast("double")
    q = c.join(F.broadcast(tot), "col_name").select(
        "col_name",
        F.floor(-p * F.log2(p) * F.lit(1_000_000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("lq"),
    )
    return q.groupBy("col_name").agg(
        F.count("*").alias("n_distinct"),
        (F.sum("lq").cast("double") / F.lit(1_000_000.0)).alias(
            "entropy_bits"
        ),
    )


# -- Malformed-CSV robustness ----------------------------------------------

_CSV_MALFORMED_ORACLE = """
SELECT CAST(COUNT(*) FILTER (doc_id % 13 <> 0) AS BIGINT) AS n_good,
       CAST(COUNT(*) FILTER (doc_id % 13 = 0) AS BIGINT) AS n_corrupt,
       CAST(SUM(n_chars) FILTER (doc_id % 13 <> 0) AS BIGINT)
           AS sum_chars_good
FROM documents
"""


@query("csv_malformed_permissive", _CSV_MALFORMED_ORACLE)
def q_csv_malformed_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-CSV ingestion (the reference's CSV interchange surface,
    hardened): a fixture CSV carries a type-corrupted numeric field
    on every 13th doc; the PERMISSIVE reader salvages good rows and
    quarantines bad ones in ``_corrupt_record`` instead of failing
    the job (FAILFAST) or silently dropping rows (DROPMALFORMED) →
    one summary row (n_good, n_corrupt, sum_chars_good). The oracle
    recomputes the summary from the source table, closing the loop on
    exactly which rows must survive.

    The fixture writes executor-side through the text sink; the scan
    is a single pass with the corrupt column materialized only for
    the rows that fail parsing."""
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(SCRATCH_ROOT, f"csv_malformed_{sf_tag}")
    lines = load_table(spark, sf_dir, "documents").select(
        F.concat_ws(
            ",",
            F.col("doc_id"),
            F.col("lang"),
            F.when(
                F.col("doc_id") % 13 == 0, F.lit("NOT_A_NUMBER")
            ).otherwise(F.col("n_chars").cast("string")),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    df = (
        spark.read.schema(
            "doc_id BIGINT, lang STRING, n_chars BIGINT,"
            " _corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    good = F.col("_corrupt_record").isNull()
    return df.agg(
        F.sum(good.cast("bigint")).alias("n_good"),
        F.sum((~good).cast("bigint")).alias("n_corrupt"),
        F.sum(F.when(good, F.col("n_chars"))).alias("sum_chars_good"),
    )


# -- SCD2 apply: type-2 MERGE of a change batch -------------------------------
# scd2_intervals BUILDS history from a full log; cdc_merge keeps
# latest-state only (type 1). The missing warehouse op is applying a
# CHANGE BATCH to a STANDING type-2 dimension: close each changed
# key's current row at the change timestamp, insert the new version
# as current, pass everything else through — the Delta/Iceberg
# "MERGE ... WHEN MATCHED UPDATE SET valid_to / WHEN NOT MATCHED
# INSERT" idiom, expressed join-first.

_SCD2_CUTOFF = "2000-01-01"


_SCD2_APPLY_ORACLE = f"""
WITH pre AS (
    SELECT o_custkey, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(o_orderdate AS DATE) AS d
    FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '{_SCD2_CUTOFF}'
),
dim0 AS (
    SELECT o_custkey, o_orderkey, o_totalprice,
           d AS valid_from,
           lead(d) OVER (PARTITION BY o_custkey
                         ORDER BY d, o_orderkey) AS valid_to,
           lead(d) OVER (PARTITION BY o_custkey
                         ORDER BY d, o_orderkey) IS NULL AS is_current
    FROM pre
),
post AS (
    SELECT o_custkey, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(o_orderdate AS DATE) AS d,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY CAST(o_orderdate AS DATE),
                                       o_orderkey) AS rn
    FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '{_SCD2_CUTOFF}'
),
ch AS (SELECT o_custkey, o_orderkey, o_totalprice, d FROM post WHERE rn = 1),
closed AS (
    SELECT dim0.o_custkey, dim0.o_orderkey, dim0.o_totalprice,
           dim0.valid_from, ch.d AS valid_to, FALSE AS is_current
    FROM dim0 JOIN ch USING (o_custkey) WHERE dim0.is_current
),
unchanged AS (
    SELECT dim0.o_custkey, dim0.o_orderkey, dim0.o_totalprice,
           dim0.valid_from, dim0.valid_to, dim0.is_current
    FROM dim0 LEFT JOIN ch USING (o_custkey)
    WHERE NOT (dim0.is_current AND ch.o_custkey IS NOT NULL)
),
inserts AS (
    SELECT o_custkey, o_orderkey, o_totalprice,
           d AS valid_from, CAST(NULL AS DATE) AS valid_to,
           TRUE AS is_current
    FROM ch
)
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(valid_from AS TIMESTAMP) AS valid_from,
       CAST(valid_to AS TIMESTAMP) AS valid_to,
       is_current
FROM (
    SELECT * FROM closed
    UNION ALL SELECT * FROM unchanged
    UNION ALL SELECT * FROM inserts
) u
"""


@query("cdc_scd2_apply", _SCD2_APPLY_ORACLE)
def q_cdc_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 MERGE: apply a change batch (each customer's first
    post-2000-01-01 order) to the standing SCD2 dimension built from
    pre-2000-01-01 history → the post-apply history table (o_custkey,
    o_orderkey, o_totalprice, valid_from, valid_to, is_current).
    Changed keys' current rows CLOSE at the change date, the new
    versions insert as current, history rows pass through — the
    warehouse MERGE idiom scd2_intervals (build) and cdc_merge
    (type-1 latest-state) both leave unexpressed.

    Scale shape: the dimension build is one key-shuffled lead window;
    the change batch joins the dimension twice (close + pass-through
    filter); inserts are map-only. The batch here is a DATE-SPLIT of
    the fact table — one row per customer with a post-cutoff order,
    i.e. a large fraction of the dimension, NOT a bounded CDC trickle
    — so the joins carry no broadcast hint: AQE picks broadcast when
    the batch is genuinely small and falls back to a shuffled hash
    join when it is not (a forced broadcast would OOM at scale;
    r11-advisory fix). Both batch-side joins reuse the o_custkey
    partitioning the batch's own row_number window already
    established.

    Validity-bound shape (r16, FIXTURES.md F6): nullable
    TIMESTAMP_NTZ ``valid_from``/``valid_to`` with NULL on the open
    interval — exactly the shape of ``scd2_intervals``, which passed
    all three driver checks (rows+schema+hash) in the r15 window
    (``o_orderdate`` is parquet timestamp[us], so scd2_intervals's
    bounds are NTZ, NOT DATE — null-bearing DATE was the r12 RED
    shape and stays blocked by the oracle_util F6 guard). The r15
    sentinel (``9999-12-31`` NTZ) broke the driver comparator
    outright: pandas ns timestamps max out at 2262-04-11, so the
    oracle harness raised OutOfBoundsDatetime and the query became
    uncomparable. The r15 controlled experiment proved NULL-bearing
    NTZ bounds hash green; the date values sit at midnight so the
    cast is lossless and ``is_current`` still encodes open-endedness.
    """
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("double")
    d = F.col("o_orderdate").cast("date")
    cutoff = F.lit(_SCD2_CUTOFF).cast("date")
    base = o.select(
        "o_custkey",
        "o_orderkey",
        price.alias("o_totalprice"),
        d.alias("d"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    nxt = F.lead("d").over(w)
    dim0 = base.filter(F.col("d") < cutoff).select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.col("d").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )
    ch = (
        base.filter(F.col("d") >= cutoff)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("c_orderkey"),
            F.col("o_totalprice").alias("c_totalprice"),
            F.col("d").alias("c_d"),
        )
    )
    closed = (
        dim0.filter("is_current")
        .join(ch, "o_custkey")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            "valid_from",
            F.col("c_d").alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
    )
    unchanged = (
        dim0.join(
            ch.select("o_custkey", F.lit(1).alias("__hit")),
            "o_custkey",
            "left",
        )
        .filter(~(F.col("is_current") & F.col("__hit").isNotNull()))
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            "valid_from",
            "valid_to",
            "is_current",
        )
    )
    inserts = ch.select(
        "o_custkey",
        F.col("c_orderkey").alias("o_orderkey"),
        F.col("c_totalprice").alias("o_totalprice"),
        F.col("c_d").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return (
        closed.unionByName(unchanged)
        .unionByName(inserts)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.col("valid_from").cast("timestamp_ntz").alias("valid_from"),
            F.col("valid_to").cast("timestamp_ntz").alias("valid_to"),
            "is_current",
        )
    )


# -- Deequ-style declarative data-quality constraint suite --------------------
# One row per declared constraint, (check_name, tbl, violations,
# total, passed) — the unit-test-for-data shape (Deequ / dbt tests /
# Great Expectations). The suite deliberately mixes constraints that
# PASS on the generator's data (uniqueness, both FKs, status domain,
# completeness) with range constraints that FAIL (quantity <= 45,
# totalprice <= 450k, acctbal >= 0), so both branches of every
# comparison are exercised — a suite that can only ever report zero
# violations would be unfalsifiable.

_DQ_ORACLE = """
WITH cust AS (
    SELECT CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
               AS dup_keys,
           CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS neg_bal,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer
),
ord AS (
    SELECT CAST(SUM(CASE WHEN o.o_orderstatus NOT IN ('O', 'F', 'P')
                         THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
           CAST(SUM(CASE WHEN o.o_totalprice > 450000.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS big_price,
           CAST(SUM(CASE WHEN c.c_custkey IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS fk_miss,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
),
li AS (
    SELECT CAST(SUM(CASE WHEN l.l_quantity > 45.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS big_qty,
           CAST(SUM(CASE WHEN o.o_orderkey IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS fk_miss,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
),
doc AS (
    SELECT CAST(SUM(CASE WHEN text IS NULL OR trim(text) = ''
                         THEN 1 ELSE 0 END) AS BIGINT) AS empty_text,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents
)
SELECT * FROM (
    SELECT 'unique_c_custkey' AS check_name, 'customer' AS tbl,
           dup_keys AS violations, n AS total FROM cust
    UNION ALL
    SELECT 'nonneg_c_acctbal', 'customer', neg_bal, n FROM cust
    UNION ALL
    SELECT 'domain_o_orderstatus', 'orders', bad_status, n FROM ord
    UNION ALL
    SELECT 'max_o_totalprice_450k', 'orders', big_price, n FROM ord
    UNION ALL
    SELECT 'fk_orders_customer', 'orders', fk_miss, n FROM ord
    UNION ALL
    SELECT 'max_l_quantity_45', 'lineitem', big_qty, n FROM li
    UNION ALL
    SELECT 'fk_lineitem_orders', 'lineitem', fk_miss, n FROM li
    UNION ALL
    SELECT 'nonempty_text', 'documents', empty_text, n FROM doc
)
"""


@query("profile_dq_constraints", _DQ_ORACLE)
def q_profile_dq_constraints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Declarative data-quality constraint suite (the Deequ / dbt-test
    shape): 8 constraints over 4 tables — key uniqueness, two
    referential-integrity checks, a value domain, two range rules, a
    non-negativity rule, and text completeness — evaluated in ONE pass
    per table → (check_name, tbl, violations, total). Range rules are
    tuned to genuinely fire on the generator's data (qty>45,
    price>450k, acctbal<0) so the suite exercises both the pass and
    fail branches.

    Scale shape: per-table checks fuse into a single aggregate scan of
    that table (no per-check rescans); each FK check is one key-keyed
    LEFT join counted in the same pass as its sibling checks — at
    cluster scale these are the only two shuffles, both on natural
    join keys. The report itself is a constant 8-row union."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    docs = load_table(spark, sf_dir, "documents")

    b = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")

    cust_a = cust.agg(
        (F.count("*") - F.count_distinct("c_custkey"))
        .cast("bigint")
        .alias("dup_keys"),
        b(F.col("c_acctbal") < 0).alias("neg_bal"),
        F.count("*").cast("bigint").alias("n"),
    )
    ord_j = orders.join(
        cust.select("c_custkey"),
        orders["o_custkey"] == F.col("c_custkey"),
        "left",
    )
    ord_a = ord_j.agg(
        b(~F.col("o_orderstatus").isin("O", "F", "P")).alias(
            "bad_status"
        ),
        b(F.col("o_totalprice") > 450000.0).alias("big_price"),
        b(F.col("c_custkey").isNull()).alias("fk_miss"),
        F.count("*").cast("bigint").alias("n"),
    )
    li_j = li.select("l_orderkey", "l_quantity").join(
        orders.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left",
    )
    li_a = li_j.agg(
        b(F.col("l_quantity") > 45.0).alias("big_qty"),
        b(F.col("o_orderkey").isNull()).alias("fk_miss"),
        F.count("*").cast("bigint").alias("n"),
    )
    doc_a = docs.agg(
        b(
            F.col("text").isNull() | (F.trim("text") == "")
        ).alias("empty_text"),
        F.count("*").cast("bigint").alias("n"),
    )

    def row(src, name, tbl, vcol):
        return src.select(
            F.lit(name).alias("check_name"),
            F.lit(tbl).alias("tbl"),
            F.col(vcol).alias("violations"),
            F.col("n").alias("total"),
        )

    return (
        row(cust_a, "unique_c_custkey", "customer", "dup_keys")
        .unionAll(row(cust_a, "nonneg_c_acctbal", "customer",
                      "neg_bal"))
        .unionAll(row(ord_a, "domain_o_orderstatus", "orders",
                      "bad_status"))
        .unionAll(row(ord_a, "max_o_totalprice_450k", "orders",
                      "big_price"))
        .unionAll(row(ord_a, "fk_orders_customer", "orders",
                      "fk_miss"))
        .unionAll(row(li_a, "max_l_quantity_45", "lineitem",
                      "big_qty"))
        .unionAll(row(li_a, "fk_lineitem_orders", "lineitem",
                      "fk_miss"))
        .unionAll(row(doc_a, "nonempty_text", "documents",
                      "empty_text"))
    )


# -- Small-file compaction planning (the OPTIMIZE planner) --------------------
# The table-maintenance op every lakehouse runs: given a file
# manifest (here simulated from orders as ~32 files per month
# partition at 128 bytes/row), plan which files merge into which
# compacted output. The assignment is start-offset binning — a file
# belongs to bin floor(start_offset / target) of its partition — so
# the plan is pure prefix-sum arithmetic: deterministic, and every
# bin lands within one file of the target size (greedy-equivalent for
# the tail-packing this op needs).

_COMPACT_TARGET = 2048  # bytes per compacted output file


_COMPACT_ORACLE = f"""
WITH files AS (
    SELECT date_trunc('month', o_orderdate) AS part_month,
           o_orderkey % 32 AS file_id,
           CAST(COUNT(*) * 128 AS BIGINT) AS bytes
    FROM orders GROUP BY 1, 2
),
placed AS (
    SELECT part_month, file_id, bytes,
           COALESCE(SUM(bytes) OVER (PARTITION BY part_month
               ORDER BY file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start_off
    FROM files
)
SELECT CAST(part_month AS DATE) AS part_month,
       CAST(FLOOR(start_off / {_COMPACT_TARGET}.0) AS BIGINT)
           AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(bytes) AS BIGINT) AS bytes_total
FROM placed
GROUP BY 1, 2
"""


@query("layout_compaction_plan", _COMPACT_ORACLE)
def q_layout_compaction_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Small-file compaction planner (the OPTIMIZE/rewrite-data-files
    planning step): from a per-partition file manifest — simulated
    here as (month, o_orderkey%32) files at 128 bytes/row — assign
    every file to a compacted output via start-offset binning at a
    2048-byte target → (part_month, bin_id, n_files, bytes_total).
    A file joins bin floor(start_offset/target), so each output lands
    within one input file of the target and the merge plan needs no
    sequential scan.

    Scale shape: the manifest aggregate is one (partition,file)-keyed
    shuffle; the prefix sum runs inside each partition's <=32-row file
    list (bounded by files-per-partition, the quantity compaction
    exists to bound — never by row count); the plan rollup reuses the
    same partitioning. At cluster scale this is the exact shape of a
    metadata-table scan: rows never move, only the manifest does."""
    o = load_table(spark, sf_dir, "orders")
    files = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("part_month"),
        (F.col("o_orderkey") % 32).alias("file_id"),
    ).agg((F.count("*") * 128).cast("bigint").alias("bytes"))
    w = (
        Window.partitionBy("part_month")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = files.withColumn(
        "start_off", F.coalesce(F.sum("bytes").over(w), F.lit(0))
    )
    return placed.groupBy(
        F.col("part_month").cast("date").alias("part_month"),
        F.floor(
            F.col("start_off") / F.lit(float(_COMPACT_TARGET))
        )
        .cast("bigint")
        .alias("bin_id"),
    ).agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("bytes").cast("bigint").alias("bytes_total"),
    )


# -- Snapshot-retention vacuum planner -------------------------------------------
# The table-maintenance twin of layout_compaction_plan: given the
# same simulated file manifest plus a snapshot lineage (each file
# carries the snapshot that added it and, for ~1/5 of files, the
# snapshot that logically deleted it — the Iceberg/Delta commit
# model), plan an `expire_snapshots(retain_last=2)` + vacuum: a file
# is reclaimable iff NO retained snapshot references it, i.e. its
# delete landed at or before the oldest retained snapshot. Pure
# arithmetic over the manifest — data never moves, exactly like the
# compaction planner.

_VACUUM_SNAPSHOTS = 4  # snapshots 0..3; retain the last 2 (2 and 3)


_VACUUM_RETAIN = 2


_VACUUM_ORACLE = f"""
WITH files AS (
    SELECT date_trunc('month', o_orderdate) AS part_month,
           o_orderkey % 32 AS file_id,
           CAST(COUNT(*) * 128 AS BIGINT) AS bytes
    FROM orders GROUP BY 1, 2
),
lineage AS (
    SELECT part_month, file_id, bytes,
           CAST(file_id % 3 AS BIGINT) AS created_snap,
           CASE WHEN file_id % 5 = 0
                THEN CAST(file_id % 3 + 1 AS BIGINT)
                ELSE NULL END AS deleted_snap
    FROM files
)
SELECT CAST(part_month AS DATE) AS part_month,
       CAST(file_id AS BIGINT) AS file_id,
       bytes, created_snap, deleted_snap,
       CASE WHEN deleted_snap IS NOT NULL
                 AND deleted_snap
                     <= {_VACUUM_SNAPSHOTS - _VACUUM_RETAIN}
            THEN 'DELETE' ELSE 'RETAIN' END AS action
FROM lineage
"""


@query("layout_vacuum_plan", _VACUUM_ORACLE)
def q_layout_vacuum_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Snapshot-retention vacuum plan over the simulated file
    manifest: every file carries (created_snap, deleted_snap) commit
    lineage; retaining the last 2 of 4 snapshots, a file
    is DELETE iff its logical delete landed at or before the oldest
    retained snapshot (no retained snapshot can reference it — the
    Iceberg expire_snapshots + vacuum contract) → (part_month,
    file_id, bytes, created_snap, deleted_snap, action). The
    reclaimed-bytes rollup is one filter+sum over this plan.

    Scale shape: one groupBy builds the manifest (at a real lakehouse
    this relation IS the metadata layer, ~1 row per file, millions of
    rows at 100 TB — trivially partition-parallel); the plan itself
    is a pure map over manifest rows. Data files are never read."""
    o = load_table(spark, sf_dir, "orders")
    files = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate"))
        .cast("date")
        .alias("part_month"),
        (F.col("o_orderkey") % 32).alias("file_id"),
    ).agg((F.count("*") * 128).cast("bigint").alias("bytes"))
    created = (F.col("file_id") % 3).cast("bigint")
    deleted = F.when(
        F.col("file_id") % 5 == 0, (F.col("file_id") % 3 + 1)
    ).cast("bigint")
    oldest_retained = _VACUUM_SNAPSHOTS - _VACUUM_RETAIN
    return files.select(
        "part_month",
        F.col("file_id").cast("bigint").alias("file_id"),
        "bytes",
        created.alias("created_snap"),
        deleted.alias("deleted_snap"),
        F.when(
            deleted.isNotNull() & (deleted <= oldest_retained),
            F.lit("DELETE"),
        )
        .otherwise(F.lit("RETAIN"))
        .alias("action"),
    )


# -- Two-period profile drift ----------------------------------------------------
# Training-data drift monitoring: split orders at the midpoint date
# and compare per-column profiles — row counts, mean price, and for
# each categorical column the L1 distance between the two periods'
# value-frequency distributions plus distinct counts. The report a
# dataset-QA gate reads before admitting a new snapshot (PSI's
# two-period sibling; events_psi_value_drift covers the binned
# numeric shape, this covers the categorical/profile shape).
#
# Exactness: the L1 distance is computed from the EXACT integer
# cross-product |ca*nb - cb*na| per value — summed as DECIMAL(19,0)
# products (exact at any count magnitude, per the cross-engine
# decimal-width rule) — and divided by na*nb once at the end, so the
# float result is order-independent and bit-identical across engines.

_DRIFT_ORACLE = """
WITH bounds AS (
    SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
           CAST(MAX(o_orderdate) AS DATE) AS d1
    FROM orders
),
tagged AS (
    SELECT o.o_totalprice, o.o_orderstatus, o.o_orderpriority,
           CASE WHEN CAST(o.o_orderdate AS DATE)
                     < b.d0 + CAST(date_diff('day', b.d0, b.d1) // 2
                                   AS INT) * INTERVAL 1 DAY
                THEN 0 ELSE 1 END AS per
    FROM orders o CROSS JOIN bounds b
),
price AS (
    SELECT CAST(SUM(CASE WHEN per = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS na,
           CAST(SUM(CASE WHEN per = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS nb,
           CAST(SUM(CASE WHEN per = 0
                THEN CAST(o_totalprice AS DECIMAL(18,2))
                ELSE CAST(0 AS DECIMAL(18,2)) END) * 100
               AS BIGINT) AS sa,
           CAST(SUM(CASE WHEN per = 1
                THEN CAST(o_totalprice AS DECIMAL(18,2))
                ELSE CAST(0 AS DECIMAL(18,2)) END) * 100
               AS BIGINT) AS sb
    FROM tagged
),
cat AS (
    SELECT col, val,
           CAST(SUM(CASE WHEN per = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS ca,
           CAST(SUM(CASE WHEN per = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS cb
    FROM (
        SELECT per, 'o_orderstatus' AS col, o_orderstatus AS val
        FROM tagged
        UNION ALL
        SELECT per, 'o_orderpriority', o_orderpriority FROM tagged
    ) GROUP BY 1, 2
),
catl1 AS (
    SELECT c.col,
           CAST(SUM(ABS(CAST(c.ca AS DECIMAL(19,0))
                        * CAST(p.nb AS DECIMAL(19,0))
                        - CAST(c.cb AS DECIMAL(19,0))
                        * CAST(p.na AS DECIMAL(19,0))))
               AS DECIMAL(38,0)) AS l1_num,
           CAST(MIN(p.na) AS BIGINT) AS na,
           CAST(MIN(p.nb) AS BIGINT) AS nb,
           CAST(SUM(CASE WHEN c.ca > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS da,
           CAST(SUM(CASE WHEN c.cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS db
    FROM cat c, price p GROUP BY 1
)
SELECT 'o_totalprice' AS col_name, 'mean_cents' AS metric,
       CAST(sa AS DOUBLE) / na AS stat_a,
       CAST(sb AS DOUBLE) / nb AS stat_b
FROM price
UNION ALL
SELECT 'o_totalprice', 'row_count', CAST(na AS DOUBLE),
       CAST(nb AS DOUBLE)
FROM price
UNION ALL
SELECT col, 'freq_l1',
       CAST(l1_num AS DOUBLE)
           / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)),
       CAST(l1_num AS DOUBLE)
           / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
FROM catl1
UNION ALL
SELECT col, 'distinct_count', CAST(da AS DOUBLE), CAST(db AS DOUBLE)
FROM catl1
"""


@query("profile_drift_two_period", _DRIFT_ORACLE)
def q_profile_drift_two_period(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-period profile drift over orders, split at the midpoint
    date → long-form (col_name, metric, stat_a, stat_b): row counts
    and mean price (cents) for the numeric column, frequency-L1
    distance and distinct counts for each categorical column. The
    dataset-QA gate a training pipeline reads before admitting a new
    snapshot; the categorical sibling of events_psi_value_drift.

    L1 is order-independent by construction (exact DECIMAL(19,0)
    cross-products |ca*nb - cb*na| summed, one double division at the
    end), so both engines emit bit-identical doubles.

    Scale shape: ONE conditional-aggregation pass for the numeric
    profile plus one (col, val)-keyed groupBy for the categorical
    frequencies (value cardinality bounded by the domains); the split
    tag is a map-side expression off a broadcast 1-row bounds
    relation."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.max(F.col("o_orderdate").cast("date")).alias("d1"),
    )
    tagged = (
        o.crossJoin(F.broadcast(bounds))
        .select(
            "o_totalprice",
            "o_orderstatus",
            "o_orderpriority",
            F.when(
                F.col("o_orderdate").cast("date")
                < F.expr(
                    "date_add(d0, cast(datediff(d1, d0) div 2 as int))"
                ),
                0,
            )
            .otherwise(1)
            .alias("per"),
        )
        .localCheckpoint(eager=False)  # feeds price + cat unpivot
    )
    price = tagged.agg(
        F.sum(F.when(F.col("per") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("per") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
        (
            F.sum(
                F.when(
                    F.col("per") == 0,
                    F.col("o_totalprice").cast("decimal(18,2)"),
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            )
            * 100
        )
        .cast("bigint")
        .alias("sa"),
        (
            F.sum(
                F.when(
                    F.col("per") == 1,
                    F.col("o_totalprice").cast("decimal(18,2)"),
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            )
            * 100
        )
        .cast("bigint")
        .alias("sb"),
    )
    cat = (
        tagged.select(
            "per",
            F.lit("o_orderstatus").alias("col"),
            F.col("o_orderstatus").alias("val"),
        )
        .unionAll(
            tagged.select(
                "per",
                F.lit("o_orderpriority").alias("col"),
                F.col("o_orderpriority").alias("val"),
            )
        )
        .groupBy("col", "val")
        .agg(
            F.sum(F.when(F.col("per") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("per") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("cb"),
        )
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")
    catl1 = (
        cat.crossJoin(F.broadcast(price))
        .groupBy("col")
        .agg(
            F.sum(
                F.abs(d19("ca") * d19("nb") - d19("cb") * d19("na"))
            )
            .cast("decimal(38,0)")
            .alias("l1_num"),
            F.min("na").cast("bigint").alias("na"),
            F.min("nb").cast("bigint").alias("nb"),
            F.sum(F.when(F.col("ca") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("da"),
            F.sum(F.when(F.col("cb") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("db"),
        )
    )
    l1 = F.col("l1_num").cast("double") / (
        F.col("na").cast("double") * F.col("nb").cast("double")
    )
    return (
        price.select(
            F.lit("o_totalprice").alias("col_name"),
            F.lit("mean_cents").alias("metric"),
            (F.col("sa").cast("double") / F.col("na")).alias("stat_a"),
            (F.col("sb").cast("double") / F.col("nb")).alias("stat_b"),
        )
        .unionAll(
            price.select(
                F.lit("o_totalprice").alias("col_name"),
                F.lit("row_count").alias("metric"),
                F.col("na").cast("double").alias("stat_a"),
                F.col("nb").cast("double").alias("stat_b"),
            )
        )
        .unionAll(
            catl1.select(
                F.col("col").alias("col_name"),
                F.lit("freq_l1").alias("metric"),
                l1.alias("stat_a"),
                l1.alias("stat_b"),
            )
        )
        .unionAll(
            catl1.select(
                F.col("col").alias("col_name"),
                F.lit("distinct_count").alias("metric"),
                F.col("da").cast("double").alias("stat_a"),
                F.col("db").cast("double").alias("stat_b"),
            )
        )
    )


# -- layout_file_skipping_audit ------------------------------------------------
# Zone maps (per-file column min/max) are what lets a 100 TB scan skip
# files: a predicate prunes a file iff its range misses the file's
# [min, max]. The audit measures that skip rate for the SAME table
# under two layouts — "arrival" order (file = ingestion chunk, dates
# scattered, zone maps wide) vs date-clustered (file = shipdate month,
# zone maps tight) — over a quarterly date-range workload. This is the
# measurement a layout-optimization job (layout_zorder, compaction)
# justifies itself with. At scale: two map-side-combinable groupBys of
# the fact table (one per layout), then a tiny zone-map-x-workload
# broadcast join; the fact table is scanned once per layout and never
# shuffled on a wide key.

_SKIP_QUARTERS = [
    ("1996Q1", "1996-01-01", "1996-04-01"),
    ("1996Q2", "1996-04-01", "1996-07-01"),
    ("1996Q3", "1996-07-01", "1996-10-01"),
    ("1996Q4", "1996-10-01", "1997-01-01"),
    ("1997Q1", "1997-01-01", "1997-04-01"),
    ("1997Q2", "1997-04-01", "1997-07-01"),
    ("1997Q3", "1997-07-01", "1997-10-01"),
    ("1997Q4", "1997-10-01", "1998-01-01"),
]


_SKIP_FILE_ROWS = 256  # orderkeys per "arrival" file


_SKIP_ORACLE = f"""
WITH base AS (
    SELECT CAST(l_shipdate AS DATE) AS d, l_orderkey FROM lineitem
),
zonemaps AS (
    SELECT 'arrival' AS layout, l_orderkey // {_SKIP_FILE_ROWS} AS file_id,
           MIN(d) AS min_d, MAX(d) AS max_d
    FROM base GROUP BY 2
    UNION ALL
    SELECT 'clustered' AS layout,
           (CAST(year(d) AS BIGINT) - 1995) * 12
               + (CAST(month(d) AS BIGINT) - 1) AS file_id,
           MIN(d) AS min_d, MAX(d) AS max_d
    FROM base GROUP BY 2
),
workload(q_label, q_start, q_end) AS (
    VALUES {", ".join(
        f"('{lbl}', DATE '{s}', DATE '{e}')" for lbl, s, e in _SKIP_QUARTERS
    )}
)
SELECT layout, q_label,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(CASE WHEN max_d < q_start OR min_d >= q_end
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
       CAST(SUM(CASE WHEN max_d < q_start OR min_d >= q_end
                     THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS skip_rate
FROM zonemaps CROSS JOIN workload
GROUP BY layout, q_label
"""


@query("layout_file_skipping_audit", _SKIP_ORACLE)
def q_layout_file_skipping_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Zone-map skip-rate audit: per (layout, quarter predicate), how
    many simulated files a min/max zone map would prune →
    (layout, q_label, n_files, n_skipped, skip_rate). 'arrival' files
    are ingestion chunks (orderkey ranges — shipdates scattered, so
    almost nothing prunes); 'clustered' files are shipdate months
    (tight zone maps — all but the overlapping months prune). The gap
    between the two rates IS the value of date-clustering the table.

    Scale shape: the fact table aggregates straight to |files| zone-map
    rows (map-side combine on a derived key, no wide shuffle); the
    workload join is |files| x 8 literal rows, broadcast. At 100 TB
    the zone-map relation is ~#files (10^5-10^6) rows — driver-safe
    and re-usable as an actual pruning index.
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_shipdate").cast("date").alias("d"), "l_orderkey"
    )
    arrival = (
        base.groupBy(
            # integer floor division, mirroring the oracle's `//`
            # exactly (double-divide-then-truncate differs for
            # negative keys and keys past 2^53 — r14 advisory)
            F.expr(f"l_orderkey DIV {_SKIP_FILE_ROWS}").alias("file_id")
        )
        .agg(F.min("d").alias("min_d"), F.max("d").alias("max_d"))
        .select(F.lit("arrival").alias("layout"), "min_d", "max_d")
    )
    clustered = (
        base.groupBy(
            (
                (F.year("d").cast("bigint") - 1995) * 12
                + (F.month("d").cast("bigint") - 1)
            ).alias("file_id")
        )
        .agg(F.min("d").alias("min_d"), F.max("d").alias("max_d"))
        .select(F.lit("clustered").alias("layout"), "min_d", "max_d")
    )
    workload = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(lbl).alias("q_label"),
                    F.lit(s).cast("date").alias("q_start"),
                    F.lit(e).cast("date").alias("q_end"),
                )
                for lbl, s, e in _SKIP_QUARTERS
            ]
        )
    ).alias("w")
    zm = arrival.unionByName(clustered)
    joined = zm.select("*", workload).select(
        "layout", "min_d", "max_d", "w.q_label", "w.q_start", "w.q_end"
    )
    skipped = F.sum(
        F.when(
            (F.col("max_d") < F.col("q_start"))
            | (F.col("min_d") >= F.col("q_end")),
            1,
        ).otherwise(0)
    ).cast("bigint")
    return joined.groupBy("layout", "q_label").agg(
        F.count("*").cast("bigint").alias("n_files"),
        skipped.alias("n_skipped"),
        (
            skipped.cast("double") / F.count("*").cast("double")
        ).alias("skip_rate"),
    )


# -- layout_partition_skew_audit ------------------------------------------------
# join_salted_skew EXECUTES a salted join; this is the audit that
# DECIDES the salt: profile the shuffle-partition load a key would
# produce and recommend per-partition split factors. Partition id is
# the deterministic `key % P` stand-in for pmod(hash(key), P) —
# cross-engine hash functions differ, and the skew STRUCTURE (modular
# bucketing of a Zipf-ish key) is the same either way; the audit's
# contract is the recommendation logic, not Spark's exact hash.

_SKEW_P = 32


_SKEW_ORACLE = f"""
WITH per_part AS (
    SELECT user_id % {_SKEW_P} AS partition_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM per_part)
SELECT partition_id, n_rows,
       CAST(n_rows * {_SKEW_P} AS DOUBLE) / CAST(total AS DOUBLE)
           AS skew_factor,
       CAST((n_rows * {_SKEW_P} + total - 1) // total AS BIGINT)
           AS recommended_splits
FROM per_part CROSS JOIN tot
"""


@query("layout_partition_skew_audit", _SKEW_ORACLE)
def q_layout_partition_skew_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shuffle-skew audit of events.user_id at P=32 reducers →
    (partition_id, n_rows, skew_factor, recommended_splits).
    skew_factor is the partition's load relative to the uniform ideal
    (n x P / total); recommended_splits = ceil(skew_factor) is the
    salt fan-out that would level it (1 = leave alone). Feeding the
    hot partitions' keys into a salted join (join_salted_skew) or
    AQE's skew-join threshold is the production follow-up.

    Scale shape: one map-side-combined groupBy to P rows, then a
    broadcast of the 1-row total — the audited table streams through
    once, and the audit's own shuffle is P rows.
    """
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy(
        (F.col("user_id") % _SKEW_P).alias("partition_id")
    ).agg(F.count("*").cast("bigint").alias("n_rows"))
    tot = per.agg(F.sum("n_rows").cast("bigint").alias("total"))
    return per.crossJoin(F.broadcast(tot)).select(
        "partition_id",
        "n_rows",
        (
            (F.col("n_rows") * _SKEW_P).cast("double")
            / F.col("total").cast("double")
        ).alias("skew_factor"),
        F.expr(
            f"CAST((n_rows * {_SKEW_P} + total - 1) DIV total AS BIGINT)"
        ).alias("recommended_splits"),
    )
