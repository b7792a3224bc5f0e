"""Relational queries: projections, filters, derivations, set
operations, aggregates (grouping sets, quantiles, sketches), windows
and joins (broadcast, shuffle, as-of, range, semi/anti), plus the
flagship material-demand query and its oracle (SURVEY.md §2.1-2.9,
§7).

The reference's only join semantics hide inside MERGE DML
(reference: mnt/dags/unused_02retail_stage.py:101-144) and its only
window is latest-per-key (:109-122); the rest is the natural widening
a warehouse engine needs, each expressed so Catalyst picks the right
physical strategy and each hash-checked against DuckDB.

Determinism notes: double sums always pass through DECIMAL(18,2)
(data is 2-decimal); revenue terms are rounded half-up to 2 digits
per row BEFORE the decimal sum on both engines; avg = decimal-sum /
count in one double division.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import text as TX
from ..operators import (
    aggregate,
    join_ext,
    reshape,
    sketches,
    transform,
    window,
)
from ..operators.aggregate import exact_sum
from ..operators.dedup import QSCALE
from ..operators.sketches import CMS_D, CMS_W, cms_bucket
from ..scratch import warehouse_dir
from .flagship import (
    PRODUCT_DEMAND_VIEW_SQL,
    flagship,
    material_demand_grams,
    product_demand_view,
)
from .registry import query


# --------------------------------------------------------------------------
# Flagship (SURVEY.md §7)
# --------------------------------------------------------------------------

_GRAMS_CASE_SQL = """
        CASE product_name WHEN 'cheap' THEN CAST(demand AS DECIMAL(18,2)) * 20
                          WHEN 'medium' THEN CAST(demand AS DECIMAL(18,2)) * 10
                          ELSE CAST(0 AS DECIMAL(18,2)) END AS local_arabica_g,
        CASE product_name WHEN 'medium' THEN CAST(demand AS DECIMAL(18,2)) * 10
                          WHEN 'expensive' THEN CAST(demand AS DECIMAL(18,2)) * 10
                          ELSE CAST(0 AS DECIMAL(18,2)) END AS foreign_arabica_g,
        CASE product_name WHEN 'expensive' THEN CAST(demand AS DECIMAL(18,2)) * 10
                          ELSE CAST(0 AS DECIMAL(18,2)) END AS robusta_g
"""


FLAGSHIP_ORACLE = f"""
WITH product_demand AS ({PRODUCT_DEMAND_VIEW_SQL}),
grams AS (
    SELECT date, shop_id, {_GRAMS_CASE_SQL}
    FROM product_demand
),
agg AS (
    SELECT date, shop_id,
           CAST(SUM(local_arabica_g) AS DOUBLE)   AS local_arabica,
           CAST(SUM(foreign_arabica_g) AS DOUBLE) AS foreign_arabica,
           CAST(SUM(robusta_g) AS DOUBLE)         AS robusta
    FROM grams GROUP BY date, shop_id
)
SELECT date, shop_id, raw_material, demand / 1000.0 AS demand_kg FROM (
    SELECT date, shop_id, 'local_arabica' AS raw_material, local_arabica AS demand FROM agg
    UNION ALL
    SELECT date, shop_id, 'foreign_arabica' AS raw_material, foreign_arabica AS demand FROM agg
    UNION ALL
    SELECT date, shop_id, 'robusta' AS raw_material, robusta AS demand FROM agg
)
"""


@query("material_demand", FLAGSHIP_ORACLE)
def q_material_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: product demand → material demand, kg (live-DAG dialect;
    reference: mnt/dags/02datalake_to_datawarehouse.py:59-95)."""
    return flagship(spark, sf_dir)


@query(
    "agg_group_sum_sql",
    f"""
WITH product_demand AS ({PRODUCT_DEMAND_VIEW_SQL}),
grams AS (
    SELECT date, shop_id, {_GRAMS_CASE_SQL}
    FROM product_demand
),
long AS (
    SELECT date, shop_id, 'local_arabica' AS material_name, local_arabica_g AS quantity FROM grams
    UNION ALL
    SELECT date, shop_id, 'foreign_arabica' AS material_name, foreign_arabica_g AS quantity FROM grams
    UNION ALL
    SELECT date, shop_id, 'robusta' AS material_name, robusta_g AS quantity FROM grams
)
SELECT date, shop_id, material_name, CAST(SUM(quantity) AS DOUBLE) AS quantity_g
FROM long GROUP BY date, shop_id, material_name
""",
)
def q_agg_group_sum_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-dialect grams variant: unpivot-then-GROUP-BY, emits
    ``quantity_g`` (reference: mnt/dags/unused_pipeline_sourcecode.py:36-97)."""
    return material_demand_grams(product_demand_view(spark, sf_dir))


# --------------------------------------------------------------------------
# §2.2 projections / filters / scalar expressions
# --------------------------------------------------------------------------


@query("project_star", "SELECT * FROM region")
def q_project_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT * (reference: mnt/dags/01fetch_from_database.py:52)."""
    return load_table(spark, sf_dir, "region").select("*")


@query("project_cols", "SELECT o_orderkey, o_custkey, o_totalprice FROM orders")
def q_project_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit column-list projection (reference:
    mnt/dags/unused_pipeline_sourcecode.py:61-65). Column pruning
    reaches the parquet scan (ReadSchema shows only these columns)."""
    return load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")


@query(
    "filter_date_range",
    """
SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
""",
)
def q_filter_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-open incremental window (reference:
    mnt/dags/01fetch_from_database.py:52). The predicate pushes into the
    parquet scan (PushedFilters)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"
    )
    return transform.filter_date_range(li, "l_shipdate", "1996-01-01", "1997-01-01")


_DERIVE_ORACLE = f"""
WITH product_demand AS ({PRODUCT_DEMAND_VIEW_SQL})
SELECT date, shop_id, product_name, demand,
       CAST(CASE product_name WHEN 'cheap' THEN CAST(demand AS DECIMAL(18,2)) * 20
                              WHEN 'medium' THEN CAST(demand AS DECIMAL(18,2)) * 10
                              ELSE CAST(0 AS DECIMAL(18,2)) END AS DOUBLE) AS local_arabica_g,
       CAST(CASE product_name WHEN 'medium' THEN CAST(demand AS DECIMAL(18,2)) * 10
                              WHEN 'expensive' THEN CAST(demand AS DECIMAL(18,2)) * 10
                              ELSE CAST(0 AS DECIMAL(18,2)) END AS DOUBLE) AS foreign_arabica_g,
       CAST(CASE product_name WHEN 'expensive' THEN CAST(demand AS DECIMAL(18,2)) * 10
                              ELSE CAST(0 AS DECIMAL(18,2)) END AS DOUBLE) AS robusta_g
FROM product_demand
"""


@query("derive_case_when", _DERIVE_ORACLE)
def q_derive_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized CASE WHEN product→material derivation, replacing the
    reference's three row-at-a-time ``df.apply(axis=1)`` lambdas
    (reference: mnt/dags/02datalake_to_datawarehouse.py:65-67)."""
    pd_view = product_demand_view(spark, sf_dir)
    grams = transform.derive_material_grams(pd_view)
    return grams.select(
        "date",
        "shop_id",
        "product_name",
        "demand",
        *[F.col(f"{m}_g").cast("double").alias(f"{m}_g") for m in transform.MATERIALS],
    )


@query("derive_case_when_sql", _DERIVE_ORACLE)
def q_derive_case_when_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics via ``spark.sql`` CASE WHEN text (reference:
    mnt/dags/unused_pipeline_sourcecode.py:42-56) — Catalyst produces
    the same plan as the DataFrame form."""
    product_demand_view(spark, sf_dir).createOrReplaceTempView("product_demand")
    return spark.sql(
        f"""
        SELECT date, shop_id, product_name, demand,
               CAST(CASE product_name WHEN 'cheap' THEN CAST(demand AS DECIMAL(18,2)) * 20
                                      WHEN 'medium' THEN CAST(demand AS DECIMAL(18,2)) * 10
                                      ELSE CAST(0 AS DECIMAL(18,2)) END AS DOUBLE) AS local_arabica_g,
               CAST(CASE product_name WHEN 'medium' THEN CAST(demand AS DECIMAL(18,2)) * 10
                                      WHEN 'expensive' THEN CAST(demand AS DECIMAL(18,2)) * 10
                                      ELSE CAST(0 AS DECIMAL(18,2)) END AS DOUBLE) AS foreign_arabica_g,
               CAST(CASE product_name WHEN 'expensive' THEN CAST(demand AS DECIMAL(18,2)) * 10
                                      ELSE CAST(0 AS DECIMAL(18,2)) END AS DOUBLE) AS robusta_g
        FROM product_demand
        """
    )


@query(
    "cast_numeric",
    """
SELECT l_orderkey, l_linenumber,
       CAST(CAST(l_linenumber AS VARCHAR) AS DOUBLE) AS linenumber_num
FROM lineitem
""",
)
def q_cast_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String→numeric ingest cast (reference:
    mnt/dags/unused_pipeline_sourcecode.py:43 ``CAST(demand AS NUMERIC)``)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_linenumber").cast("string").cast("double").alias("linenumber_num"),
    )


@query(
    "arith_mul",
    "SELECT o_orderkey, o_totalprice * 20 AS price_x20 FROM orders",
)
def q_arith_mul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiply-by-literal (reference grams-per-unit:
    mnt/dags/02datalake_to_datawarehouse.py:65-67)."""
    o = load_table(spark, sf_dir, "orders")
    return transform.arith_mul(o, "o_totalprice", 20, "price_x20").select(
        "o_orderkey", "price_x20"
    )


@query(
    "arith_div",
    "SELECT o_orderkey, o_totalprice / 1000.0 AS price_k FROM orders",
)
def q_arith_div(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Divide-by-literal, the g→kg conversion (reference:
    mnt/dags/02datalake_to_datawarehouse.py:73)."""
    o = load_table(spark, sf_dir, "orders")
    return transform.arith_div(o, "o_totalprice", 1000.0, "price_k").select(
        "o_orderkey", "price_k"
    )


@query(
    "drop_col",
    """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM orders
""",
)
def q_drop_col(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop a column after deriving its replacement (reference:
    mnt/dags/02datalake_to_datawarehouse.py:74). Catalyst prunes the
    dropped column out of the scan entirely."""
    return transform.drop_cols(load_table(spark, sf_dir, "orders"), "o_orderpriority")


@query(
    "in_list_pred",
    """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE o_orderstatus IN ('O', 'F')
""",
)
def q_in_list_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership predicate (reference:
    mnt/dags/02datalake_to_datawarehouse.py:66-67)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    return transform.in_list(o, "o_orderstatus", ["O", "F"])


@query(
    "str_lit_tag",
    "SELECT r_regionkey, r_name, 'local_arabica' AS material_name FROM region",
)
def q_str_lit_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant string tag column (reference:
    mnt/dags/unused_pipeline_sourcecode.py:70,77,84)."""
    return transform.tag_literal(
        load_table(spark, sf_dir, "region"), "local_arabica", "material_name"
    )


# --------------------------------------------------------------------------
# §2.3 aggregation
# --------------------------------------------------------------------------


@query(
    "agg_group_sum_multi",
    """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(SUM(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE)           AS sum_tax
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
)
def q_agg_group_sum_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-agg, 2 keys × 3 summed measures (reference pandas groupby:
    mnt/dags/02datalake_to_datawarehouse.py:69). Partial map-side agg
    means the shuffle carries one row per group per partition."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        exact_sum("l_quantity", "sum_qty"),
        exact_sum("l_extendedprice", "sum_price"),
        exact_sum("l_tax", "sum_tax"),
    )


@query(
    "distinct_rows",
    """
SELECT DISTINCT o_custkey,
       first_value(o_orderstatus) OVER w AS o_orderstatus,
       first_value(o_totalprice) OVER w  AS o_totalprice,
       first_value(o_orderdate)  OVER w  AS o_orderdate
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC)
""",
)
def q_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT over a first_value-windowed projection — the reference's
    CDC dedup shape, literal form (reference:
    mnt/dags/unused_02retail_stage.py:109-122). Tie-broken on
    o_orderkey so content is deterministic (SURVEY.md §5 risk 5)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return o.select(
        "o_custkey",
        F.first("o_orderstatus").over(w).alias("o_orderstatus"),
        F.first("o_totalprice").over(w).alias("o_totalprice"),
        F.first("o_orderdate").over(w).alias("o_orderdate"),
    ).distinct()


# --------------------------------------------------------------------------
# §2.4 reshape
# --------------------------------------------------------------------------

_UNPIVOT_ORACLE = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS measure, l_extendedprice AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax' AS measure, l_tax AS value FROM lineitem
"""


@query("unpivot_melt", _UNPIVOT_ORACLE)
def q_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long via native unpivot (reference ``pd.melt``:
    mnt/dags/02datalake_to_datawarehouse.py:71). Narrow op — no shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return reshape.unpivot_melt(
        li,
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_tax"],
        "measure",
        "value",
    )


@query("unpivot_union_all", _UNPIVOT_ORACLE)
def q_unpivot_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same reshape as 3-way tagged UNION ALL (reference:
    mnt/dags/unused_pipeline_sourcecode.py:66-87); asserted ≡ melt in
    tests (metamorphic, SURVEY.md §5)."""
    li = load_table(spark, sf_dir, "lineitem")
    return reshape.unpivot_union_all(
        li,
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_tax"],
        "measure",
        "value",
    )


# --------------------------------------------------------------------------
# §2.5 sorts / set ops
# --------------------------------------------------------------------------


@query(
    "order_by_multi",
    """
SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders
ORDER BY o_orderdate, o_custkey, o_orderkey
""",
)
def q_order_by_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key ascending ORDER BY (reference:
    mnt/dags/unused_pipeline_sourcecode.py:92-95). Spark executes as a
    range-partitioned sort (sampled boundaries → parallel total order)."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderdate", "o_custkey", "o_orderkey")
    )


@query(
    "sort_pandas",
    """
SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
ORDER BY l_shipdate, l_orderkey, l_linenumber
""",
)
def q_sort_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The README's commented-out pandas sort-by-date variant
    (reference: README.md:236-237)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    )


@query(
    "union_all",
    """
SELECT o_orderkey, 'open' AS bucket, o_totalprice FROM orders WHERE o_orderstatus = 'O'
UNION ALL
SELECT o_orderkey, 'finished' AS bucket, o_totalprice FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT o_orderkey, 'partial' AS bucket, o_totalprice FROM orders WHERE o_orderstatus = 'P'
""",
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union of uniform-schema tagged selects (reference:
    mnt/dags/unused_pipeline_sourcecode.py:73,80). Spark unions are
    metadata-only — partitions concatenate, no shuffle."""
    o = load_table(spark, sf_dir, "orders")

    def part(status: str, tag: str) -> DataFrame:
        return o.filter(F.col("o_orderstatus") == status).select(
            "o_orderkey", F.lit(tag).alias("bucket"), "o_totalprice"
        )

    return (
        part("O", "open").unionByName(part("F", "finished")).unionByName(part("P", "partial"))
    )


# --------------------------------------------------------------------------
# §2.7 window
# --------------------------------------------------------------------------


@query(
    "window_latest_per_key",
    """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders
) WHERE rn = 1
""",
)
def q_window_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest order per customer — the reference's CDC latest-per-key
    dedup (reference: mnt/dags/unused_02retail_stage.py:109-122),
    idiomatic row_number()==1 form."""
    return window.latest_per_key(
        load_table(spark, sf_dir, "orders"), ["o_custkey"], "o_orderdate", tiebreak=["o_orderkey"]
    )


# --------------------------------------------------------------------------
# §2.8 date/string functions
# --------------------------------------------------------------------------


@query(
    "date_fmt_partition",
    """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y/%m') AS ym_path,
       strftime(o_orderdate, '%Y_%m') AS ym_shard
FROM orders
""",
)
def q_date_fmt_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp → 'YYYY/MM' S3 prefix and 'YYYY_MM' shard suffix
    (reference: mnt/dags/02datalake_to_datawarehouse.py:30,88,100;
    mnt/dags/01fetch_from_database.py:55)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy/MM").alias("ym_path"),
        F.date_format("o_orderdate", "yyyy_MM").alias("ym_shard"),
    )


@query(
    "date_iso_ds",
    """
SELECT event_id, CAST(ts AS DATE) AS ds, value
FROM events
WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-06'
""",
)
def q_date_iso_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO ``ds``/``next_ds`` day-slice parameterization (reference:
    mnt/dags/01fetch_from_database.py:52,55) — one logical day of
    events."""
    ev = load_table(spark, sf_dir, "events")
    return transform.filter_date_range(ev, "ts", "2024-01-05", "2024-01-06").select(
        "event_id", F.to_date("ts").alias("ds"), "value"
    )


@query(
    "json_extract",
    """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events
""",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed field extraction from the events.props JSON string
    ([EXT] per SURVEY.md §2.8 — the reference has no JSON surface)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


# --------------------------------------------------------------------------
# §2.9 batch analog of the tumbling daily window
# --------------------------------------------------------------------------


@query(
    "window_tumbling_daily",
    """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
""",
)
def q_window_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time window — the reference's ``@daily``
    ``[ds, next_ds)`` batch cadence made first-class (reference:
    mnt/dags/01fetch_from_database.py:42,52). Same groupBy works under
    Structured Streaming with a watermark (streaming module)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").alias("n_events"), exact_sum("value", "sum_value"))
        .select(F.col("w.start").cast("date").alias("day"), "n_events", "sum_value")
    )


# -- joins -----------------------------------------------------------------


@query(
    "join_broadcast_dim",
    """
SELECT r_name, n_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
)
def q_join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema dim join: customer ⋈ nation ⋈ region with both dims
    explicitly broadcast — zero shuffle on the fact side until the
    final aggregation."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            exact_sum("c_acctbal", "total_acctbal"),
        )
    )


@query(
    "join_shuffle_fact",
    """
SELECT o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
""",
)
def q_join_shuffle_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-fact ⋈ large-fact equi-join (orders ⋈ lineitem): both
    sides shuffle on the join key — the sort-merge/shuffled-hash
    case AQE manages. Revenue = price·(1-discount) entirely in exact
    decimal (the 2-decimal inputs are exactly representable), summed
    exactly, one final cast to double — no float-rounding divergence
    between engines."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


@query(
    "join_asof",
    """
WITH od AS (
    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        SELECT *, row_number() OVER (
            PARTITION BY o_custkey, o_orderdate
            ORDER BY o_orderkey DESC) AS rn
        FROM orders
    ) WHERE rn = 1
)
SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
       o.o_orderkey, o.o_totalprice
FROM events e
ASOF LEFT JOIN od o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
""",
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks up the newest order of the same
    key at-or-before its timestamp (merge-asof via union + sorted
    last-value carry — one shuffle, linear; operators/join_ext.py).
    Oracle is DuckDB's native ASOF JOIN."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = join_ext.dedup_right_for_asof(
        load_table(spark, sf_dir, "orders"), "o_custkey", "o_orderdate", "o_orderkey"
    )
    return join_ext.asof_join(
        ev,
        orders,
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        payload=["o_orderkey", "o_totalprice"],
        right_key="o_custkey",
    )


@query(
    "join_asof_forward",
    """
WITH od AS (
    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        SELECT *, row_number() OVER (
            PARTITION BY o_custkey, o_orderdate
            ORDER BY o_orderkey DESC) AS rn
        FROM orders
    ) WHERE rn = 1
)
SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
       o.o_orderkey, o.o_totalprice
FROM events e
ASOF LEFT JOIN od o
  ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
""",
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each event picks up the EARLIEST order of
    the same key at-or-after its timestamp (the "next upcoming"
    lookup) — same merge-asof single-shuffle carry, scanned in
    reverse. Oracle is DuckDB's native ASOF with the flipped bound."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = join_ext.dedup_right_for_asof(
        load_table(spark, sf_dir, "orders"), "o_custkey", "o_orderdate", "o_orderkey"
    )
    return join_ext.asof_join(
        ev,
        orders,
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        payload=["o_orderkey", "o_totalprice"],
        right_key="o_custkey",
        direction="forward",
    )


# -- window extensions -----------------------------------------------------


@query(
    "window_rolling_7d",
    """
WITH daily AS (
    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
           date_diff('day', DATE '1970-01-01',
                     CAST(date_trunc('day', ts) AS DATE)) AS day_num,
           SUM(CAST(value AS DECIMAL(18,2))) AS day_value
    FROM events GROUP BY 1, 2, 3
)
SELECT user_id, day,
       CAST(SUM(day_value) OVER (
           PARTITION BY user_id ORDER BY day_num
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS rolling_7d
FROM daily
""",
)
def q_window_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day sum per user: daily pre-aggregate (one shuffle)
    then a RANGE frame over day numbers — gap-correct, and the frame
    sum stays exact (decimal) so partial orders don't matter."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "user_id",
            F.to_date("ts").alias("day"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).alias("day_value")
        )
        .withColumn(
            "day_num", F.datediff("day", F.lit("1970-01-01"))
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "user_id",
        "day",
        F.sum("day_value").over(w).cast("double").alias("rolling_7d"),
    )


@query(
    "window_sliding_3d1d",
    """
SELECT CAST(date_trunc('day', ts) - o * INTERVAL '1 day' AS DATE)
           AS window_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events, (SELECT unnest(range(3)) AS o)
GROUP BY 1
""",
)
def q_window_sliding_3d1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 3-day windows advancing 1 day (each event lands
    in 3 windows). Spark's window() replicates rows window-side;
    the oracle unrolls the same 3 offsets explicitly."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "3 days", "1 day").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            exact_sum("value", "sum_value"),
        )
        .select(
            F.col("w.start").cast("date").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "window_session_1h",
    """
WITH ordered AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
           CASE WHEN CAST(ts AS TIMESTAMP)
                     - lag(CAST(ts AS TIMESTAMP)) OVER w
                     >= INTERVAL '1 hour'
                OR lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
),
sessions AS (
    SELECT user_id, ts, value,
           SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS session_id
    FROM ordered
)
SELECT user_id, MIN(ts) AS session_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM sessions GROUP BY user_id, session_id
""",
)
def q_window_session_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (1 h inactivity gap) via Spark's native
    session_window; the oracle derives identical sessions with the
    gaps-and-islands idiom (boundary: a gap of exactly 1 h starts a
    new session in both)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            exact_sum("value", "sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "window_topk_per_group",
    """
SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rnk
    FROM orders
) WHERE rnk <= 3
""",
)
def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price — rank-filter window. At
    scale this is the standard 'group top-k' (no global sort; one
    hash shuffle + per-partition heaps via WindowGroupLimit)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


@query(
    "window_lead_lag",
    """
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
       value - lag(value) OVER w AS delta_prev,
       lead(value) OVER w - value AS delta_next
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
""",
)
def q_window_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-to-event deltas (lag/lead) — deterministic
    (ts, event_id) ordering; subtraction is elementwise double."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta_prev"),
        (F.lead("value").over(w) - F.col("value")).alias("delta_next"),
    )


@query(
    "window_cumulative",
    """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS running_spend
FROM orders
""",
)
def q_window_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per key (lifetime customer spend): one shuffle by
    key, per-partition streaming frame — every prefix sum is an exact
    decimal, cast once, so engines agree row-for-row."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_spend"),
    )


@query(
    "window_ntile",
    """
SELECT o_orderkey, o_orderpriority,
       ntile(4) OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice, o_orderkey
       ) AS price_quartile
FROM orders
""",
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantile bucketing (price quartile within order
    priority) — deterministic tiebreak on o_orderkey. NTILE needs the
    whole group sorted in one partition, so it is only scale-correct
    PARTITIONed BY a real key (as here); GLOBAL quantile bucketing at
    100 TB goes through approx-quantile cutoffs + a range join
    (agg_approx_quantile) instead."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("price_quartile"),
    )


@query(
    "agg_percentile",
    """
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90,
       quantile_cont(o_totalprice, 0.99) AS p99
FROM orders GROUP BY o_orderstatus
""",
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group, ≡ DuckDB
    ``quantile_cont`` ((n-1)·p linear interpolation) — computed via
    bucket-counts + one refinement pass
    (operators.aggregate.bucket_refine_quantiles) instead of Spark's
    ``percentile()``, whose per-group full-value buffer cannot
    survive a 100 TB group. Prices go through exact cent encoding;
    interpolation divides back by 100, reconstructing the source
    doubles bit-for-bit."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("x"),
    )
    return aggregate.bucket_refine_quantiles(
        cents,
        ["o_orderstatus"],
        "x",
        {"p50": 0.5, "p90": 0.9, "p99": 0.99},
        value_divisor=100.0,
    )


# -- multi-dimensional aggregation ----------------------------------------


@query(
    "agg_rollup",
    """
SELECT r_name, n_name, COUNT(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the region→nation hierarchy (subtotals + grand
    total; one Expand + single shuffle)."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "agg_grouping_sets",
    """
SELECT c_mktsegment, n_name, COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((c_mktsegment), (n_name))
""",
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS: per-segment and per-nation counts in
    one pass (vs two scans + union)."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    j = c.join(n, c.c_nationkey == n.n_nationkey)
    j.createOrReplaceTempView("_gs_join")
    return spark.sql(
        """
        SELECT c_mktsegment, n_name, COUNT(*) AS n_customers
        FROM _gs_join
        GROUP BY GROUPING SETS ((c_mktsegment), (n_name))
        """
    )


@query(
    "agg_having",
    """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines
FROM lineitem
GROUP BY l_returnflag, l_linestatus
HAVING COUNT(*) > 1000
""",
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_lines"))
        .filter(F.col("n_lines") > 1000)
    )


@query(
    "agg_count_distinct",
    """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_orderpriority
""",
)
def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct count per group (Expand-based two-phase
    count-distinct)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


@query("agg_approx_distinct")  # sketch-based → rows-only; accuracy in tests
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct count per group — the 100 TB path where
    exact distinct's Expand shuffle is unaffordable; accuracy vs
    exact is asserted in tests/test_analytics.py."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("n_customers")
    )


@query(
    "agg_stats_multi",
    """
SELECT o_orderstatus,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
           AS avg_price,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_orderstatus
""",
)
def q_agg_stats_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/avg/count in one aggregation pass; avg as exact
    decimal-sum ÷ count (single double division)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count("*")
        ).alias("avg_price"),
        F.count("*").alias("n_orders"),
    )


# -- scale patterns: bucketing, skew salting, JSON source -----------------


@query(
    "join_bucketed_colocated",
    """
SELECT o_orderstatus, COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
""",
)
def q_join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketed tables: both facts written
    bucketed (8 buckets) + sorted on the join key, so the join runs
    WITHOUT a shuffle exchange on either side (asserted in
    tests/test_analytics.py) — the write-once/join-many idiom that
    removes the dominant cost of repeated fact-fact joins at 100 TB.
    """
    suffix = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    ot, lt = f"orders_b_{suffix}", f"lineitem_b_{suffix}"
    for src, tbl, key in (("orders", ot, "o_orderkey"), ("lineitem", lt, "l_orderkey")):
        if not spark.catalog.tableExists(tbl):
            # a previous session's managed-table files survive into a
            # fresh in-memory catalog; clear the location or CTAS fails
            loc = os.path.join(warehouse_dir(spark), tbl)
            if os.path.exists(loc):
                shutil.rmtree(loc)
            (
                load_table(spark, sf_dir, src)
                .write.bucketBy(8, key)
                .sortBy(key)
                .mode("overwrite")
                .saveAsTable(tbl)
            )
    o = spark.table(ot)
    li = spark.table(lt)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            exact_sum("l_quantity", "total_qty"),
        )
    )


@query(
    "join_salted_skew",
    """
SELECT c_nationkey, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_nationkey
""",
)
def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join: the (potentially hot-keyed) fact side gets a
    deterministic salt pmod(event_id, 8); the dim side is exploded
    across all 8 salts; the join key becomes (key, salt) so one hot
    key spreads over 8 reducers. Result is identical to the plain
    join (the oracle). AQE's skew-join split handles the same problem
    adaptively; explicit salting is the belt-and-braces form for
    known-pathological keys.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.col("event_id"), F.lit(8)).cast("int")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(7)).cast("array<int>"))
        )
    )
    return (
        ev.join(
            cust,
            (ev.user_id == cust.c_custkey) & (ev.salt == cust.salt),
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_events"),
            exact_sum("value", "sum_value"),
        )
    )


# -- set ops / global top-N / sketches ------------------------------------


@query(
    "sort_limit_topn",
    """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
)
def q_sort_limit_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100 by price: ORDER BY + LIMIT compiles to
    TakeOrderedAndProject (per-partition heaps + driver merge of 100
    rows — no global sort; plan-asserted), the only sane shape at
    100 TB."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "set_intersect",
    """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics): nations having both customers
    and suppliers."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


@query(
    "set_except",
    """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics): nations with customers but no
    suppliers."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.subtract(s)


@query(
    "set_union_distinct",
    """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def q_set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION with distinct semantics (the reference only ever uses
    UNION ALL — SURVEY §2.5)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.union(s).distinct()


@query("agg_approx_quantile")  # sketch-based → rows-only; accuracy in tests
def q_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate percentiles — the mergeable-sketch
    path for 100 TB where exact percentile's full sort-per-group is
    unaffordable; accuracy vs the exact query tested."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", 0.5, 1000).alias("p50"),
        F.percentile_approx("o_totalprice", 0.9, 1000).alias("p90"),
    )


# -- semi/anti/outer joins, pivot, cube, scalar subquery ------------------


@query(
    "join_semi",
    """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join: customers with >=1 order. Semi join
    never duplicates the left side, so no post-join distinct — the
    probe side streams through one shuffle at most."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND EXTRACT(year FROM o.o_orderdate) = 1998)
""",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left-anti join: customers with no 1998 order —
    the churn/retention query shape. The year filter pushes into the
    orders scan before the anti join shrinks its build side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == 1998
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_left_outer",
    """
SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
       CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE)
         AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
""",
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving order-less customers (n_orders=0,
    total_spent=0.0): COUNT over the nullable right key + COALESCE'd
    decimal sum match SQL outer-agg null semantics exactly."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                F.lit(0).cast("decimal(18,2)"),
            )
            .cast("double")
            .alias("total_spent"),
        )
    )


@query(
    "pivot_wide",
    """
SELECT o_orderstatus,
       COUNT(CASE WHEN EXTRACT(year FROM o_orderdate) = 1996 THEN 1 END) AS y1996,
       COUNT(CASE WHEN EXTRACT(year FROM o_orderdate) = 1997 THEN 1 END) AS y1997,
       COUNT(CASE WHEN EXTRACT(year FROM o_orderdate) = 1998 THEN 1 END) AS y1998
FROM orders
GROUP BY o_orderstatus
""",
)
def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide PIVOT (inverse of unpivot_melt): order counts by
    status × year. The explicit value list keeps it one pass — no
    extra distinct-values job, which at 100 TB would be a full scan
    before the real one."""
    o = load_table(spark, sf_dir, "orders")
    years = [1996, 1997, 1998]
    wide = (
        o.withColumn("yr", F.year("o_orderdate"))
        .groupBy("o_orderstatus")
        .pivot("yr", years)
        .count()
    )
    return wide.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(str(y)), F.lit(0)).alias(f"y{y}")
            for y in years
        ],
    )


@query(
    "agg_cube",
    """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^2 grouping combinations in one Expand + single
    shuffle (completes the rollup/grouping-sets family)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders")
    )


@query(
    "filter_scalar_subquery",
    """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > 1.5 * (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
  FROM orders
)
""",
)
def q_filter_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery filter: orders above 1.5× the mean price. The
    scalar aggregates in one pass and broadcasts as a literal into the
    scan filter; the mean is a decimal-sum / count double division so
    both engines compute the identical threshold bit-for-bit."""
    o = load_table(spark, sf_dir, "orders")
    mean = F.broadcast(
        o.agg(
            (
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                )
                / F.count("*")
            ).alias("_mean")
        )
    )
    return (
        o.crossJoin(mean)
        .filter(F.col("o_totalprice") > 1.5 * F.col("_mean"))
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "join_bloom_filtered",
    """
SELECT l_returnflag, COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
  AND o_orderdate >= TIMESTAMP '2001-06-01'
GROUP BY l_returnflag
""",
)
def q_join_bloom_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective-dim ⋈ big-fact: the filter keeps a sliver of orders,
    but a plain shuffle join still shuffles EVERY lineitem row. The
    scale fix is Spark's runtime bloom filter (
    spark.sql.optimizer.runtime.bloomFilter.enabled): the optimizer
    builds a bloom over the surviving o_orderkeys and injects
    might_contain(l_orderkey) into the lineitem scan, so ~the sliver's
    share of the fact survives to the exchange. Size thresholds keep
    it off at toy scale — tests/test_analytics.py lowers them and
    asserts the bloom appears; semantics are unchanged either way
    (the same oracle passes with and without)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.to_timestamp(F.lit("2001-06-01")))
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


@query(
    "join_range_banded",
    """
WITH bands(band, lo, hi) AS (
    VALUES ('tiny', 0.0, 25.0), ('small', 25.0, 120.0),
           ('mid', 120.0, 333.0), ('large', 333.0, 1000.0)
)
SELECT band, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band
""",
)
def q_join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-predicate) join via bin bucketing: Spark would
    execute `value >= lo AND value < hi` as a nested-loop join (O(n·m)
    row comparisons — unusable at 100 TB even with a broadcast side).
    Instead each band explodes to the fixed-width bins it overlaps and
    the fact side equi-joins on its bin, so candidate pairing is a
    hash lookup and the exact bounds filter only within-bin candidates
    — the standard bin-optimized range-join rewrite."""
    BIN = 50.0
    bands = spark.createDataFrame(
        [
            ("tiny", 0.0, 25.0),
            ("small", 25.0, 120.0),
            ("mid", 120.0, 333.0),
            ("large", 333.0, 1000.0),
        ],
        "band STRING, lo DOUBLE, hi DOUBLE",
    ).withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / BIN),
                # hi is exclusive: a band ending exactly on a bin edge
                # does not overlap the next bin
                F.floor((F.col("hi") - 1e-9) / BIN),
            )
        ),
    )
    ev = load_table(spark, sf_dir, "events").withColumn(
        "bin", F.floor(F.col("value") / BIN)
    )
    return (
        ev.join(F.broadcast(bands), "bin")
        .filter((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
        .groupBy("band")
        .agg(
            F.count("*").alias("n_events"),
            exact_sum("value", "sum_value"),
        )
    )


@query(
    "bucket_global_quantile",
    """
WITH c AS (
    SELECT quantile_cont(o_totalprice, 0.25) AS q1,
           quantile_cont(o_totalprice, 0.50) AS q2,
           quantile_cont(o_totalprice, 0.75) AS q3
    FROM orders
)
SELECT o_orderkey,
       CASE WHEN o_totalprice < q1 THEN 1
            WHEN o_totalprice < q2 THEN 2
            WHEN o_totalprice < q3 THEN 3
            ELSE 4 END AS price_quartile
FROM orders, c
""",
)
def q_bucket_global_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL quantile bucketing without a global sort (the
    scale-correct alternative to an unpartitioned NTILE, which funnels
    the table through ONE partition): compute the three quartile
    cutoffs as a broadcast 1-row scalar, then bucket with a narrow
    CASE over the scan. The cutoffs come from bucket counts + one
    refinement pass (operators.aggregate.bucket_refine_quantiles,
    keys=[]) — exact ≡ DuckDB ``quantile_cont`` bit-for-bit, with no
    stage buffering more than max(|buckets|, width) values, unlike
    ``percentile()``'s whole-table buffer."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("x")
    )
    cuts = aggregate.bucket_refine_quantiles(
        cents,
        [],
        "x",
        {"q1": 0.25, "q2": 0.50, "q3": 0.75},
        value_divisor=100.0,
    )
    return o.crossJoin(F.broadcast(cuts)).select(
        "o_orderkey",
        F.when(F.col("o_totalprice") < F.col("q1"), 1)
        .when(F.col("o_totalprice") < F.col("q2"), 2)
        .when(F.col("o_totalprice") < F.col("q3"), 3)
        .otherwise(4)
        .alias("price_quartile"),
    )


@query(
    "window_rank_suite",
    """
SELECT o_orderkey,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       percent_rank() OVER w AS prnk,
       cume_dist() OVER w AS cdist
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
""",
)
def q_window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four ranking functions in ONE window pass (rank /
    dense_rank / percent_rank / cume_dist share a single sort —
    Catalyst fuses same-spec window functions into one Window node).
    percent_rank and cume_dist are exact integer ratios, so the
    doubles hash identically across engines."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
    )


@query(
    "str_funcs_suite",
    """
SELECT c_custkey,
       upper(c_name) AS uname,
       length(c_name) AS name_len,
       lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded_key,
       replace(c_name, 'Customer#', 'C-') AS short_name,
       substr(c_name, 10) AS key_digits,
       levenshtein(c_name, 'Customer#000000000') AS edit_dist
FROM customer
""",
)
def q_str_funcs_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function coverage in one narrow map: case, length,
    pad, replace, substring, and Levenshtein edit distance — all
    JVM-side codegen'd expressions, no UDFs."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias(
            "padded_key"
        ),
        F.regexp_replace(
            "c_name", F.lit("Customer#"), F.lit("C-")
        ).alias("short_name"),
        F.substring("c_name", 10, 2_000_000).alias("key_digits"),
        F.levenshtein(F.col("c_name"), F.lit("Customer#000000000"))
        .cast("bigint")
        .alias("edit_dist"),
    )


@query(
    "date_funcs_suite",
    """
SELECT o_orderkey,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       CAST(last_day(o_orderdate) AS DATE) AS month_end,
       CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3m,
       date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since,
       CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
       CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr
FROM orders
""",
)
def q_date_funcs_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar date-function coverage in one narrow map: truncation,
    month arithmetic, day differences, day-of-week, quarter — all
    codegen'd JVM expressions. (Engines number weekdays differently:
    Spark dayofweek is 1=Sunday, DuckDB's is 0=Sunday — the oracle
    adds 1.)"""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias(
            "month_start"
        ),
        F.last_day("o_orderdate").alias("month_end"),
        F.add_months("o_orderdate", 3).alias("plus_3m"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        )
        .cast("bigint")
        .alias("days_since"),
        F.dayofweek("o_orderdate").cast("int").alias("dow"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
    )


@query(
    "agg_zscore_exact",
    """
WITH g AS (
    SELECT o_orderkey, o_orderpriority,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
    FROM orders
),
a AS (
    SELECT o_orderkey, c,
           SUM(c) OVER w AS s1,
           SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
               OVER w AS s2,
           COUNT(*) OVER w AS n
    FROM g WINDOW w AS (PARTITION BY o_orderpriority)
),
z AS (
    SELECT o_orderkey,
           (CAST(c AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
           / sqrt((CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                  / (n - 1)) AS zraw
    FROM a
)
SELECT o_orderkey, floor(zraw * 1000000 + 0.5) / 1000000 AS zscore
FROM z
""",
)
def q_agg_zscore_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization with DETERMINISTIC moments:
    stddev_samp's running/merged float accumulation differs across
    engines and partitionings, so mean and variance derive from EXACT
    power sums over integer cents: Σc stays int64, while Σc² rides
    DECIMAL(38,0) — at 10× the dev scale Σc² already exceeds int64
    (caught by an sf0.1 differential; ANSI Spark raises
    ARITHMETIC_OVERFLOW), and at any scale the decimal sum is exact.
    Wide-decimal→double lowering can differ by 1 ulp between engines
    (Spark's BigDecimal path rounds once, DuckDB's int128 path twice),
    so the final z is snapped to 6 digits with the repo's
    floor(x·1e6+0.5) contract — same rounded value on both engines on
    any partitioning. The window is key-partitioned (never global)."""
    o = load_table(spark, sf_dir, "orders")
    c = (
        F.col("o_totalprice").cast("decimal(12,2)") * 100
    ).cast("bigint")
    cd = c.cast("decimal(19,0)")
    w = Window.partitionBy("o_orderpriority")
    a = o.select(
        "o_orderkey",
        c.alias("c"),
        F.sum(c).over(w).alias("s1"),
        F.sum(cd * cd).over(w).alias("s2"),
        F.count("*").over(w).alias("n"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    zraw = (F.col("c").cast("double") - mean) / F.sqrt(var)
    return a.select(
        "o_orderkey",
        (F.floor(zraw * 1000000 + F.lit(0.5)) / 1000000).alias("zscore"),
    )


@query(
    "window_moving_avg_rows",
    """
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
       / COUNT(*) OVER w AS avg_4
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""",
)
def q_window_moving_avg_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS-frame moving average (last 4 events per user) — the
    count-based frame complements the time-based RANGE frames
    (window_rolling_7d). The mean is an explicit exact-decimal frame
    sum over an explicit frame count — engines' AVG(decimal) return
    types differ (Spark keeps decimal and truncates, DuckDB promotes
    to double), so AVG itself is never used."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        (
            F.sum(F.col("value").cast("decimal(18,2)"))
            .over(w)
            .cast("double")
            / F.count("*").over(w)
        ).alias("avg_4"),
    )


@query(
    "agg_histogram",
    """
SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS lo,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS hi
FROM orders GROUP BY 1
""",
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (50k buckets of order value): the
    bucket id is a narrow floor-division, so the whole histogram is
    one map-side-combined groupBy whose exchange carries only the
    bucket rows — the profiling primitive that replaces a sort-based
    percentile sweep when bucket edges are known."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 50000.0)
            .cast("bigint")
            .alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.min(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("lo"),
            F.max(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("hi"),
        )
    )


@query(
    "window_first_last_nth",
    """
SELECT o_orderkey,
       FIRST_VALUE(o_orderkey) OVER w AS first_key,
       LAST_VALUE(o_orderkey) OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS last_key,
       NTH_VALUE(o_orderkey, 3) OVER w AS third_key
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey
             ROWS UNBOUNDED PRECEDING)
""",
)
def q_window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value coverage with explicit
    frames — last_value over the running default frame is the classic
    footgun (it returns the CURRENT row), so the full-partition frame
    is spelled out; deterministic tiebreak ordering throughout."""
    o = load_table(spark, sf_dir, "orders")
    running = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    full = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        F.first("o_orderkey").over(running).alias("first_key"),
        F.last("o_orderkey").over(full).alias("last_key"),
        F.nth_value("o_orderkey", 3).over(running).alias("third_key"),
    )


@query(
    "agg_corr_exact",
    """
WITH g AS (
    SELECT l_returnflag,
           CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
    FROM lineitem
),
a AS (
    SELECT l_returnflag, COUNT(*) AS n,
           SUM(CAST(x AS DECIMAL(19,0))) AS sx,
           SUM(CAST(y AS DECIMAL(19,0))) AS sy,
           SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
           SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy,
           SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy
    FROM g GROUP BY 1
)
SELECT l_returnflag, n,
       floor((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             * 1000000 + 0.5) / 1000000 AS corr_qty_price
FROM a
""",
)
def q_agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation with DETERMINISTIC moments:
    ``corr()``'s float accumulation is partitioning-dependent, so all
    five power sums ride exact integer cents (Σx/Σy as DECIMAL(19,0)
    sums, Σx²/Σy²/Σxy as DECIMAL(38,0) — int64 would overflow at 10×
    dev scale, same lesson as agg_zscore_exact), combined in double
    once and snapped to 6 digits. One partial-agg shuffle on the
    3-value group key."""
    li = load_table(spark, sf_dir, "lineitem")
    x = (F.col("l_quantity").cast("decimal(12,2)") * 100).cast("bigint")
    y = (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast(
        "bigint"
    )
    xd, yd = x.cast("decimal(19,0)"), y.cast("decimal(19,0)")
    a = li.select(
        "l_returnflag", xd.alias("xd"), yd.alias("yd")
    ).groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("xd").alias("sx"),
        F.sum("yd").alias("sy"),
        F.sum(F.col("xd") * F.col("xd")).alias("sxx"),
        F.sum(F.col("yd") * F.col("yd")).alias("syy"),
        F.sum(F.col("xd") * F.col("yd")).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    raw = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return a.select(
        "l_returnflag",
        "n",
        (F.floor(raw * 1000000 + F.lit(0.5)) / 1000000).alias(
            "corr_qty_price"
        ),
    )


@query(
    "agg_winsorize",
    """
WITH c AS (
    SELECT l_returnflag,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
    FROM lineitem
),
p AS (
    SELECT l_returnflag,
           quantile_cont(x, 0.05) AS p05,
           quantile_cont(x, 0.95) AS p95
    FROM c GROUP BY 1
),
w AS (
    SELECT c.l_returnflag, c.x,
           CAST(floor(least(greatest(CAST(c.x AS DOUBLE), p.p05), p.p95)
                      + 0.5) AS BIGINT) AS xw
    FROM c JOIN p USING (l_returnflag)
)
SELECT l_returnflag, COUNT(*) AS n,
       floor(SUM(CAST(x AS DECIMAL(19,0))) / COUNT(*) / 100.0 * 1000000
             + 0.5) / 1000000 AS mean_raw,
       floor(SUM(CAST(xw AS DECIMAL(19,0))) / COUNT(*) / 100.0 * 1000000
             + 0.5) / 1000000 AS mean_winsorized
FROM w GROUP BY 1
""",
)
def q_agg_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group: clamp extended price to the exact
    interpolated [p05, p95] band (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``), snap the clamped value to integer cents, then
    average via exact DECIMAL sums — the robust-statistics guard
    against fat-tail outliers. The quantile band comes from bucket
    counts + one refinement pass
    (operators.aggregate.bucket_refine_quantiles): no stage sorts or
    buffers more than max(|buckets|, bucket_width) rows per group,
    so the shape survives a billion-row return-flag group; the clamp
    +mean pass is one map-side-combined 3-group agg with the band
    broadcast onto the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("x"),
    )
    # ONE pass over lineitem: the narrow (flag, cents) projection is
    # lineage-cut and shared by all three consumers (bucket counts,
    # refinement, clamp+mean) — previously each re-scanned the fact.
    # A value histogram is deliberately NOT the shared relation:
    # extendedprice is ~97% distinct, so the histogram would be as
    # big as the fact and its exchange dearer than the rescans.
    cents = cents.localCheckpoint(eager=False)
    p = aggregate.bucket_refine_quantiles(
        cents, ["l_returnflag"], "x", {"p05": 0.05, "p95": 0.95},
        materialize=False,
    )
    w = cents.join(F.broadcast(p), "l_returnflag").withColumn(
        "xw",
        F.floor(
            F.least(
                F.greatest(F.col("x").cast("double"), F.col("p05")),
                F.col("p95"),
            )
            + 0.5
        ).cast("bigint"),
    )
    n = F.count("*")
    return w.groupBy("l_returnflag").agg(
        n.alias("n"),
        (
            F.floor(
                F.sum(F.col("x").cast("decimal(19,0)")) / n / 100.0 * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("mean_raw"),
        (
            F.floor(
                F.sum(F.col("xw").cast("decimal(19,0)")) / n / 100.0 * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("mean_winsorized"),
    )


@query("agg_hll_sketch_rollup")  # DataSketches binary — no DuckDB analog
def q_agg_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level mergeable distinct counts: HLL sketch per
    (event_type, day), merged to monthly estimates without re-scanning
    raw events (operators/sketches.py). Error vs exact COUNT(DISTINCT)
    measured in tests + PLANS.md."""
    return sketches.hll_rollup(
        sketches.hll_daily_sketches(load_table(spark, sf_dir, "events"))
    ).orderBy("event_type", "month")


@query("agg_kll_quantile_sketch")  # DataSketches binary — no DuckDB analog
def q_agg_kll_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level mergeable quantiles: KLL sketch per (status, month),
    merged per status, p50/p90/p99 read from the merged sketch — the
    one-scan bounded-error alternative to the exact bucket-refine
    quantile path. Error measured in tests + PLANS.md."""
    return sketches.kll_quantile_rollup(load_table(spark, sf_dir, "orders"))


@query(
    "join_asof_nearest",
    """
WITH od AS (
    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        SELECT *, row_number() OVER (
            PARTITION BY o_custkey, o_orderdate
            ORDER BY o_orderkey DESC) AS rn
        FROM orders
    ) WHERE rn = 1
),
b AS (
    SELECT e.event_id, o.o_orderdate AS bt, o.o_orderkey AS bk,
           o.o_totalprice AS bp
    FROM events e
    ASOF LEFT JOIN od o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
),
f AS (
    SELECT e.event_id, o.o_orderdate AS ft, o.o_orderkey AS fk,
           o.o_totalprice AS fp
    FROM events e
    ASOF LEFT JOIN od o
      ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
)
SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
       CASE WHEN bt IS NULL THEN fk
            WHEN ft IS NULL THEN bk
            WHEN epoch_us(e.ts) - epoch_us(bt)
                 <= epoch_us(ft) - epoch_us(e.ts) THEN bk
            ELSE fk END AS o_orderkey,
       CASE WHEN bt IS NULL THEN fp
            WHEN ft IS NULL THEN bp
            WHEN epoch_us(e.ts) - epoch_us(bt)
                 <= epoch_us(ft) - epoch_us(e.ts) THEN bp
            ELSE fp END AS o_totalprice
FROM events e
LEFT JOIN b USING (event_id)
LEFT JOIN f USING (event_id)
""",
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of: each event takes the order of the same
    key CLOSEST in absolute time (ties → backward) — the
    sensor-alignment variant. ONE key shuffle: both directional
    carries are windows over the same merged relation
    (operators/join_ext.asof_join_nearest); the oracle composes two
    native DuckDB ASOF joins and picks per-row."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = join_ext.dedup_right_for_asof(
        load_table(spark, sf_dir, "orders"), "o_custkey", "o_orderdate", "o_orderkey"
    )
    return join_ext.asof_join_nearest(
        ev,
        orders,
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        payload=["o_orderkey", "o_totalprice"],
        right_key="o_custkey",
    )


@query(
    "array_funcs_suite",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (
    SELECT vec_id, v,
           list_transform(
               v, x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT)
           ) AS qv
    FROM e
)
SELECT vec_id,
       CAST(len(list_filter(v, x -> x > 0)) AS INT) AS n_pos,
       CAST(list_max(qv) AS BIGINT) AS max_q,
       CAST(list_min(qv) AS BIGINT) AS min_q,
       CAST(list_reduce(list_transform(qv, x -> abs(x)), (a, b) -> a + b)
            AS BIGINT) AS l1_q,
       CAST(qv[1] AS BIGINT) AS head1,
       CAST(qv[2] AS BIGINT) AS head2,
       CAST(qv[3] AS BIGINT) AS head3
FROM q
""",
)
def q_array_funcs_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function coverage over the embedding column
    (filter / transform / aggregate / min-max / slice), with float
    outputs carried as int64 quantizations (floor(x·2^20 + 0.5)) per
    the repo's cross-engine exactness contract — one narrow map, no
    shuffle."""
    v = F.col("v")
    qv = F.transform(
        v, lambda x: F.floor(x * F.lit(QSCALE) + F.lit(0.5)).cast("bigint")
    )
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .select("vec_id", v.alias("v"), qv.alias("qv"))
        .select(
            "vec_id",
            F.size(F.filter(F.col("v"), lambda x: x > 0))
            .cast("int")
            .alias("n_pos"),
            F.array_max("qv").alias("max_q"),
            F.array_min("qv").alias("min_q"),
            F.aggregate(
                F.transform(F.col("qv"), lambda x: F.abs(x)),
                F.lit(0).cast("bigint"),
                lambda a, b: a + b,
            ).alias("l1_q"),
            # scalar columns, not an array slice: the driver's
            # value-hasher cannot hash array cells
            F.element_at("qv", 1).alias("head1"),
            F.element_at("qv", 2).alias("head2"),
            F.element_at("qv", 3).alias("head3"),
        )
    )


# -- Exact per-group mode ---------------------------------------------------

_MODE_ORACLE = """
WITH c AS (
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
    FROM orders GROUP BY 1, 2
),
r AS (
    SELECT o_orderpriority, o_orderstatus, n,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY n DESC, o_orderstatus) AS rk
    FROM c
)
SELECT o_orderpriority, o_orderstatus AS mode_status,
       CAST(n AS BIGINT) AS n
FROM r WHERE rk = 1
"""


@query("agg_mode_exact", _MODE_ORACLE)
def q_agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group mode: the most frequent order status per
    priority class, deterministic tie-break (count DESC, value ASC) —
    the categorical summary statistic profile/imputation passes need
    that approx sketches don't give. A bare max_by would tie-break
    nondeterministically in DuckDB, so BOTH engines rank explicitly.

    Shape: one map-side-combined count shuffle to a |priorities|x
    |statuses| relation, then a WindowGroupLimit-eligible rank-1 cut
    over that tiny relation."""

    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("n"), F.asc("o_orderstatus")
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("mode_status"),
            "n",
        )
    )


# -- Weighted median ---------------------------------------------------------
# Quantity-weighted median price per return flag: the weighted-quantile
# primitive (every unit of quantity votes, not every row). All-integer
# cumulative weights over cent-quantized prices -> hash-exact.

_WMEDIAN_ORACLE = """
WITH g AS (
    SELECT l_returnflag,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                AS BIGINT) AS price_c,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wt
    FROM lineitem GROUP BY 1, 2
),
c AS (
    SELECT *,
           SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY price_c
                         ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(wt) OVER (PARTITION BY l_returnflag) AS tot
    FROM g
)
SELECT l_returnflag,
       CAST(MIN(price_c) AS DOUBLE) / 100e0 AS wmedian_price,
       CAST(MIN(tot) AS BIGINT) AS total_weight
FROM c WHERE 2 * cum >= tot
GROUP BY 1
"""


@query("agg_weighted_median", _WMEDIAN_ORACLE)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (smallest value whose cumulative weight reaches
    half the total): quantity-weighted median extended price per
    return flag → (l_returnflag, wmedian_price, total_weight). The
    weighted-quantile primitive the unweighted family (agg_percentile,
    bucket_global_quantile) can't express — every unit of quantity
    votes, not every row.

    Shape: map-side-combined (flag, cent-price) pre-aggregate FIRST —
    the windows then run over |distinct prices| rows, not |lineitem|
    (the pre-agg is what makes a per-group running sum scale-safe:
    distinct cent prices are value-bounded regardless of row count);
    both windows and the half-total cut ride ONE flag Exchange.
    All-integer cumulative weights → exact."""
    li = load_table(spark, sf_dir, "lineitem")

    g = li.groupBy(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("price_c"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).alias("wt"))
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("l_returnflag")
    c = g.select(
        "l_returnflag",
        "price_c",
        F.sum("wt").over(wcum).alias("cum"),
        F.sum("wt").over(wtot).alias("tot"),
    )
    return (
        c.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            (F.min("price_c").cast("double") / F.lit(100.0)).alias(
                "wmedian_price"
            ),
            F.min("tot").cast("long").alias("total_weight"),
        )
    )


# -- Count-Min sketch --------------------------------------------------------
# The mergeable frequency sketch (Cormode & Muthukrishnan '05): d=4
# md5-derived hash rows x w=256 counters. Deterministic hashing makes
# the whole sketch — and its estimates — hash-checkable cross-engine,
# unlike the HLL/KLL family (library-internal randomness -> rows-only).

_CMS_ORACLE = rf"""
WITH toks AS (
    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
    FROM documents
),
exact AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_ct FROM toks GROUP BY 1
),
cells AS (
    SELECT exact_ct, r,
           ('0x' || substr(md5(tok || '#' || CAST(r AS VARCHAR)), 1, 15)
           )::BIGINT % {CMS_W} AS bucket
    FROM exact, unnest([0, 1, 2, 3]) AS t(r)
),
sketch AS (
    SELECT r, bucket, CAST(SUM(exact_ct) AS BIGINT) AS counter
    FROM cells GROUP BY 1, 2
),
probes AS (
    SELECT tok, exact_ct FROM exact ORDER BY exact_ct DESC, tok LIMIT 20
),
pcells AS (
    SELECT tok, exact_ct, r,
           ('0x' || substr(md5(tok || '#' || CAST(r AS VARCHAR)), 1, 15)
           )::BIGINT % {CMS_W} AS bucket
    FROM probes, unnest([0, 1, 2, 3]) AS t(r)
)
SELECT p.tok AS token, p.exact_ct,
       CAST(MIN(s.counter) AS BIGINT) AS cms_est
FROM pcells p JOIN sketch s ON s.r = p.r AND s.bucket = p.bucket
GROUP BY 1, 2
"""


@query("sketch_count_min_freq", _CMS_ORACLE)
def q_sketch_count_min_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation: build a d=4 x w=256 CMS
    over all token occurrences, then estimate the top-20 tokens'
    frequencies and report estimate vs truth → (token, exact_ct,
    cms_est), cms_est >= exact_ct by construction (property-tested).
    The mergeable point-frequency sketch the sketch family lacked
    (HLL: distinct counts; KLL: quantiles) — and, with md5-derived
    hashing, the only one whose estimates are deterministic enough to
    hash-check cross-engine rather than gate on error bounds.

    Scale shape: counters build from the (token, count) PRE-AGGREGATE
    (map-side combined), so the d·w-cell update shuffle carries at
    most d·w partial cells per partition regardless of corpus size;
    two-level rollup (shard sketches -> global sketch) is counter
    addition, the no-raw-rescan re-aggregation story shared with
    stream_hll_rollup. The probe joins a 4·|probes|-cell relation
    against the 1 024-cell sketch — both broadcast-size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TX.tokens("text")).alias("tok"))
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_ct"))
    cells = exact.select(
        "exact_ct",
        F.posexplode(
            F.array(*[cms_bucket(r) for r in range(CMS_D)])
        ).alias("r", "bucket"),
    )
    sketch = cells.groupBy("r", "bucket").agg(
        F.sum("exact_ct").alias("counter")
    )
    probes = exact.orderBy(F.desc("exact_ct"), F.asc("tok")).limit(20)
    pcells = probes.select(
        F.col("tok").alias("token"),
        "exact_ct",
        F.posexplode(
            F.array(*[cms_bucket(r) for r in range(CMS_D)])
        ).alias("r", "bucket"),
    )
    return (
        pcells.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("token", "exact_ct")
        .agg(F.min("counter").cast("long").alias("cms_est"))
    )


# -- Bloom membership sketch -------------------------------------------------
# The third deterministic sketch (CMS: point frequency; HLL: distinct;
# Bloom: membership): m=65536 bits, k=3 md5-derived hash functions over
# the set of customers who ever placed a 1-URGENT order (a selective subset; every customer has
# some order); probe = ALL customers. One summary row with the
# MEASURED false-positive rate.
#
# Sizing: r9 shipped m=4096 as a deliberate undersizing demo, but at
# bench scale (sf0.1, ~13k members) that filter saturates to FPR 1.0 —
# a useless operator, not a documentation point. m=2^16 keeps the
# filter working across the test scales (theory FPR ~9% at 13k
# members, ~0.02% at 1.3k) while still being 8 KiB — the measured-vs-
# theory comparison in PLANS.md is the honest capacity story.

_BLOOM_M = 65536


_BLOOM_K = 3


_BLOOM_ORACLE = f"""
WITH members AS (SELECT DISTINCT o_custkey AS k FROM orders
              WHERE o_orderpriority = '1-URGENT'),
bits AS (
    SELECT DISTINCT
           ('0x' || substr(md5(CAST(k AS VARCHAR) || '#'
                               || CAST(h AS VARCHAR)), 1, 15)
           )::BIGINT % {_BLOOM_M} AS bit
    FROM members, unnest([0, 1, 2]) AS t(h)
),
probes AS (
    SELECT c.c_custkey AS k,
           CASE WHEN m.k IS NULL THEN 0 ELSE 1 END AS actual
    FROM customer c LEFT JOIN members m ON m.k = c.c_custkey
),
pbits AS (
    SELECT p.k, p.actual,
           ('0x' || substr(md5(CAST(p.k AS VARCHAR) || '#'
                               || CAST(h AS VARCHAR)), 1, 15)
           )::BIGINT % {_BLOOM_M} AS bit
    FROM probes p, unnest([0, 1, 2]) AS t(h)
),
verdict AS (
    SELECT pb.k, pb.actual,
           CASE WHEN COUNT(b.bit) = {_BLOOM_K} THEN 1 ELSE 0 END AS hit
    FROM pbits pb LEFT JOIN bits b ON b.bit = pb.bit
    GROUP BY 1, 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(actual) AS BIGINT) AS n_members,
       CAST(SUM(hit) AS BIGINT) AS n_bloom_positive,
       CAST(SUM(CASE WHEN hit = 1 AND actual = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_positive,
       CAST(SUM(CASE WHEN hit = 1 AND actual = 0 THEN 1 ELSE 0 END)
            AS DOUBLE)
           / CAST(COUNT(*) - SUM(actual) AS DOUBLE) AS fpr
FROM verdict
"""


def _bloom_bit(key: "F.Column", h: int) -> "F.Column":
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(key.cast("string"), F.lit(f"#{h}"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % F.lit(_BLOOM_M)
    )


@query("sketch_bloom_membership", _BLOOM_ORACLE)
def q_sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership with MEASURED false-positive rate:
    build an m=65536-bit / k=3 md5-hashed bloom over customers with an
    URGENT-priority order (a proper subset — every customer has SOME
    order, so membership must be selective for FPR to be defined),
    probe every customer, compare the sketch's verdict to
    ground truth → one row (n_probes, n_members, n_bloom_positive,
    n_false_positive, fpr). Completes the deterministic sketch trio
    (CMS: point frequency, Bloom: membership, vs the library HLL/KLL
    which are rows-only) — and makes the bit array itself a
    first-class RELATION of set bits, which is exactly the shape a
    join-pruning filter pushes to a scan (join_bloom_filtered uses
    Spark's built-in; this one is inspectable and mergeable by bit
    union).

    Scale shape: the set-bit relation is ≤ m rows REGARDLESS of
    member count — it broadcasts; probes explode to k rows each and
    the verdict is a map-side-combinable count-of-hits per key; no
    shuffle ever carries more than k rows per probe. The measured FPR
    vs the (1-e^(-kn/m))^k theory line is published in the PLANS.md
    accuracy table; at 100 TB, m scales with the member estimate (the
    bit relation stays broadcast-size into the millions of bits)."""
    members = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    bits = (
        members.select(
            F.explode(
                F.array(
                    *[_bloom_bit(F.col("k"), h) for h in range(_BLOOM_K)]
                )
            ).alias("bit")
        )
        .distinct()
        .withColumn("set_", F.lit(1))
    )
    probes = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("k"))
        .join(
            members.withColumn("actual", F.lit(1)),
            "k",
            "left",
        )
        .select("k", F.coalesce("actual", F.lit(0)).alias("actual"))
    )
    pbits = probes.select(
        "k",
        "actual",
        F.explode(
            F.array(*[_bloom_bit(F.col("k"), h) for h in range(_BLOOM_K)])
        ).alias("bit"),
    )
    verdict = (
        pbits.join(F.broadcast(bits), "bit", "left")
        .groupBy("k", "actual")
        .agg(
            (F.count("set_") == _BLOOM_K).cast("int").alias("hit")
        )
    )
    return verdict.agg(
        F.count("*").cast("long").alias("n_probes"),
        F.sum("actual").cast("long").alias("n_members"),
        F.sum("hit").cast("long").alias("n_bloom_positive"),
        F.sum(
            F.when((F.col("hit") == 1) & (F.col("actual") == 0), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_false_positive"),
        (
            F.sum(
                F.when(
                    (F.col("hit") == 1) & (F.col("actual") == 0), 1
                ).otherwise(0)
            ).cast("double")
            / (F.count("*") - F.sum("actual")).cast("double")
        ).alias("fpr"),
    )


# -- Deterministic bootstrap CI ---------------------------------------------
# Poisson bootstrap (Chamandy et al., Google 2012) made hash-exact:
# resample weights are Binomial(4, 1/4) read off four 2-bit fields of
# ONE md5 per (row, replicate) — E[w] = 1 like Poisson(1), no RNG, so
# the whole CI is value-hash-checkable. Per-replicate sums are exact
# int64; the only doubles are 100 independent divisions and two
# order-statistic picks (no float summation anywhere).

_BOOT_B = 100


_BOOT_CI_ORACLE = f"""
WITH m AS (
    SELECT event_id,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events WHERE event_type = 'purchase'
),
x AS (
    SELECT b,
           ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#'
                               || CAST(b AS VARCHAR)), 1, 8)
           )::BIGINT AS h,
           c
    FROM m, unnest(range({_BOOT_B})) AS t(b)
),
w AS (
    SELECT b, c,
           CAST((h >> 0) & 3 = 0 AS BIGINT)
           + CAST((h >> 2) & 3 = 0 AS BIGINT)
           + CAST((h >> 4) & 3 = 0 AS BIGINT)
           + CAST((h >> 6) & 3 = 0 AS BIGINT) AS wt
    FROM x
),
rep AS (
    SELECT b, CAST(SUM(wt * c) AS BIGINT) AS swc,
           CAST(SUM(wt) AS BIGINT) AS sw
    FROM w GROUP BY 1
),
means AS (
    SELECT CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE) / 100e0 AS mb,
           row_number() OVER (
               ORDER BY CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE)) AS rn
    FROM rep
),
pt AS (
    SELECT CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100e0
               AS mean_value
    FROM m
)
SELECT pt.mean_value,
       (SELECT mb FROM means WHERE rn = 3) AS ci_lo,
       (SELECT mb FROM means WHERE rn = 98) AS ci_hi
FROM pt
"""


@query("agg_bootstrap_ci_mean", _BOOT_CI_ORACLE)
def q_agg_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap 95% CI for mean purchase value
    → (mean_value, ci_lo, ci_hi). Error bars with NO distributional
    assumption — the Welch/CUPED family's normal-theory complement —
    and, because resample weights are Binomial(4, 1/4) read off four
    2-bit fields of one md5 per (row, replicate), the whole interval
    is hash-exact where an RNG bootstrap couldn't even be
    row-checked. CI bounds are nearest-rank order statistics of the
    100 replicate means (picks, not float sums).

    Shape: ONE pass over the fact — each row fans out to B=100
    (replicate, weight) terms that partial-aggregate map-side into
    exactly B groups, so the shuffle carries ≤ B rows per partition
    at ANY scale; the B-row replicate relation sorts in one tiny
    task. Bootstrap's honest cost is the B× compute in the fan-out
    stage, all inside whole-stage codegen."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    x = m.select(
        "c",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        F.col("event_id"),
    ).select(
        "b",
        "c",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("event_id").cast("string"),
                        F.lit("#"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    wt = sum(
        (F.shiftright(F.col("h"), 2 * j).bitwiseAND(3) == 0).cast(
            "bigint"
        )
        for j in range(4)
    )
    rep = (
        x.select("b", "c", wt.alias("wt"))
        .groupBy("b")
        .agg(
            F.sum(F.col("wt") * F.col("c")).cast("bigint").alias("swc"),
            F.sum("wt").cast("bigint").alias("sw"),
        )
    )

    mb = F.col("swc").cast("double") / F.col("sw").cast("double")
    means = rep.select(
        (mb / F.lit(100.0)).alias("mb"),
        F.row_number().over(Window.orderBy(mb)).alias("rn"),
    )
    pt = m.agg(
        (
            F.sum("c").cast("double")
            / F.count("*").cast("double")
            / F.lit(100.0)
        ).alias("mean_value")
    )
    lo = means.filter(F.col("rn") == 3).select(
        F.col("mb").alias("ci_lo")
    )
    hi = means.filter(F.col("rn") == 98).select(
        F.col("mb").alias("ci_hi")
    )
    return pt.crossJoin(F.broadcast(lo)).crossJoin(F.broadcast(hi))


# -- As-of join with tolerance ------------------------------------------------
# pandas merge_asof's third knob after direction and key: a match
# older than `tolerance` is no match (a quote from last year should
# not price today's trade). Same single-shuffle merge-asof carry —
# the right timestamp rides the carried payload struct and a final
# narrow CASE nulls out stale matches, so tolerance costs zero extra
# exchanges. DuckDB has no native tolerance; the oracle applies the
# identical post-filter over its ASOF JOIN.
#
# Round-12 rework per the r11 advisory: the original shape (events →
# orders) had an unfalsifiable tolerance branch — events.ts is all
# Jan-2024 while o_orderdate ends 1998, so EVERY raw match was stale
# and a query that unconditionally nulls the payload would have
# passed. Now each purchase event attributes to the same user's
# newest at-or-before click within 24 h: at sf0.01 the raw carry
# matches 1838 of 1981 purchases and the tolerance keeps 683 / nulls
# 1155 — both branches populated, and the pytest asserts both.

_ASOF_TOL_HOURS = 24


_ASOF_TOL_ORACLE = f"""
WITH p AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), c AS (
    SELECT user_id, ts, event_id, value FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click'
    ) WHERE rn = 1
)
SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
       CASE WHEN c.ts >= p.ts - INTERVAL {_ASOF_TOL_HOURS} HOUR
            THEN c.event_id END AS click_event_id,
       CASE WHEN c.ts >= p.ts - INTERVAL {_ASOF_TOL_HOURS} HOUR
            THEN c.value END AS click_value
FROM p
ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


_ASOF_TOL_DOC = f"""As-of join with a {_ASOF_TOL_HOURS}-hour
    tolerance: each purchase event picks up the same user's newest
    at-or-before click ONLY if that click is within
    {_ASOF_TOL_HOURS} h — older matches null out (pandas
    merge_asof's tolerance semantics; last week's click does not get
    attribution for today's purchase).

    Scale shape: identical to join_asof — ONE key shuffle for the
    union + sorted last-value carry — because the right timestamp
    rides the carried payload struct and the tolerance check is a
    final narrow CASE; no second join, no extra exchange. The oracle
    applies the same post-filter over DuckDB's native ASOF JOIN
    (which has no tolerance knob)."""


@query("join_asof_tolerance", _ASOF_TOL_ORACLE)
def q_join_asof_tolerance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = join_ext.dedup_right_for_asof(
        ev.filter(F.col("event_type") == "click").select(
            "user_id",
            "ts",
            F.col("event_id").alias("click_event_id"),
            F.col("value").alias("click_value"),
        ),
        "user_id",
        "ts",
        "click_event_id",
    )
    j = join_ext.asof_join(
        purchases,
        clicks.withColumn("click_ts", F.col("ts")),
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload=["click_event_id", "click_value", "click_ts"],
    )
    fresh = F.col("click_ts") >= F.col("ts") - F.expr(
        f"interval {_ASOF_TOL_HOURS} hours"
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.when(fresh, F.col("click_event_id")).alias("click_event_id"),
        F.when(fresh, F.col("click_value")).alias("click_value"),
    )


q_join_asof_tolerance.__doc__ = _ASOF_TOL_DOC
