"""[EXT] Classic TPC-H-shaped analytical queries over the synthetic
warehouse tables — the canonical multi-join / wide-aggregate workload a
warehouse engine must run well. The reference repo has no multi-join
reporting queries (its analytics stop at single-table GROUP BY,
mnt/dags/02datalake_to_datawarehouse.py:60-112); these are the natural
widening, and each is a plan-shape benchmark:

- ``tpch_q1_pricing_summary``: full-scan wide aggregate — the map-side
  partial-agg / whole-stage-codegen stress test. One shuffle of 4
  grouped rows; everything else is codegen over the scan.
- ``tpch_q3_shipping_priority``: selective dim filter + 2 fact joins +
  global top-N — TakeOrderedAndProject, never a global sort.
- ``tpch_q5_local_supplier``: 6-way star join with a co-location
  predicate (customer nation == supplier nation) — broadcast the
  dim chain, shuffle only the two facts.

Exactness: all money math in exact DECIMAL on both engines —
price DECIMAL(12,2), discount/tax DECIMAL(4,2), so the 3-factor charge
term stays inside DECIMAL(38) width on Spark AND DuckDB (a (18,2)³
product would overflow DuckDB's 38-digit cap); one final cast to
double. Averages are decimal-sum / count in one double division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import query


def _dec_price(col: str) -> F.Column:
    return F.col(col).cast("decimal(12,2)")


def _dec_rate(col: str) -> F.Column:
    """0.xx rate (discount / tax) as exact 2-decimal."""
    return F.col(col).cast("decimal(4,2)")


_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
           AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))
                * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
           AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
           AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
           / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*)
           AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-08-06'
GROUP BY l_returnflag, l_linestatus
"""


@query("tpch_q1_pricing_summary", _Q1_ORACLE)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: pricing summary report. Single scan, shipdate
    predicate pushed to parquet, 8 aggregates over ~4 groups — the
    shuffle carries only the grouped partials (map-side combine), so
    wall time is the codegen'd scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("2001-08-06"))
    )
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = _dec_price("l_extendedprice")
    disc_f = F.lit(1) - _dec_rate("l_discount")
    charge_f = F.lit(1) + _dec_rate("l_tax")
    cnt = F.count("*")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * disc_f).cast("double").alias("sum_disc_price"),
            F.sum(price * disc_f * charge_f).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / cnt).alias("avg_qty"),
            (F.sum(price).cast("double") / cnt).alias("avg_price"),
            (F.sum(_dec_rate("l_discount")).cast("double") / cnt).alias(
                "avg_disc"
            ),
            cnt.alias("count_order"),
        )
    )


_Q3_ORACLE = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS revenue,
       o_orderdate
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@query("tpch_q3_shipping_priority", _Q3_ORACLE)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped orders by revenue for one
    market segment. Segment filter prunes customer before the join;
    the global top-10 is ``orderBy().limit(10)`` →
    TakeOrderedAndProject (per-partition heap + driver merge of 10-row
    heads), never a single-partition sort. l_orderkey tiebreak makes
    the cut deterministic across engines."""
    cutoff = F.to_timestamp(F.lit("1998-06-01"))
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = _dec_price("l_extendedprice") * (F.lit(1) - _dec_rate("l_discount"))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


_Q5_ORACLE = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


@query("tpch_q5_local_supplier", _Q5_ORACLE)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where the supplier is in the
    customer's own nation. 6-way join: the two facts (orders ⋈
    lineitem) shuffle on orderkey; supplier/nation/region are
    broadcast (supplier is dim-sized — at extreme scale swap to a
    shuffled join on l_suppkey and AQE will do so automatically once
    it exceeds the broadcast threshold). The co-location predicate
    (c_nationkey = s_nationkey) rides the supplier broadcast join as
    an extra equi-condition — no extra shuffle."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    rev = _dec_price("l_extendedprice") * (F.lit(1) - _dec_rate("l_discount"))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


def _rev() -> F.Column:
    """The canonical TPC-H revenue term, exact decimal."""
    return _dec_price("l_extendedprice") * (F.lit(1) - _dec_rate("l_discount"))


_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (1 - CAST(l_discount AS DECIMAL(4,2)))"
)


_Q6_ORACLE = f"""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("tpch_q6_forecast_revenue", _Q6_ORACLE)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: forecast-revenue-change. Pure filter+aggregate:
    every predicate (date range, discount band, quantity cap) reaches
    the parquet scan as a pushed filter, the single global sum is a
    map-side partial — the cheapest possible plan, and the classic
    predicate-pushdown litmus test."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(_dec_price("l_extendedprice") * _dec_rate("l_discount"))
        .cast("double")
        .alias("revenue")
    )


_Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o_orderpriority
"""


@query("tpch_q4_order_priority", _Q4_ORACLE)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority checking. The testdata has no
    commit/receipt dates, so "late order" is adapted to: at least one
    line shipped >90 days after the order date. The EXISTS compiles to
    a LEFT SEMI join on orderkey with the lateness inequality riding
    the same join — one shuffle, no count-then-filter."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_Q7_ORACLE = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
"""


@query("tpch_q7_volume_shipping", _Q7_ORACLE)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    year. The nation table joins TWICE (supplier side and customer
    side) — both broadcast — and the pair predicate is applied after
    both are attached; facts shuffle once on orderkey."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = load_table(spark, sf_dir, "nation")
    n1 = F.broadcast(n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ))
    n2 = F.broadcast(n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ))
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        s.join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


_Q10_ORACLE = f"""
SELECT c_custkey, c_name,
       CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-10-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("tpch_q10_returned_items", _Q10_ORACLE)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by lost revenue (returned
    items) in a quarter. Facts shuffle on orderkey, nation broadcasts,
    the top-20 is TakeOrderedAndProject with a custkey tiebreak."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-10-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_Q13_ORACLE = """
WITH c_orders AS (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer
    LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM c_orders
GROUP BY c_count
"""


@query("tpch_q13_order_counts", _Q13_ORACLE)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders per customer (the
    original's comment-pattern exclusion is adapted to a priority
    exclusion — same left-outer-with-residual-predicate plan).
    COUNT(o_orderkey) counts matches only, so never-ordered customers
    land in the c_count=0 bucket; the second aggregate is over one row
    per customer."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


_Q14_ORACLE = f"""
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                             THEN {_REV_SQL} ELSE 0 END) AS DOUBLE)
             / CAST(SUM({_REV_SQL}) AS DOUBLE) AS promo_revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate < TIMESTAMP '1997-10-01'
"""


@query("tpch_q14_promo_revenue", _Q14_ORACLE)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one month. part
    broadcasts into the filtered lineitem scan; both conditional and
    total sums ride ONE aggregate (no second pass); the ratio is a
    single double division of two exact decimal sums."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-09-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-10-01")))
    )
    p = F.broadcast(load_table(spark, sf_dir, "part"))
    agg = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0))
            ).alias("_promo"),
            F.sum(_rev()).alias("_total"),
        )
    )
    return agg.select(
        (
            F.lit(100.0)
            * F.col("_promo").cast("double")
            / F.col("_total").cast("double")
        ).alias("promo_revenue")
    )


_Q18_ORACLE = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@query("tpch_q18_large_orders", _Q18_ORACLE)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders (total quantity > 300).
    The HAVING subquery is a pre-aggregated key list semi-joined into
    the fact — at scale both the pre-agg and the main agg shuffle on
    the SAME key (orderkey), so AQE can reuse the exchange; customer
    broadcasts; top-100 is TakeOrderedAndProject."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 300)
        .select(F.col("l_orderkey").alias("_bigkey"))
    )
    return (
        o.join(big, F.col("o_orderkey") == F.col("_bigkey"), "left_semi")
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_qty")
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


_Q19_ORACLE = f"""
SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


@query("tpch_q19_discounted_revenue", _Q19_ORACLE)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from three OR'd brand/size/quantity
    bands (shipmode/instruction predicates don't exist in the
    testdata and are dropped). The disjunction spans both tables so it
    can only apply post-join — but each side's single-table prefilter
    (quantity ∈ [1,30], the brand list) is implied by the OR and Spark
    pushes the partial predicates to both scans; part broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(load_table(spark, sf_dir, "part"))
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(band)
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


_Q22_ORACLE = """
WITH avg_bal AS (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
           / COUNT(*) AS ab
    FROM customer WHERE c_acctbal > 0.0
)
SELECT c_mktsegment,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > ab
  AND NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '1999-01-01'
  )
GROUP BY c_mktsegment
"""


@query("tpch_q22_sales_opportunity", _Q22_ORACLE)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich customers gone quiet (no phone prefixes
    in the testdata, so grouping is by market segment and "inactive"
    means no order since 1999). The average balance is a broadcast
    1-row scalar (exact decimal sum / count, one double division, so
    both engines compare against bit-identical thresholds); inactivity
    is an ANTI join against the date-filtered orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.to_timestamp(F.lit("1999-01-01"))
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double")
                / F.count("*")
            ).alias("ab")
        )
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


_Q8_ORACLE = f"""
WITH vol AS (
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           {_REV_SQL} AS volume,
           n2.n_name AS supp_nation
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region ON n1.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
)
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                     ELSE 0 END) AS DOUBLE)
       / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM vol GROUP BY o_year
"""


@query("tpch_q8_market_share", _Q8_ORACLE)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's market share of a part type in a
    region, by year. Nation joins twice (customer-region gate,
    supplier tag); conditional and total volume share ONE aggregate;
    the share is a single double division of exact decimal sums."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    c = load_table(spark, sf_dir, "customer")
    p = F.broadcast(
        load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    )
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = load_table(spark, sf_dir, "nation")
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    n1 = F.broadcast(
        n.join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "AMERICA")
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    n2 = F.broadcast(
        n.select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    vol = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("cn_key"), "left_semi")
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n2, F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            _rev().alias("volume"),
            "supp_nation",
        )
    )
    agg = vol.groupBy("o_year").agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_3", F.col("volume"))
            .otherwise(F.lit(0))
        ).alias("_n"),
        F.sum("volume").alias("_d"),
    )
    return agg.select(
        "o_year",
        (F.col("_n").cast("double") / F.col("_d").cast("double")).alias(
            "mkt_share"
        ),
    )


_Q15_ORACLE = f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           SUM({_REV_SQL}) AS total_rev
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1997-04-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
"""


@query("tpch_q15_top_supplier", _Q15_ORACLE)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the quarter's maximum
    revenue. The max is a broadcast scalar compared in EXACT DECIMAL
    (ties survive identically on both engines); only the final output
    lowers to double."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-04-01")))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev()).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .join(s, F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


_Q17_ORACLE = """
WITH pavg AS (
    SELECT l_partkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
           / COUNT(*) AS avg_qty
    FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
       / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN pavg ON pavg.l_partkey = part.p_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < 0.2 * avg_qty
"""


@query("tpch_q17_small_qty_revenue", _Q17_ORACLE)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small orders — the correlated
    per-part average subquery decorrelated into a groupBy + join on
    partkey (the standard rewrite; both aggs share the partkey
    shuffle). The average is an exact-decimal-sum / count double, so
    the 0.2× threshold is bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    pavg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double")
            / F.count("*")
        ).alias("avg_qty")
    )
    p = F.broadcast(
        load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(pavg, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (
                F.sum(_dec_price("l_extendedprice")).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


_Q21_ORACLE = """
WITH lo AS (
    SELECT l_orderkey, l_suppkey,
           (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
),
stats AS (
    SELECT l_orderkey,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp
    FROM lo GROUP BY l_orderkey
)
SELECT s_name, COUNT(*) AS numwait
FROM lo
JOIN stats USING (l_orderkey)
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE late AND n_supp >= 2 AND n_late_supp = 1 AND n_name = 'NATION_1'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


@query("tpch_q21_waiting_supplier", _Q21_ORACLE)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who alone held up multi-supplier
    orders ("late" adapted to shipped >90 days after order date — the
    testdata has no commit/receipt dates). The EXISTS / NOT EXISTS
    pair decorrelates into ONE per-order distinct-supplier aggregate
    (n_supp ≥ 2 ∧ n_late_supp = 1 ⇔ another supplier exists and no
    OTHER supplier is late, given the probe line is late) — both aggs
    and the probe share the orderkey shuffle."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    lo = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("late"),
    )
    stats = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = F.broadcast(
        load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    )
    return (
        lo.filter(F.col("late"))
        .join(stats, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


_Q12_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
"""


@query("tpch_q12_priority_class", _Q12_ORACLE)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: late lines classified by order priority (the
    original's ship-mode dimension doesn't exist in the testdata —
    return flag stands in). Both CASE-sums ride ONE aggregate; the
    lateness predicate joins fact to fact on orderkey and the date
    band pushes to the lineitem scan."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q2 / Q9 / Q11 / Q16 / Q20 — the five TPC-H shapes that need PARTSUPP.
# The testdata has no partsupp table, so all five run against a
# DETERMINISTICALLY DERIVED part-supplier relation: one map-side-combined
# groupBy of lineitem on (l_partkey, l_suppkey). To keep every oracle
# hash-exact, the derived measures live in INTEGER CENT space:
#   ps_availqty_c   = SUM(FLOOR(l_quantity * 100))        [centi-units]
#   ps_supplycost_c = MIN(FLOOR(l_extendedprice / l_quantity * 100))
#                                                         [cents/unit]
# FLOOR over the same IEEE-double expression is bit-identical on Spark
# and DuckDB (no engine-specific decimal rounding rule in the loop —
# cast-double→decimal HALF_UP vs half-even diverges on the binary
# fractions k/2^n whose decimal expansion ends in 5), and every
# downstream sum/compare is exact int64/decimal; dollars appear only as
# ONE final double division per output column. At 100 TB the derivation
# is one shuffle on the join key the queries themselves need — in
# production a bucketed materialized view computed once for all five.
# ---------------------------------------------------------------------------

_PARTSUPP_SQL = """
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           SUM(CAST(FLOOR(l_quantity * 100.0) AS BIGINT)) AS ps_availqty_c,
           MIN(CAST(FLOOR(l_extendedprice / l_quantity * 100.0) AS BIGINT))
               AS ps_supplycost_c
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp in exact cent space (see block comment)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.sum(F.floor(F.col("l_quantity") * F.lit(100.0))).alias(
            "ps_availqty_c"
        ),
        F.min(
            F.floor(
                F.col("l_extendedprice") / F.col("l_quantity") * F.lit(100.0)
            )
        ).alias("ps_supplycost_c"),
    )


_Q2_ORACLE = f"""
WITH partsupp AS ({_PARTSUPP_SQL}),
cand AS (
    SELECT p_partkey, s_name, n_name, s_acctbal, ps_supplycost_c
    FROM partsupp
    JOIN part ON p_partkey = ps_partkey
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE p_size IN (5, 15, 25, 45) AND p_type = 'LARGE'
      AND r_name = 'EUROPE'
),
mins AS (
    SELECT p_partkey AS mk, MIN(ps_supplycost_c) AS min_cost_c
    FROM cand GROUP BY p_partkey
)
SELECT s_acctbal, s_name, n_name, p_partkey,
       CAST(ps_supplycost_c AS DOUBLE) / 100.0 AS ps_supplycost
FROM cand JOIN mins ON p_partkey = mk AND ps_supplycost_c = min_cost_c
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@query("tpch_q2_min_cost_supplier", _Q2_ORACLE)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier per part for given sizes
    and type in a region (derived partsupp — see block comment). The
    correlated MIN subquery decorrelates into a groupBy over the SAME
    filtered candidate relation + an equi-join on (partkey, min_cost)
    — the candidate set is tiny after the broadcast part filter, so
    the min-join is broadcast too. Min/equality on exact cents; ties
    keep ALL cheapest suppliers (TPC-H semantics); the 4-column sort
    is total, so LIMIT 100 cuts deterministically."""
    ps = _partsupp(spark, sf_dir)
    p = F.broadcast(
        load_table(spark, sf_dir, "part").filter(
            F.col("p_size").isin(5, 15, 25, 45)
            & (F.col("p_type") == "LARGE")
        )
    )
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    )
    cand = (
        ps.join(p, F.col("p_partkey") == F.col("ps_partkey"))
        .join(s, F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"), "left_semi")
        .select(
            "p_partkey", "s_name", "n_name", "s_acctbal", "ps_supplycost_c"
        )
    )
    mins = cand.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("ps_supplycost_c").alias("min_cost_c")
    )
    return (
        cand.join(
            F.broadcast(mins),
            (F.col("p_partkey") == F.col("mk"))
            & (F.col("ps_supplycost_c") == F.col("min_cost_c")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            (F.col("ps_supplycost_c").cast("double") / F.lit(100.0)).alias(
                "ps_supplycost"
            ),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


_Q9_ORACLE = f"""
WITH partsupp AS ({_PARTSUPP_SQL})
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
       - CAST(SUM(CAST(ps_supplycost_c AS DECIMAL(18,0))
                  * CAST(FLOOR(l_quantity * 100.0) AS DECIMAL(10,0)))
              AS DOUBLE) / 10000.0
           AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)
ORDER BY nation, o_year DESC
"""


@query("tpch_q9_product_profit", _Q9_ORACLE)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on 'red' product lines by supplier
    nation and order year. Profit = exact-decimal revenue sum minus an
    exact cent×centi-unit cost sum (both the per-row product AND the
    total stay decimal, so neither can wrap int64 at 100 TB); dollars
    materialize in ONE final double subtraction per group. The part-name filter broadcasts as a
    semi-join that prunes lineitem before any shuffle; derived
    partsupp joins on the same (partkey, suppkey) key it was built on;
    orders joins on the orderkey shuffle; supplier/nation broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(
        load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    )
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    ps = _partsupp(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders")
    rev = _dec_price("l_extendedprice") * (F.lit(1) - _dec_rate("l_discount"))
    # Cast BOTH operands to decimal BEFORE the multiply: an int64
    # product would wrap silently (ANSI off) once cents × centi-units
    # cross 2^63 at extreme scale; decimal(18,0)×decimal(10,0) widens
    # to an exact decimal(29,0) per row, and the sum stays decimal.
    cost_e4 = F.col("ps_supplycost_c").cast("decimal(18,0)") * F.floor(
        F.col("l_quantity") * F.lit(100.0)
    ).cast("decimal(10,0)")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .join(
            ps,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(
            (
                F.sum(rev).cast("double")
                - F.sum(cost_e4).cast("double") / F.lit(10000.0)
            ).alias("sum_profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


_Q11_ORACLE = f"""
WITH partsupp AS ({_PARTSUPP_SQL}),
pv AS (
    SELECT ps_partkey,
           SUM(CAST(ps_supplycost_c AS DECIMAL(18,0))
               * CAST(ps_availqty_c AS DECIMAL(18,0))) AS stock_e4
    FROM partsupp
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
    GROUP BY ps_partkey
)
SELECT ps_partkey, CAST(stock_e4 AS DOUBLE) / 10000.0 AS stock_value
FROM pv
WHERE stock_e4 * 1000 > (SELECT SUM(stock_e4) FROM pv)
ORDER BY stock_value DESC, ps_partkey
"""


@query("tpch_q11_important_stock", _Q11_ORACLE)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose stock value in one nation exceeds
    0.1% of that nation's total. The scalar total is a single-row
    aggregate of the SAME per-part relation, broadcast back via cross
    join; the 0.1% gate is the all-integer `1000·part > total` (exact
    decimal compare — no float threshold at the boundary). Dollars
    appear only in the output projection."""
    ps = _partsupp(spark, sf_dir)
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = F.broadcast(
        load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    )
    pv = (
        ps.join(s, F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .groupBy("ps_partkey")
        .agg(
            # decimal×decimal BEFORE the product (not a post-hoc cast
            # of an int64 result): the per-row product is exact even
            # where cents × centi-units would overflow int64.
            F.sum(
                F.col("ps_supplycost_c").cast("decimal(18,0)")
                * F.col("ps_availqty_c").cast("decimal(18,0)")
            ).alias("stock_e4")
        )
    )
    total = pv.agg(F.sum("stock_e4").alias("total_e4"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("stock_e4") * F.lit(1000) > F.col("total_e4"))
        .select(
            "ps_partkey",
            (F.col("stock_e4").cast("double") / F.lit(10000.0)).alias(
                "stock_value"
            ),
        )
        .orderBy(F.desc("stock_value"), "ps_partkey")
    )


_Q16_ORACLE = f"""
WITH partsupp AS ({_PARTSUPP_SQL})
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM partsupp
JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND ps_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@query("tpch_q16_parts_supplier", _Q16_ORACLE)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many suppliers can provide each qualifying
    (brand, type, size) combination. The original's complaint-comment
    exclusion (no s_comment column in the testdata) is adapted to
    s_acctbal < 0 — same NOT-IN-subquery plan shape, compiled as a
    broadcast anti-join on a tiny excluded-supplier list. Part filters
    broadcast; COUNT(DISTINCT) rides the one (brand,type,size) shuffle
    with a partial distinct."""
    ps = _partsupp(spark, sf_dir)
    p = F.broadcast(
        load_table(spark, sf_dir, "part").filter(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
        )
    )
    bad = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(bad, F.col("s_suppkey") == F.col("ps_suppkey"), "left_anti")
        .join(p, F.col("p_partkey") == F.col("ps_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


_Q20_ORACLE = f"""
WITH partsupp AS ({_PARTSUPP_SQL}),
shipped AS (
    SELECT l_partkey, l_suppkey,
           SUM(CAST(FLOOR(l_quantity * 100.0) AS BIGINT)) AS qty_1997_c
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_partkey, l_suppkey
)
SELECT DISTINCT s_suppkey, s_name
FROM partsupp
JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
JOIN supplier ON s_suppkey = ps_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE ps_partkey IN (
    SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
)
  AND qty_1997_c * 2 > ps_availqty_c
  AND n_name = 'NATION_5'
ORDER BY s_name
"""


@query("tpch_q20_potential_promotion", _Q20_ORACLE)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation with concentrated
    recent flow of 'small*' parts. Adapted threshold: derived
    ps_availqty is all-time flow (a superset of any year), so the
    original `availqty > ½·year-shipments` is vacuous here — the
    flipped predicate (1997 shipments > ½ of all-time flow, compared
    in exact centi-units with an integer ×2) keeps the exact plan
    shape: year-filtered per-(part,supplier) aggregate joined to
    partsupp on its own grouping key, part-name semi-join via
    broadcast, nation gate."""
    ps = _partsupp(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.floor(F.col("l_quantity") * F.lit(100.0))).alias(
            "qty_1997_c"
        )
    )
    small = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = F.broadcast(
        load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    )
    return (
        ps.join(small, F.col("p_partkey") == F.col("ps_partkey"), "left_semi")
        .join(
            shipped,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .filter(F.col("qty_1997_c") * F.lit(2) > F.col("ps_availqty_c"))
        .join(s, F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_name")
    )
