"""Mergeable-sketch aggregation (SURVEY.md §2.11/2.12 [EXT]).

The 100 TB re-aggregation story: materialize a compact sketch per fine
partition (day, shard) ONCE, then answer any coarser-grained question
(month, quarter, all-time) by merging sketches — kilobytes per group —
instead of re-scanning raw data. Spark 4.x exposes Apache DataSketches
natively (``hll_sketch_agg`` / ``hll_union_agg`` for distinct counts,
``kll_sketch_agg_double`` / ``kll_sketch_merge_double`` for
quantiles), so both levels stay JVM-side, partial-aggregated, and the
intermediate sketch relation is itself a first-class DataFrame a
warehouse would persist.

No DuckDB analog exists, so these are rows-only queries; measured
error vs the exact answers is asserted in tests and published in
PLANS.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Count-Min sketch shape: d md5-derived hash rows x w counters.
CMS_D = 4
CMS_W = 256


def cms_bucket(r: int) -> F.Column:
    """Hash row ``r``'s counter index of the ``tok`` column."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("tok"), F.lit(f"#{r}"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % F.lit(CMS_W)
    )


def hll_daily_sketches(
    events: DataFrame, lg_k: int = 14
) -> DataFrame:
    """Level 1: one HLL sketch of distinct user_ids per
    (event_type, day) — the relation a pipeline materializes daily.
    (event_type, day, user_sketch binary, n_events)."""
    return events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("user_sketch"),
        F.count("*").alias("n_events"),
    )


def hll_rollup(daily: DataFrame) -> DataFrame:
    """Level 2: merge the daily sketches to a monthly distinct-user
    estimate WITHOUT touching raw events again.
    (event_type, month, est_users, n_events).

    The merge is a tiny shuffle over |event_types| × |days| sketch
    rows; at 100 TB that is the whole point — the raw scan happened
    once, at daily grain.
    """
    return (
        daily.groupBy(
            "event_type",
            F.date_format("day", "yyyy-MM").alias("month"),
        )
        .agg(
            F.hll_union_agg("user_sketch").alias("sk"),
            F.sum("n_events").alias("n_events"),
        )
        .select(
            "event_type",
            "month",
            F.hll_sketch_estimate("sk").cast("bigint").alias("est_users"),
            "n_events",
        )
    )


def kll_quantile_rollup(
    orders: DataFrame, k: int = 200
) -> DataFrame:
    """KLL quantile sketches with a two-level merge: sketch
    o_totalprice per (o_orderstatus, month), then merge each status's
    monthly sketches and read p50/p90/p99 — mergeable quantiles
    without any full-sort or per-group value buffer.
    (o_orderstatus, p50, p90, p99).

    This is the sketch-based alternative to the exact
    bucket-refine quantile operator (operators/aggregate.py): one scan
    + kilobyte state per group vs two scans; bounded rank error
    (~1.7% at k=200) vs exactness.
    """
    monthly = orders.groupBy(
        "o_orderstatus", F.date_format("o_orderdate", "yyyy-MM").alias("m")
    ).agg(
        F.kll_sketch_agg_double("o_totalprice", F.lit(k)).alias("sk")
    )
    # kll_sketch_merge_double is a binary scalar (no union aggregate in
    # Spark 4.x), so fold the per-month sketches per group: the list is
    # ≤ |months| kilobyte-sized sketches, not raw data.
    merged = monthly.groupBy("o_orderstatus").agg(
        F.collect_list("sk").alias("sks")
    ).select(
        "o_orderstatus",
        F.aggregate(
            F.slice(F.col("sks"), 2, F.size("sks") - 1),
            F.element_at(F.col("sks"), 1),
            lambda acc, x: F.kll_sketch_merge_double(acc, x),
        ).alias("sk"),
    )
    return merged.select(
        "o_orderstatus",
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("p50"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.9)).alias("p90"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.99)).alias("p99"),
    )
