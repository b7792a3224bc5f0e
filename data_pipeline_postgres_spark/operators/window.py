"""Window operators (SURVEY.md §2.7).

The reference's one window use: collapse a CDC batch to the newest
change per id via ``first_value(col) OVER (PARTITION BY id ORDER BY
last_updated DESC)`` ×10 columns + DISTINCT (reference:
mnt/dags/unused_02retail_stage.py:109-122).

The idiomatic Spark form is a ``row_number() == 1`` filter — one window
exec, no DISTINCT re-shuffle. Scale note: a single hash-partitioned
shuffle on the key; skewed keys are handled by AQE skew-join/partition
splitting.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Latest-record-per-key dedup: keep the row with max ``order_col``
    per key. ``tiebreak`` columns make the winner deterministic when
    ``order_col`` ties (the reference's DISTINCT-over-first_value form
    silently keeps an arbitrary winner; we pin it — SURVEY.md §5 risk 5).
    """
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc(), *[F.col(c).desc() for c in tiebreak]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def global_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    num_partitions: int | None = None,
    rank_col: str = "rn",
) -> DataFrame:
    """Exact 1-based global rank over a TOTAL order without a
    single-partition sort (extracted from orders_theil_sen_trend's
    round-10 median rewrite).

    An unpartitioned ``row_number()`` window compiles to Exchange
    SinglePartition + Sort — one task sorts the whole relation. This
    is the distributed equivalent, the packing.py two-level
    prefix-sum pattern applied to ranks:

    1. ``repartitionByRange(order_cols)`` — partition boundaries split
       the total order, so partition id order == value order;
    2. ``sortWithinPartitions`` — N parallel sorts;
    3. ``monotonically_increasing_id()`` — ids are CONSECUTIVE from
       pid*2^33 within each partition, so (id - min_id_of_pid) is the
       0-based local rank with no window over the data;
    4. global rank = exclusive prefix sum of partition counts (a
       window over the <= num_partitions-row totals relation) + local
       rank + 1.

    ``localCheckpoint`` pins the sorted layout so the totals pass and
    the rank join read identical ids (AQE cannot re-coalesce between
    them). Ranks are boundary-independent: any range split of a total
    order yields the same global ranks, so sampling nondeterminism in
    RangePartitioner cannot change the result.

    Contract: ``order_cols`` must be a TOTAL order (no duplicate
    tuples) — ties would rank by physical layout. Cost: one range
    exchange + parallel sorts + one checkpoint materialization; the
    relation must fit executor storage (it is data-sized, same as the
    sort it replaces).

    Limit: ``monotonically_increasing_id`` packs the per-partition
    row index into 33 bits, so a single range partition holding
    > 2^33 (~8.6 B) rows overflows into the next partition-id band
    and would silently corrupt ranks. Rather than trust the caller,
    the plan VALIDATES the invariant on the already-computed totals
    relation (every band's min id must be pid*2^33 and its count
    < 2^33 — any overflow necessarily fills some band to 2^33) via
    ``assert_true`` folded into the offset column: zero extra cost
    (≤ num_partitions rows) and a loud failure instead of bad ranks.
    At 100 TB, size num_partitions so rows/partition stays far below
    the band width.
    """
    cols = list(order_cols)
    if num_partitions is None:
        # r15 (guide §2: scale-adaptive partitioning): the old fixed
        # default of 32 ranges matched the local harness but CAPS the
        # parallel sort on a wide cluster. Ranks are range-boundary
        # independent (docstring above), so deriving the count from
        # defaultParallelism (floor 32 to keep per-range row counts
        # far under the 2^33 id band at scale) changes no result.
        num_partitions = max(
            32, df.sparkSession.sparkContext.defaultParallelism
        )
    s = (
        df.repartitionByRange(num_partitions, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__mono", F.monotonically_increasing_id())
        .localCheckpoint(eager=False)
        .withColumn(
            "__pid",
            F.floor(F.col("__mono") / F.lit(2**33)).cast("bigint"),
        )
    )
    tot = s.groupBy("__pid").agg(
        F.count("*").alias("__cnt"), F.min("__mono").alias("__mn")
    )
    w_p = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    band_ok = F.assert_true(
        (F.col("__mn") == F.col("__pid") * F.lit(2**33))
        & (F.col("__cnt") < F.lit(2**33)),
        F.lit(
            "global_rank: a range partition exceeded 2^33 rows — "
            "monotonically_increasing_id bands overflowed; raise "
            "num_partitions"
        ),
    )
    off = tot.select(
        "__pid",
        "__mn",
        # assert_true yields NULL when the invariant holds; summing it
        # into __off (coalesced to 0) keeps Catalyst from pruning the
        # check while leaving the value unchanged.
        (
            F.coalesce(F.sum("__cnt").over(w_p), F.lit(0))
            + F.coalesce(band_ok.cast("bigint"), F.lit(0))
        ).alias("__off"),
    )
    return (
        s.join(F.broadcast(off), "__pid")
        .withColumn(
            rank_col,
            (
                F.col("__off") + (F.col("__mono") - F.col("__mn")) + 1
            ).cast("bigint"),
        )
        .drop("__mono", "__pid", "__mn", "__off")
    )
