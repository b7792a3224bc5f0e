"""Event-stream analytics: funnels, sessions and paths, retention
and activity, attribution (first/last touch, Markov, Shapley),
anomaly and change-point detection, A/B tests and distribution-drift
statistics over ``events``.

Every computed column is aliased the same in the Spark plan and the
DuckDB oracle; float aggregation goes through int64 quantization or
a single shared-literal division, so cross-partition sums are exact
in any order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import aggregate
from ..operators.aggregate import exact_sum, rolling_zscore_daily
from .registry import query


@query(
    "events_forward_fill",
    """
WITH daily AS (
    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
    FROM events GROUP BY 1, 2
),
bounds AS (
    SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1
),
spine AS (
    SELECT user_id, CAST(s.d AS DATE) AS day
    FROM bounds, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS s(d)
)
SELECT s.user_id, s.day,
       LAST_VALUE(d.day_value IGNORE NULLS) OVER (
           PARTITION BY s.user_id ORDER BY s.day
           ROWS UNBOUNDED PRECEDING
       ) AS filled_value,
       (d.day_value IS NULL) AS was_filled
FROM spine s LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
""",
)
def q_events_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling: build each user's full day spine
    (sequence+explode, no driver loop), left-join observed daily sums,
    forward-fill holes with last_value(ignore nulls) over a key-
    partitioned running frame — the classic time-series densification,
    shuffled once by user."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(exact_sum("value", "day_value"))
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi")).alias("day"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.last("day_value", ignorenulls=True)
            .over(w)
            .alias("filled_value"),
            F.col("day_value").isNull().alias("was_filled"),
        )
    )


@query(
    "events_funnel_batch",
    """
WITH v AS (
    SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_view
    FROM events WHERE event_type = 'view' GROUP BY 1
),
c AS (
    SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_click
    FROM events e JOIN v USING (user_id)
    WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t_view
    GROUP BY 1
),
p AS (
    SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_purchase
    FROM events e JOIN c USING (user_id)
    WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t_click
    GROUP BY 1
)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_view_click,
       (SELECT COUNT(*) FROM p) AS n_view_click_purchase
""",
)
def q_events_funnel_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel (view → later click → later
    purchase): per-stage first-timestamp aggs chained by inner joins
    on user_id, so every stage stays hash-partitioned on the same key
    (AQE plans the 3-row-per-user joins without re-exchange); the
    final stage counts are single-row global aggs. No window over all
    events, no session state — the batch mirror of
    stream_stream_funnel."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_view_click")))
        .crossJoin(
            p.agg(F.count("*").alias("n_view_click_purchase"))
        )
    )


@query(
    "events_retention_cohorts",
    """
WITH f AS (
    SELECT user_id, CAST(MIN(date_trunc('day', ts)) AS DATE) AS cohort_day
    FROM events GROUP BY 1
)
SELECT f.cohort_day,
       CAST(date_diff('day', f.cohort_day,
                      CAST(date_trunc('day', e.ts) AS DATE)) AS BIGINT)
           AS day_offset,
       COUNT(DISTINCT e.user_id) AS n_users
FROM events e JOIN f USING (user_id)
GROUP BY 1, 2
""",
)
def q_events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day,
    counted distinct on each (cohort, day-offset) cell — the classic
    product-analytics rollup. Two aggregations, both hash-keyed on
    user_id first (the cohort agg and the join stay co-partitioned;
    AQE plans one exchange), then the small (cohort, offset)-keyed
    distinct count; no window over the event stream."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("cohort_day")
    )
    return (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(
                F.to_date(F.date_trunc("day", "ts")), F.col("cohort_day")
            )
            .cast("bigint")
            .alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "events_anomaly_mad",
    """
WITH daily AS (
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
),
med AS (
    SELECT event_type, quantile_cont(cnt, 0.5) AS med
    FROM daily GROUP BY 1
),
dev AS (
    SELECT d.event_type, d.day, d.cnt, m.med,
           abs(d.cnt - m.med) AS dev
    FROM daily d JOIN med m USING (event_type)
),
mad AS (
    SELECT event_type, quantile_cont(dev, 0.5) AS mad
    FROM dev GROUP BY 1
)
SELECT d.event_type, d.day, CAST(d.cnt AS BIGINT) AS cnt,
       d.med, m.mad, (d.dev > 3 * m.mad) AS is_anomaly
FROM dev d JOIN mad m USING (event_type)
""",
)
def q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust volume-anomaly detection: flag (event_type, day) cells
    whose daily event count deviates from the type's median by more
    than 3× the median absolute deviation — the outlier-resistant
    alternative to z-scores (one wild day cannot drag its own
    threshold).

    Exactness: daily counts are integers, so both medians are dyadic
    rationals (k or k+0.5 steps) that IEEE doubles represent exactly
    — the `dev > 3·mad` gate compares identical values on both
    engines, no rounding rule in play. Scale shape: the only
    data-sized shuffle is the (event_type, day) count with map-side
    combine; the two `percentile` aggregates buffer one value per DAY
    per type (bounded by the calendar, not by event volume — the
    reason plain exact percentile is the right tool here while
    lineitem-sized value sets use bucket_refine_quantiles), and both
    medians broadcast back onto the ~types×days relation."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(F.count("*").alias("cnt"))
    )
    med = daily.groupBy("event_type").agg(
        F.percentile("cnt", F.lit(0.5)).alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("cnt") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("dev", F.lit(0.5)).alias("mad")
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "day",
        "cnt",
        "med",
        "mad",
        (F.col("dev") > F.lit(3) * F.col("mad")).alias("is_anomaly"),
    )


@query(
    "events_trend_ols",
    """
WITH daily AS (
    SELECT event_type,
           datediff('day', DATE '1995-01-01',
                    CAST(date_trunc('day', ts) AS DATE)) AS x,
           COUNT(*) AS y
    FROM events GROUP BY 1, 2
),
m AS (
    SELECT event_type,
           COUNT(*) AS n,
           SUM(CAST(x AS BIGINT)) AS sx,
           SUM(CAST(y AS BIGINT)) AS sy,
           SUM(CAST(x * x AS BIGINT)) AS sxx,
           SUM(CAST(x * y AS BIGINT)) AS sxy
    FROM daily GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       CAST(sy AS BIGINT) AS total_events,
       CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
       (CAST(sy AS DOUBLE)
        - (CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
           / n AS intercept
FROM m
""",
)
def q_events_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type volume trend: exact least-squares slope/intercept of
    daily event count vs day offset (days since 1995-01-01) — the
    capacity-planning "is this stream growing" primitive.

    Exactness: all four moments are exact int64 sums over ~calendar
    rows, and the normal-equation polynomial stays in exactly-
    representable double range while n·Σxy < 2^53 (holds through
    ~10^14 daily events; beyond that widen the moments to DECIMAL as
    agg_corr_exact does). Identical op order on both engines → the
    two final divisions are bit-identical. One map-side-combined
    (type, day) count shuffle + one tiny per-type aggregate."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.date_trunc("day", "ts").cast("date"),
                F.lit("1995-01-01").cast("date"),
            ).alias("x"),
        )
        .agg(F.count("*").alias("y"))
    )
    m = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("bigint")).alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("bigint")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("bigint")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    slope = num / den
    return m.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("sy").alias("total_events"),
        slope.alias("slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n")
        ).alias("intercept"),
    )


@query(
    "events_changepoint_cusum",
    """
WITH daily AS (
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
),
st AS (
    SELECT event_type, CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS mean_daily
    FROM daily GROUP BY 1
),
cs AS (
    SELECT d.event_type, d.day, d.cnt, st.mean_daily,
           SUM(d.cnt - st.mean_daily) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cusum
    FROM daily d JOIN st USING (event_type)
),
rk AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_type ORDER BY abs(cusum) DESC, day
    ) AS rn
    FROM cs
)
SELECT event_type, day AS cp_day, CAST(cnt AS BIGINT) AS cnt,
       mean_daily, cusum AS cusum_peak
FROM rk WHERE rn = 1
""",
)
def q_events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint estimate per event type: the day where the
    running sum of (daily count − overall mean) peaks in magnitude —
    the classic single-changepoint location statistic for "when did
    this stream's level shift".

    Exactness: the running sum folds int-minus-double terms in
    day order (identical sequential order on both engines →
    bit-identical doubles); the peak pick tiebreaks on day. Scale
    shape: one (type, day) count shuffle; the windows run over
    calendar-bounded per-type partitions (~days rows each), and the
    per-type mean broadcasts back."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(F.count("*").alias("cnt"))
    )
    st = daily.groupBy("event_type").agg(
        (F.sum("cnt").cast("double") / F.count("*")).alias("mean_daily")
    )
    w_cs = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs = daily.join(F.broadcast(st), "event_type").withColumn(
        "cusum", F.sum(F.col("cnt") - F.col("mean_daily")).over(w_cs)
    )
    w_rk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), "day"
    )
    return (
        cs.withColumn("rn", F.row_number().over(w_rk))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("cp_day"),
            "cnt",
            "mean_daily",
            F.col("cusum").alias("cusum_peak"),
        )
    )


@query(
    "events_activity_streaks",
    """
WITH daily AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
    FROM events
),
grp AS (
    SELECT user_id, day,
           datediff('day', DATE '1995-01-01', day)
           - row_number() OVER (PARTITION BY user_id ORDER BY day) AS g
    FROM daily
),
streak AS (
    SELECT user_id, g, COUNT(*) AS len, MIN(day) AS streak_start
    FROM grp GROUP BY 1, 2
)
SELECT user_id, CAST(len AS BIGINT) AS longest_streak, streak_start
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY len DESC, streak_start
    ) AS rn FROM streak
) WHERE rn = 1
""",
)
def q_events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's longest run of consecutive active
    days and when it started (tiebreak: earliest). The classic
    day-index-minus-row-number island key — all integers/dates, fully
    hash-checked. Scale shape: one (user, day) distinct shuffle, then
    every window/aggregate rides the same user_id partitioning (one
    Exchange; calendar-bounded per-user partitions)."""
    daily = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    grp = daily.withColumn(
        "g",
        F.datediff(F.col("day"), F.lit("1995-01-01").cast("date"))
        - F.row_number().over(w),
    )
    streak = grp.groupBy("user_id", "g").agg(
        F.count("*").alias("len"), F.min("day").alias("streak_start")
    )
    pick = Window.partitionBy("user_id").orderBy(
        F.desc("len"), F.asc("streak_start")
    )
    return (
        streak.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("len").alias("longest_streak"),
            "streak_start",
        )
    )


@query(
    "events_markov_transitions",
    """
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS next_type
    FROM events
),
n AS (
    SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
    FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT from_type, SUM(n) AS t FROM n GROUP BY 1)
SELECT n.from_type, n.to_type, CAST(n.n AS BIGINT) AS n,
       CAST(n.n AS DOUBLE) / CAST(t AS DOUBLE) AS prob
FROM n JOIN tot USING (from_type)
ORDER BY from_type, to_type
""",
)
def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current), the session-flow /
    next-action-prediction primitive. The (ts, event_id) sort key is
    unique so every lead() is deterministic; counts are exact ints
    with ONE division. Scale shape: one user_id window shuffle (the
    same Exchange the session/funnel family uses), then a
    |types|²-bounded aggregate; row totals broadcast back."""
    seq = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    )
    n = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    tot = n.groupBy("from_type").agg(F.sum("n").alias("t"))
    return (
        n.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            (F.col("n").cast("double") / F.col("t").cast("double")).alias(
                "prob"
            ),
        )
        .orderBy("from_type", "to_type")
    )


@query(
    "events_hourly_seasonality",
    """
WITH h AS (
    SELECT event_type,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_of_day,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
tot AS (SELECT event_type, SUM(n) AS t FROM h GROUP BY 1)
SELECT h.event_type, h.hour_of_day, CAST(h.n AS BIGINT) AS n,
       CAST(h.n AS DOUBLE) / CAST(t AS DOUBLE) AS share
FROM h JOIN tot USING (event_type)
ORDER BY event_type, hour_of_day
""",
)
def q_events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day activity profile per event type (the capacity /
    traffic-shaping seasonality curve): count and within-type share
    for each of the 24 hours. One map-side-combined count shuffle to
    a 24·|types| relation; totals broadcast back. Exact ints, one
    division — hash-checked."""
    h = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.hour("ts").cast("bigint").alias("hour_of_day"),
        )
        .agg(F.count("*").alias("n"))
    )
    tot = h.groupBy("event_type").agg(F.sum("n").alias("t"))
    return (
        h.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "hour_of_day",
            "n",
            (F.col("n").cast("double") / F.col("t").cast("double")).alias(
                "share"
            ),
        )
        .orderBy("event_type", "hour_of_day")
    )


@query(
    "events_user_diversity",
    """
WITH pt AS (
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
agg AS (
    SELECT user_id, SUM(n) AS total, SUM(n * n) AS sum_sq,
           COUNT(*) AS n_types
    FROM pt GROUP BY 1
)
SELECT user_id, CAST(total AS BIGINT) AS n_events,
       CAST(n_types AS BIGINT) AS n_types,
       1.0 - CAST(sum_sq AS DOUBLE) / (CAST(total AS DOUBLE) * total)
           AS simpson_diversity
FROM agg
""",
)
def q_events_user_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity via the Gini-Simpson index
    1 − Σpᵢ² (probability two random events differ in type) — the
    entropy-style engagement-breadth metric WITHOUT log(), whose
    last-ulp libm differences would break cross-engine hashing
    (same determinism rationale as text_rarity_score). All-integer
    sums, one double expression. Two map-side-combined shuffles that
    both key on user_id — AQE reuses the partitioning."""
    pt = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
    )
    agg = pt.groupBy("user_id").agg(
        F.sum("n").alias("total"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
        F.count("*").alias("n_types"),
    )
    return agg.select(
        "user_id",
        F.col("total").alias("n_events"),
        F.col("n_types"),
        (
            F.lit(1.0)
            - F.col("sum_sq").cast("double")
            / (F.col("total").cast("double") * F.col("total"))
        ).alias("simpson_diversity"),
    )


@query(
    "events_attribution_first_touch",
    """
WITH conv AS (
    SELECT event_id AS conv_id, user_id, ts AS conv_ts
    FROM events WHERE event_type = 'purchase'
),
touch AS (
    SELECT user_id, ts, event_id, event_type
    FROM events WHERE event_type <> 'purchase'
),
attributed AS (
    SELECT conv_id, event_type FROM (
        SELECT c.conv_id, t.event_type,
               row_number() OVER (
                   PARTITION BY c.conv_id ORDER BY t.ts, t.event_id
               ) AS rn
        FROM conv c JOIN touch t
          ON t.user_id = c.user_id
         AND t.ts < c.conv_ts
         AND t.ts >= c.conv_ts - INTERVAL 7 DAY
    ) WHERE rn = 1
)
SELECT event_type AS channel, COUNT(*) AS n_conversions
FROM attributed GROUP BY 1 ORDER BY n_conversions DESC, channel
""",
)
def q_events_attribution_first_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-touch attribution: each purchase credits the FIRST
    non-purchase event of the same user in the preceding 7 days; the
    report counts conversions per channel. The (ts, event_id)
    ordering makes the credited touch deterministic. Scale shape:
    the touch↔conversion band join is co-keyed on user_id (one
    shuffle each side) and its fan-out is bounded by
    events-per-user-week, not events² — the same banded-interval
    discipline as join_range_banded; the per-conversion argmin is a
    rank-limited window on the conversion key."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("conv_ts"),
    )
    touch = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "ts", "event_id", "event_type"
    )
    j = conv.join(
        touch,
        (F.col("user_id") == F.col("cu"))
        & (F.col("ts") < F.col("conv_ts"))
        & (F.col("ts") >= F.col("conv_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(F.col("event_type").alias("channel"))
        .agg(F.count("*").alias("n_conversions"))
        .orderBy(F.desc("n_conversions"), "channel")
    )


@query(
    "events_attribution_last_touch",
    """
WITH conv AS (
    SELECT event_id AS conv_id, user_id, ts AS conv_ts
    FROM events WHERE event_type = 'purchase'
),
touch AS (
    SELECT user_id, ts, event_id, event_type
    FROM events WHERE event_type <> 'purchase'
),
attributed AS (
    SELECT conv_id, event_type FROM (
        SELECT c.conv_id, t.event_type,
               row_number() OVER (
                   PARTITION BY c.conv_id ORDER BY t.ts DESC, t.event_id DESC
               ) AS rn
        FROM conv c JOIN touch t
          ON t.user_id = c.user_id
         AND t.ts < c.conv_ts
         AND t.ts >= c.conv_ts - INTERVAL 7 DAY
    ) WHERE rn = 1
)
SELECT event_type AS channel, COUNT(*) AS n_conversions
FROM attributed GROUP BY 1 ORDER BY n_conversions DESC, channel
""",
)
def q_events_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch attribution — the closing-channel complement of
    events_attribution_first_touch (same user-co-keyed banded join,
    argmax instead of argmin); marketers read the two side by side to
    see opener vs closer channels."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("conv_ts"),
    )
    touch = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "ts", "event_id", "event_type"
    )
    j = conv.join(
        touch,
        (F.col("user_id") == F.col("cu"))
        & (F.col("ts") < F.col("conv_ts"))
        & (F.col("ts") >= F.col("conv_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    w = Window.partitionBy("conv_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(F.col("event_type").alias("channel"))
        .agg(F.count("*").alias("n_conversions"))
        .orderBy(F.desc("n_conversions"), "channel")
    )


@query(
    "events_dau_wau_mau",
    """
WITH ud AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
    FROM events
),
days AS (SELECT DISTINCT day FROM ud),
dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
wau AS (
    SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
    FROM days d JOIN ud u
      ON u.day <= d.day AND u.day >= d.day - INTERVAL 6 DAY
    GROUP BY 1
),
mau AS (
    SELECT d.day, COUNT(DISTINCT u.user_id) AS mau
    FROM days d JOIN ud u
      ON u.day <= d.day AND u.day >= d.day - INTERVAL 29 DAY
    GROUP BY 1
)
SELECT day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
       CAST(mau AS BIGINT) AS mau,
       CAST(dau AS DOUBLE) / mau AS stickiness
FROM dau JOIN wau USING (day) JOIN mau USING (day)
ORDER BY day
""",
)
def q_events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engagement dashboard trio — daily / trailing-7-day /
    trailing-30-day active users per day, plus DAU/MAU stickiness.

    Scale shape: the trailing distinct counts do NOT range-join the
    activity relation against the calendar (that is |ud|·|days| at
    100 TB) — each (user, day) activity row EXPLODES into its ≤30
    forward day-contributions (linear, bounded blow-up), is clipped
    to observed days by a broadcast semi-join, and one
    (day, user)-keyed partial-distinct aggregate finishes. Counts are
    exact ints; stickiness is one division — hash-checked."""
    ud = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .distinct()
    )
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))

    def trailing(n_days: int, name: str) -> DataFrame:
        contrib = ud.select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.date_add(F.col("day"), n_days - 1),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("day"),
        )
        return (
            contrib.join(F.broadcast(days), "day", "left_semi")
            .groupBy("day")
            .agg(F.countDistinct("user_id").alias(name))
        )

    return (
        dau.join(trailing(7, "wau"), "day")
        .join(trailing(30, "mau"), "day")
        .select(
            "day",
            "dau",
            "wau",
            "mau",
            (F.col("dau").cast("double") / F.col("mau")).alias("stickiness"),
        )
        .orderBy("day")
    )


@query(
    "events_user_gini",
    """
WITH ux AS (
    SELECT event_type, user_id, COUNT(*) AS x
    FROM events GROUP BY 1, 2
),
rk AS (
    SELECT event_type, x,
           ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY x, user_id) AS i
    FROM ux
),
s AS (
    SELECT event_type,
           COUNT(*) AS n,
           SUM(CAST(x AS BIGINT)) AS sx,
           SUM(CAST(i * x AS BIGINT)) AS six
    FROM rk GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_users,
       CAST(sx AS BIGINT) AS total_events,
       CAST(2 * six - (n + 1) * sx AS DOUBLE)
           / CAST(n * sx AS DOUBLE) AS gini
FROM s
""",
)
def q_events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of event volume across users, per event type —
    the concentration ("do 1% of users generate 90% of traffic")
    metric behind rate-limit and capacity policy. G = (2·Σi·x_i −
    (n+1)·Σx) / (n·Σx) over users sorted ascending by volume.

    Exactness: every moment is an exact int64 sum (per-row i·x ≤
    n·max_count keeps products far under 2^63; widen to DECIMAL as
    agg_corr_exact does beyond ~10^9 heavy users), tie-stable rank
    (x, user_id), ONE double division per type. Scale shape: one
    (type, user) count shuffle, then the rank window sorts only the
    per-type USER relation (cardinality |users|, not |events|) — the
    same per-key ordering cost Gini inherently requires — and the
    moments fold map-side into one row per type."""
    ux = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("x", "user_id")
    rk = ux.select(
        "event_type", "x", F.row_number().over(w).alias("i")
    )
    s = rk.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("bigint")).alias("sx"),
        F.sum((F.col("i") * F.col("x")).cast("bigint")).alias("six"),
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_users"),
        F.col("sx").alias("total_events"),
        (
            (F.lit(2) * F.col("six") - (F.col("n") + 1) * F.col("sx")).cast(
                "double"
            )
            / (F.col("n") * F.col("sx")).cast("double")
        ).alias("gini"),
    )


@query(
    "events_rolling_slope_7d",
    """
WITH daily AS (
    SELECT event_type,
           datediff('day', DATE '1995-01-01',
                    CAST(date_trunc('day', ts) AS DATE)) AS x,
           COUNT(*) AS y
    FROM events GROUP BY 1, 2
),
w AS (
    SELECT event_type, x,
           COUNT(*) OVER win AS n,
           SUM(CAST(x AS BIGINT)) OVER win AS sx,
           SUM(CAST(y AS BIGINT)) OVER win AS sy,
           SUM(CAST(x * x AS BIGINT)) OVER win AS sxx,
           SUM(CAST(x * y AS BIGINT)) OVER win AS sxy
    FROM daily
    WINDOW win AS (PARTITION BY event_type ORDER BY x
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       CAST(x AS BIGINT) AS day_offset,
       CAST(n AS BIGINT) AS n_win,
       CASE WHEN n * sxx - sx * sx > 0
            THEN CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope
FROM w
""",
)
def q_events_rolling_slope_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day OLS slope of daily event volume per type — the
    windowed sibling of events_trend_ols (global fit): a per-day
    "how fast is this stream growing right now" signal for alerting.

    Exactness: the four rolling moments are exact int64 window sums
    and the normal-equation polynomial stays in exactly-representable
    double range (see events_trend_ols); slope is ONE double division
    per row, NULL while the window is degenerate (n·Σxx = (Σx)² when
    every x is equal — including n=1). Scale shape: one (type, day)
    count shuffle; the rolling windows run over calendar-bounded
    per-type partitions, never over raw events."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.date_trunc("day", "ts").cast("date"),
                F.lit("1995-01-01").cast("date"),
            ).alias("x"),
        )
        .agg(F.count("*").alias("y"))
    )
    win = (
        Window.partitionBy("event_type").orderBy("x").rowsBetween(-6, 0)
    )
    w = daily.select(
        "event_type",
        "x",
        F.count("*").over(win).alias("n"),
        F.sum(F.col("x").cast("bigint")).over(win).alias("sx"),
        F.sum(F.col("y").cast("bigint")).over(win).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("bigint")).over(win).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("bigint")).over(win).alias("sxy"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return w.select(
        "event_type",
        F.col("x").cast("bigint").alias("day_offset"),
        F.col("n").alias("n_win"),
        F.when(den > 0, num.cast("double") / den.cast("double")).alias(
            "slope"
        ),
    )


@query(
    "events_new_vs_returning",
    """
WITH ud AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
    FROM events
),
first_seen AS (SELECT user_id, MIN(day) AS fday FROM ud GROUP BY 1)
SELECT day,
       CAST(SUM(CASE WHEN day = fday THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new_users,
       CAST(SUM(CASE WHEN day > fday THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returning_users
FROM ud JOIN first_seen USING (user_id)
GROUP BY 1
""",
)
def q_events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into NEW (first-ever active day) vs
    RETURNING — the growth-accounting staple every activation
    dashboard leads with. Scale shape: one distinct (user, day) pass,
    a per-user MIN (map-side combined to |users| rows) joined back on
    the user key, one day-keyed aggregate; all exact integer counts."""
    ud = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .distinct()
    )
    first_seen = ud.groupBy("user_id").agg(F.min("day").alias("fday"))
    return (
        ud.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("day") == F.col("fday"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new_users"),
            F.sum(F.when(F.col("day") > F.col("fday"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_returning_users"),
        )
    )


@query(
    "events_dormancy_revival",
    """
WITH ud AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
    FROM events
),
g AS (
    SELECT user_id, day,
           datediff('day',
                    lag(day) OVER (PARTITION BY user_id ORDER BY day),
                    day) AS gap
    FROM ud
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_active,
       CAST(SUM(CASE WHEN gap >= 30 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_revived,
       CAST(SUM(CASE WHEN gap >= 30 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS revived_frac
FROM g GROUP BY 1
""",
)
def q_events_dormancy_revival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Win-back signal: per day, how many active users are REVIVALS —
    returning after a dormancy gap of ≥30 days (lag over each user's
    active-day sequence) — and their share of that day's actives.
    The metric that tells a re-engagement campaign whether it worked.
    Scale shape: distinct (user, day), a per-user-partitioned lag
    window (bounded by each user's active days, never events), one
    day aggregate; integer gaps, one division per day."""
    ud = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    g = ud.select(
        "day", F.datediff(F.col("day"), F.lag("day").over(w)).alias("gap")
    )
    revived = F.sum(F.when(F.col("gap") >= 30, 1).otherwise(0))
    return g.groupBy("day").agg(
        F.count("*").alias("n_active"),
        revived.cast("bigint").alias("n_revived"),
        (revived.cast("double") / F.count("*").cast("double")).alias(
            "revived_frac"
        ),
    )


_ZSCORE_ROLLING_ORACLE = """
WITH daily AS (
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
),
w AS (
    SELECT event_type, day, cnt,
           COUNT(*) OVER win AS n,
           SUM(CAST(cnt AS BIGINT)) OVER win AS sx,
           SUM(CAST(cnt * cnt AS BIGINT)) OVER win AS sxx
    FROM daily
    WINDOW win AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, CAST(cnt AS BIGINT) AS cnt,
       CASE WHEN n >= 7 AND n * sxx - sx * sx > 0 THEN
           (CAST(cnt AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
           / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                  / CAST(n * (n - 1) AS DOUBLE))
       END AS z,
       CASE WHEN n >= 7 AND n * sxx - sx * sx > 0 THEN
           abs((CAST(cnt AS DOUBLE)
                - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      / CAST(n * (n - 1) AS DOUBLE))) > 3.0
       END AS is_anomaly
FROM w
"""


@query("events_anomaly_zscore_rolling", _ZSCORE_ROLLING_ORACLE)
def q_events_anomaly_zscore_rolling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling z-score anomaly detection per event type: each day's
    count scored against the TRAILING 28 days (current day excluded —
    an outlier must not feed its own baseline), z = (cnt − mean)/std
    with the sample std; flagged at |z| > 3, NULL until 7 days of
    history exist. The windowed complement of events_anomaly_mad
    (global, median-based): z-score reacts to recent level shifts
    MAD's corpus-wide baseline absorbs.

    Exactness: rolling n/Σx/Σx² are exact int64 window sums; mean,
    variance, sqrt, and the final division are the identical IEEE op
    sequence on both engines. Scale: one (type, day) count shuffle;
    windows span calendar-bounded per-type partitions."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(F.count("*").alias("cnt"))
    )
    return rolling_zscore_daily(daily)


@query(
    "events_audience_overlap",
    """
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
n AS (SELECT event_type, COUNT(*) AS n FROM du GROUP BY 1),
x AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           COUNT(*) AS n_common
    FROM du a JOIN du b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT type_a, type_b, CAST(n_common AS BIGINT) AS n_common,
       CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
FROM x
JOIN n na ON na.event_type = type_a
JOIN n nb ON nb.event_type = type_b
""",
)
def q_events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: Jaccard of USER SETS between every
    pair of event types — "do clickers also purchase" without a
    funnel's ordering assumption. Scale shape: one distinct
    (type, user) pass, a user-keyed self-join whose fan-out is
    |types| per user (types is a small fixed set — never user²),
    per-type set sizes broadcast back; |types|² output rows. All
    integer counts, one division."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    n = du.groupBy("event_type").agg(F.count("*").alias("n"))
    a = du.select(F.col("event_type").alias("type_a"), "user_id")
    b = du.select(F.col("event_type").alias("type_b"), "user_id")
    x = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_common"))
    )
    na = n.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    nb = n.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        x.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


# -- Event sequence-pattern detection --------------------------------------

_PATTERN_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type, ts, event_id,
           lead(event_type) OVER w AS next_type,
           lead(ts)         OVER w AS next_ts
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
hits AS (
    SELECT user_id, ts
    FROM seq
    WHERE event_type = 'view' AND next_type = 'purchase'
      AND next_ts - ts <= INTERVAL 1 HOUR
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
       MIN(ts) AS first_match_ts
FROM hits GROUP BY user_id
"""


@query("events_pattern_detect", _PATTERN_ORACLE)
def q_events_pattern_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence-pattern detection: per user,
    every IMMEDIATELY-ADJACENT view -> purchase transition completing
    within one hour -> (user_id, n_matches, first_match_ts). The
    conversion-micro-pattern primitive (funnel queries count eventual
    conversion; this demands adjacency + a time bound — intent
    signals, fraud bursts, alert-then-ack compliance windows).

    One user_id window shuffle with the unique (ts, event_id) sort
    key (the same Exchange the session/funnel/markov family rides),
    then a map-side-combined per-user aggregate; time bound compared
    in integer microseconds."""
    ev = load_table(spark, sf_dir, "events")

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("ts").over(w).alias("next_ts"),
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    hits = seq.filter(
        (F.col("event_type") == "view")
        & (F.col("next_type") == "purchase")
        & (us("next_ts") - us("ts") <= F.lit(3_600_000_000))
    )
    return hits.groupBy("user_id").agg(
        F.count("*").alias("n_matches"),
        F.min("ts").alias("first_match_ts"),
    )


# -- Conversion lag ---------------------------------------------------------

_CONV_LAG_ORACLE = """
WITH v AS (
    SELECT user_id, MIN(ts) AS first_view
    FROM events WHERE event_type = 'view' GROUP BY 1
),
p AS (
    SELECT v.user_id, v.first_view, MIN(e.ts) AS first_purchase
    FROM v JOIN events e
      ON e.user_id = v.user_id AND e.event_type = 'purchase'
     AND e.ts >= v.first_view
    GROUP BY 1, 2
),
lag AS (
    SELECT user_id,
           CAST(epoch_us(first_purchase) - epoch_us(first_view)
                AS BIGINT) AS lag_us
    FROM p
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       CAST(MIN(lag_us) AS BIGINT) AS min_lag_us,
       CAST(MAX(lag_us) AS BIGINT) AS max_lag_us,
       CAST(SUM(lag_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           / 60000000e0 AS mean_lag_minutes
FROM lag
"""


@query("events_conversion_lag_stats", _CONV_LAG_ORACLE)
def q_events_conversion_lag_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-view → first-subsequent-purchase conversion lag, corpus
    level: (n_converted, min/max lag in integer microseconds, mean in
    minutes). The time-to-convert summary the attribution family
    (first/last touch) and the adjacency pattern (pattern_detect)
    don't give: how LONG intent takes to close, the input to choosing
    retargeting windows and the pattern_detect time bound.

    Shape: two user-keyed min-aggregates sharing one Exchange (the
    purchase side filters then joins on the same user key), lag math
    in exact integer microseconds, one global 1-row aggregate; ONE
    double division at the end."""
    ev = load_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id", "first_view")
        .agg(F.min("ts").alias("first_purchase"))
    )
    lag = p.select(
        (
            us("first_purchase") - us("first_view")
        ).alias("lag_us")
    )
    return lag.agg(
        F.count("*").alias("n_converted"),
        F.min("lag_us").alias("min_lag_us"),
        F.max("lag_us").alias("max_lag_us"),
        (
            F.sum("lag_us").cast("double")
            / F.count("*").cast("double")
            / F.lit(60_000_000.0)
        ).alias("mean_lag_minutes"),
    )


# -- Session path prefixes ---------------------------------------------------
# What do the first three steps of a session look like, and how often?
# The session-shape census the funnel (fixed pattern), markov (pairs),
# and pattern_detect (adjacent view->purchase) queries each project
# one slice of.

_SESSION_PATHS_ORACLE = """
WITH ev AS (
    SELECT user_id, event_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us
    FROM events
),
lagged AS (
    SELECT *, CASE WHEN lag(us) OVER w IS NULL
                     OR us - lag(us) OVER w > 1800000000 THEN 1
                   ELSE 0 END AS is_new
    FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
sess AS (
    SELECT *, SUM(is_new) OVER (
        PARTITION BY user_id ORDER BY us, event_id
        ROWS UNBOUNDED PRECEDING) AS sid
    FROM lagged
),
ranked AS (
    SELECT user_id, sid, event_type,
           row_number() OVER (
               PARTITION BY user_id, sid ORDER BY us, event_id) AS rn
    FROM sess
),
paths AS (
    SELECT user_id, sid,
           string_agg(event_type, '>' ORDER BY rn) AS path
    FROM ranked WHERE rn <= 3 GROUP BY 1, 2
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY 1
"""


@query("events_session_paths", _SESSION_PATHS_ORACLE)
def q_events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-opening path census: sessionize per user on a 30-minute
    inactivity gap, take each session's first <= 3 event types in
    order, and count sessions per '>'-joined path → (path,
    n_sessions). The entry-pattern distribution that tells a product
    team what sessions actually open with, complementing
    events_funnel_batch (did a FIXED pattern complete) and
    events_markov_transitions (memoryless pair rates).

    Shape: ONE user_id Exchange serves the lag, the running
    session-id sum, and the per-session rank (same sort key
    (us, event_id) — Spark reuses the window Exchange/Sort); the
    path aggregate rides a (user_id, sid) shuffle whose output is at
    most |sessions| rows; the final census groups <= |event_types|^3
    paths. Gap math in exact integer microseconds."""

    ev = load_table(spark, sf_dir, "events")
    e2 = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    lagged = e2.withColumn(
        "is_new",
        (
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > F.lit(1_800_000_000))
        ).cast("int"),
    )
    sess = lagged.withColumn(
        "sid",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("us", "event_id")
    ranked = sess.withColumn("rn", F.row_number().over(ws)).filter(
        F.col("rn") <= 3
    )
    paths = ranked.groupBy("user_id", "sid").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return paths.groupBy("path").agg(F.count("*").alias("n_sessions"))


# -- Out-of-order ingestion audit -------------------------------------------
# How late do events arrive relative to ingestion order? The measured
# answer to "what watermark delay does this stream need" — read BEFORE
# picking withWatermark() bounds, the way basket_size_histogram is read
# before pair generation.

_OOO_AUDIT_ORACLE = """
WITH e AS (
    SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           epoch_us(CAST(ts AS TIMESTAMP))
               + ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
                 )::BIGINT % 3600000000 AS arr_us
    FROM events
),
p AS (
    SELECT event_id, us,
           MAX(us) OVER (ORDER BY arr_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS prev_max
    FROM e
),
l AS (
    SELECT CASE WHEN prev_max IS NULL OR prev_max <= us THEN 0
                ELSE prev_max - us END AS late_us
    FROM p
)
SELECT CASE WHEN late_us = 0 THEN -1
            ELSE length(bin(late_us)) - 1 END AS late_pow2_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM l GROUP BY 1
"""


@query("events_out_of_order_audit", _OOO_AUDIT_ORACLE)
def q_events_out_of_order_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Event-time disorder audit: per event, lateness = (max event
    time seen earlier in ingestion order) − its own event time,
    histogrammed in power-of-2 microsecond buckets (−1 = in order) →
    (late_pow2_us, n_events). The measured input to choosing a
    streaming watermark: the p99 bucket IS the withWatermark() bound
    that keeps 99% of events inside state, and the residual share is
    the documented drop rate.

    The testdata stream is PERFECTLY sorted by event_id (measured:
    zero inversions at every sf), so ingestion order is modeled as
    event time + an md5-derived deterministic arrival delay in
    [0, 1h) — network jitter — to exercise the full path; on real
    data the arrival sequence is simply the ingestion order and the
    delay model drops out.

    Shape: the running max is the distributed prefix-MAX sibling of
    the packing prefix sum (operators/aggregate.
    bucketed_prefix_max_before): within-bucket exclusive window maxes
    + one tiny global window over per-bucket maxes broadcast back —
    no single-partition pass over the corpus; buckets are arrival-
    time ranges (ties stay inside a bucket, event_id tiebreak);
    lateness in exact integer microseconds; bit-length bucketing (no
    float log2)."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    delay = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % F.lit(3_600_000_000)
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        us.alias("us"),
        (us + delay).alias("arr_us"),
    )
    pm = aggregate.bucketed_prefix_max_before(
        ev,
        "arr_us",
        "us",
        bucket_width=600_000_000,  # 10-minute arrival-time buckets
        tiebreak="event_id",
    )
    late = pm.select(
        F.when(
            F.col("prev_max").isNull()
            | (F.col("prev_max") <= F.col("us")),
            F.lit(0).cast("long"),
        )
        .otherwise(F.col("prev_max") - F.col("us"))
        .alias("late_us")
    )
    return late.select(
        F.when(F.col("late_us") == 0, F.lit(-1))
        .otherwise(F.length(F.expr("bin(late_us)")) - 1)
        .cast("long")
        .alias("late_pow2_us")
    ).groupBy("late_pow2_us").agg(
        F.count("*").cast("long").alias("n_events")
    )


# -- Welch's t-test ----------------------------------------------------------
# The A/B experiment read: deterministic 50/50 assignment (user_id
# parity), purchase-value metric, Welch's unequal-variance t statistic
# + Welch-Satterthwaite df. All moments are exact int64 cent sums; the
# t/df arithmetic is one identically-bracketed double expression.

_AB_TTEST_ORACLE = """
WITH m AS (
    SELECT user_id % 2 AS grp,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events WHERE event_type = 'purchase'
),
s AS (
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c) AS BIGINT) AS sx,
           CAST(SUM(c * c) AS BIGINT) AS sq
    FROM m GROUP BY 1
),
w AS (
    SELECT
        MAX(CASE WHEN grp = 0 THEN n END) AS n_a,
        MAX(CASE WHEN grp = 1 THEN n END) AS n_b,
        MAX(CASE WHEN grp = 0 THEN sx END) AS sx_a,
        MAX(CASE WHEN grp = 1 THEN sx END) AS sx_b,
        MAX(CASE WHEN grp = 0 THEN sq END) AS sq_a,
        MAX(CASE WHEN grp = 1 THEN sq END) AS sq_b
    FROM s
),
v AS (
    SELECT n_a, n_b,
           CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
           CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
           (CAST(sq_a AS DOUBLE)
            - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE)
              / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE)
               / CAST(n_a AS DOUBLE) AS va_n,
           (CAST(sq_b AS DOUBLE)
            - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE)
              / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE)
               / CAST(n_b AS DOUBLE) AS vb_n
    FROM w
)
SELECT n_a, n_b,
       ma / 100e0 AS mean_a,
       mb / 100e0 AS mean_b,
       (ma - mb) / sqrt(va_n + vb_n) AS t_stat,
       (va_n + vb_n) * (va_n + vb_n)
       / (va_n * va_n / CAST(n_a - 1 AS DOUBLE)
          + vb_n * vb_n / CAST(n_b - 1 AS DOUBLE)) AS welch_df
FROM v
"""


@query("events_ab_welch_ttest", _AB_TTEST_ORACLE)
def q_events_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test over purchase value
    with deterministic 50/50 assignment (user_id parity) →
    (n_a, n_b, mean_a, mean_b, t_stat, welch_df). The experiment
    read-out primitive the anomaly family doesn't give: is the
    difference between two cohorts larger than their pooled noise.

    Determinism: the three moments per arm (n, Σ cents, Σ cents²) are
    exact int64 sums — cents ≤ 10^5, so Σc² stays under 2^63 through
    ~10^9 purchases per arm (DECIMAL widening documented beyond);
    every double op after that is one identically-bracketed
    expression (sqrt is correctly-rounded IEEE, oracle-safe).

    Shape: one filtered scan → ONE map-side-combined 2-group
    aggregate → a 2-row pivot into a single result row. Nothing else
    moves; at 100 TB this is the cheapest query in the engine."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2).alias("grp"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    s = m.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sx"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sq"),
    )
    w = s.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("grp") == 0, F.col("sx"))).alias("sx_a"),
        F.max(F.when(F.col("grp") == 1, F.col("sx"))).alias("sx_b"),
        F.max(F.when(F.col("grp") == 0, F.col("sq"))).alias("sq_a"),
        F.max(F.when(F.col("grp") == 1, F.col("sq"))).alias("sq_b"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    ma = d("sx_a") / d("n_a")
    mb = d("sx_b") / d("n_b")
    va_n = (
        (d("sq_a") - d("sx_a") * d("sx_a") / d("n_a"))
        / (F.col("n_a") - 1).cast("double")
        / d("n_a")
    )
    vb_n = (
        (d("sq_b") - d("sx_b") * d("sx_b") / d("n_b"))
        / (F.col("n_b") - 1).cast("double")
        / d("n_b")
    )
    v = w.select(
        "n_a",
        "n_b",
        ma.alias("ma"),
        mb.alias("mb"),
        va_n.alias("va_n"),
        vb_n.alias("vb_n"),
    )
    return v.select(
        "n_a",
        "n_b",
        (F.col("ma") / F.lit(100.0)).alias("mean_a"),
        (F.col("mb") / F.lit(100.0)).alias("mean_b"),
        (
            (F.col("ma") - F.col("mb"))
            / F.sqrt(F.col("va_n") + F.col("vb_n"))
        ).alias("t_stat"),
        (
            (F.col("va_n") + F.col("vb_n"))
            * (F.col("va_n") + F.col("vb_n"))
            / (
                F.col("va_n") * F.col("va_n")
                / (F.col("n_a") - 1).cast("double")
                + F.col("vb_n") * F.col("vb_n")
                / (F.col("n_b") - 1).cast("double")
            )
        ).alias("welch_df"),
    )


# -- Kaplan-Meier conversion curve ------------------------------------------
# Survival analysis over the event log: time from signup to first
# big-ticket purchase (value >= $150), RIGHT-CENSORED at last activity
# for users who never get there — the estimator that reads time-to-
# convert correctly when many subjects haven't converted yet (a plain
# mean over converters only is survivorship-biased). Survival is
# emitted as the cumulative quantized log2 (int64 micro-bits, exact
# running sum); S(t) = 2^(ubits/2^20) for the reader.

_KM_BIG = 150.0


_KM_DEAD_UBITS = -(10**9)  # d == n_risk: S hits exactly 0


_KM_ORACLE = f"""
WITH s AS (
    SELECT user_id, MIN(ts) AS st FROM events
    WHERE event_type = 'signup' GROUP BY 1
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS pt
    FROM events e JOIN s ON s.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND e.value >= {_KM_BIG}e0
      AND e.ts >= s.st
    GROUP BY 1
),
last AS (
    SELECT e.user_id, MAX(e.ts) AS lt
    FROM events e JOIN s ON s.user_id = e.user_id
    GROUP BY 1
),
subj AS (
    SELECT s.user_id,
           CASE WHEN p.pt IS NOT NULL THEN 1 ELSE 0 END AS ev,
           (epoch_us(CAST(COALESCE(p.pt, last.lt) AS TIMESTAMP))
            - epoch_us(CAST(s.st AS TIMESTAMP))) // 86400000000
               AS t_days
    FROM s
    JOIN last ON last.user_id = s.user_id
    LEFT JOIN p ON p.user_id = s.user_id
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM subj),
grp AS (
    SELECT t_days,
           CAST(SUM(ev) AS BIGINT) AS d,
           CAST(SUM(1 - ev) AS BIGINT) AS c
    FROM subj GROUP BY 1
),
risk AS (
    SELECT t_days, d, c,
           n - COALESCE(SUM(d + c) OVER (ORDER BY t_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
    FROM grp, tot
),
terms AS (
    SELECT t_days, n_risk, d, c,
           CASE WHEN d = 0 THEN 0
                WHEN d < n_risk THEN CAST(floor(log2(
                    CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)
                ) * 1000000.0 + 0.5) AS BIGINT)
                ELSE {_KM_DEAD_UBITS} END AS term
    FROM risk
)
SELECT t_days, CAST(n_risk AS BIGINT) AS n_risk, d AS d_events,
       c AS c_censored,
       CAST(SUM(term) OVER (ORDER BY t_days
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS log2_s_ubits
FROM terms
"""


@query("events_km_conversion_curve", _KM_ORACLE)
def q_events_km_conversion_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kaplan-Meier time-to-conversion: signup → first big-ticket
    purchase (value >= $150), right-censored at last activity →
    (t_days, n_risk, d_events, c_censored, log2_s_ubits). The
    survival-analysis primitive the retention family lacks: censored
    users stay in the risk set until they drop out, so the curve is
    unbiased where a converters-only mean is survivorship-biased.
    S(t) = 2^(ubits/2^20); a d = n_risk terminal bucket pins S to 0
    via an exact sentinel.

    Determinism: durations in exact integer days (µs div 86400e6);
    each KM factor's log2 quantizes to int64 micro-bits BEFORE the
    cumulative sum (exact in any order/engine); sentinel −10^9 for
    the S=0 step. Shape: three user-keyed aggregates sharing one
    Exchange, then the curve windows run over the DISTINCT-duration
    relation (≤ dataset-span days — tiny by construction, its
    single-partition window is safe the same way the bucket-totals
    windows are)."""
    ev = load_table(spark, sf_dir, "events")

    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("st"))
    )
    p = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & (F.col("value") >= F.lit(_KM_BIG))
        )
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("st"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    last = ev.join(s.select("user_id"), "user_id").groupBy("user_id").agg(
        F.max("ts").alias("lt")
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    subj = (
        s.join(last, "user_id")
        .join(p, "user_id", "left")
        .select(
            F.when(F.col("pt").isNotNull(), 1).otherwise(0).alias("ev"),
            F.expr(
                "(unix_micros(cast(coalesce(pt, lt) as timestamp))"
                " - unix_micros(cast(st as timestamp))) div 86400000000"
            ).alias("t_days"),
        )
    )
    grp = subj.groupBy("t_days").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.sum(1 - F.col("ev")).cast("bigint").alias("c"),
    )
    tot = subj.agg(F.count("*").cast("bigint").alias("n"))
    w_prev = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = grp.crossJoin(F.broadcast(tot)).select(
        "t_days",
        "d",
        "c",
        (
            F.col("n")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)
            )
        ).alias("n_risk"),
    )
    term = (
        F.when(F.col("d") == 0, F.lit(0).cast("bigint"))
        .when(
            F.col("d") < F.col("n_risk"),
            F.floor(
                F.log2(
                    (F.col("n_risk") - F.col("d")).cast("double")
                    / F.col("n_risk").cast("double")
                )
                * F.lit(1_000_000.0)
                + F.lit(0.5)
            ).cast("bigint"),
        )
        .otherwise(F.lit(_KM_DEAD_UBITS).cast("bigint"))
    )
    w_cum = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return risk.select(
        "t_days",
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").alias("d_events"),
        F.col("c").alias("c_censored"),
        term.alias("term"),
    ).select(
        "t_days",
        "n_risk",
        "d_events",
        "c_censored",
        F.sum("term").over(w_cum).cast("bigint").alias("log2_s_ubits"),
    )


# -- CUPED variance-reduced A/B readout -------------------------------------
# Deng et al. WSDM'13: regress the experiment metric on its own
# pre-period value and test the residual — same treatment effect,
# less variance, smaller detectable lift. theta and x-bar come from
# exact int64 moments; each user's adjusted metric is one
# identically-bracketed double, quantized to int64 (2^10 per cent)
# BEFORE the arm sums so the t statistic is engine-exact.

_CUPED_CUTOFF = "2024-01-16"


_CUPED_Q = 1024  # 2^10 — exact power-of-2 quantization scale


_CUPED_ORACLE = f"""
WITH u AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                          AND ts < TIMESTAMP '{_CUPED_CUTOFF}'
                    THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS x,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                          AND ts >= TIMESTAMP '{_CUPED_CUTOFF}'
                    THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS y,
           user_id % 2 AS grp
    FROM events GROUP BY user_id
),
g AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
                AS DOUBLE) AS sxx,
           CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                AS DOUBLE) AS sxy
    FROM u
),
th AS (
    SELECT n,
           (CAST(n AS DOUBLE) * sxy
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * sxx
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
           CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
    FROM g
),
adj AS (
    SELECT grp, y,
           CAST(floor((CAST(y AS DOUBLE)
                       - theta * (CAST(x AS DOUBLE) - xbar))
                      * {_CUPED_Q}e0 + 0.5e0) AS BIGINT) AS q
    FROM u, th
),
arms AS (
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                AS DOUBLE) AS syy,
           CAST(SUM(q) AS BIGINT) AS sq,
           CAST(SUM(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0)))
                AS DOUBLE) AS sqq
    FROM adj GROUP BY 1
),
w AS (
    SELECT MAX(CASE WHEN grp = 0 THEN n END) AS n_a,
           MAX(CASE WHEN grp = 1 THEN n END) AS n_b,
           MAX(CASE WHEN grp = 0 THEN sy END) AS sy_a,
           MAX(CASE WHEN grp = 1 THEN sy END) AS sy_b,
           MAX(CASE WHEN grp = 0 THEN syy END) AS syy_a,
           MAX(CASE WHEN grp = 1 THEN syy END) AS syy_b,
           MAX(CASE WHEN grp = 0 THEN sq END) AS sq_a,
           MAX(CASE WHEN grp = 1 THEN sq END) AS sq_b,
           MAX(CASE WHEN grp = 0 THEN sqq END) AS sqq_a,
           MAX(CASE WHEN grp = 1 THEN sqq END) AS sqq_b
    FROM arms
)
SELECT n_a, n_b, theta,
       (CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        - CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE))
       / sqrt(
           (syy_a - CAST(sy_a AS DOUBLE) * CAST(sy_a AS DOUBLE)
                    / CAST(n_a AS DOUBLE))
               / CAST(n_a - 1 AS DOUBLE) / CAST(n_a AS DOUBLE)
           + (syy_b - CAST(sy_b AS DOUBLE) * CAST(sy_b AS DOUBLE)
                      / CAST(n_b AS DOUBLE))
               / CAST(n_b - 1 AS DOUBLE) / CAST(n_b AS DOUBLE)
       ) AS t_raw,
       (CAST(sq_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        - CAST(sq_b AS DOUBLE) / CAST(n_b AS DOUBLE))
       / sqrt(
           (sqq_a - CAST(sq_a AS DOUBLE) * CAST(sq_a AS DOUBLE)
                    / CAST(n_a AS DOUBLE))
               / CAST(n_a - 1 AS DOUBLE) / CAST(n_a AS DOUBLE)
           + (sqq_b - CAST(sq_b AS DOUBLE) * CAST(sq_b AS DOUBLE)
                      / CAST(n_b AS DOUBLE))
               / CAST(n_b - 1 AS DOUBLE) / CAST(n_b AS DOUBLE)
       ) AS t_cuped
FROM th, w
"""


@query("events_cuped_ab_adjusted", _CUPED_ORACLE)
def q_events_cuped_ab_adjusted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al.
    WSDM'13): per user, post-period purchase revenue adjusted by its
    own pre-period value (theta = cov(x,y)/var(x)), then Welch t on
    raw vs adjusted → (n_a, n_b, theta, t_raw, t_cuped). The standard
    trick that shrinks experiment runtimes: same expected lift,
    provably lower variance, so |t_cuped| >= |t_raw| when the
    pre-period predicts the metric.

    Determinism: theta/x-bar from exact int64/decimal moments; each
    user's adjustment is ONE identically-bracketed double, quantized
    to int64 (2^10 per cent — an exact power-of-2 scale) BEFORE the
    arm sums; squared sums widen through DECIMAL(19,0)x(19,0)
    products so no count ever overflows. Shape: one user aggregate,
    one 1-row moment pass broadcast back, one arm aggregate — three
    map-side-combined shuffles on tiny relations after the scan."""
    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    cutoff = F.lit(_CUPED_CUTOFF).cast("timestamp")
    is_p = F.col("event_type") == "purchase"
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(is_p & (F.col("ts") < cutoff), cents).otherwise(0)
        )
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.when(is_p & (F.col("ts") >= cutoff), cents).otherwise(0)
        )
        .cast("bigint")
        .alias("y"),
    ).withColumn("grp", F.col("user_id") % 2)
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    g = u.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(dec("x") * dec("x")).cast("double").alias("sxx"),
        F.sum(dec("x") * dec("y")).cast("double").alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    th = g.select(
        "n",
        (
            (d("n") * F.col("sxy") - d("sx") * d("sy"))
            / (d("n") * F.col("sxx") - d("sx") * d("sx"))
        ).alias("theta"),
        (d("sx") / d("n")).alias("xbar"),
    )
    adj = u.crossJoin(F.broadcast(th)).select(
        "grp",
        "y",
        F.floor(
            (d("y") - F.col("theta") * (d("x") - F.col("xbar")))
            * F.lit(float(_CUPED_Q))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("q"),
    )
    arms = adj.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(dec("y") * dec("y")).cast("double").alias("syy"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum(dec("q") * dec("q")).cast("double").alias("sqq"),
    )
    pick = lambda grp, c: F.max(  # noqa: E731
        F.when(F.col("grp") == grp, F.col(c))
    )
    w = arms.agg(
        pick(0, "n").alias("n_a"),
        pick(1, "n").alias("n_b"),
        pick(0, "sy").alias("sy_a"),
        pick(1, "sy").alias("sy_b"),
        pick(0, "syy").alias("syy_a"),
        pick(1, "syy").alias("syy_b"),
        pick(0, "sq").alias("sq_a"),
        pick(1, "sq").alias("sq_b"),
        pick(0, "sqq").alias("sqq_a"),
        pick(1, "sqq").alias("sqq_b"),
    )

    def welch(s_a, s_b, ss_a, ss_b):
        ma = d(s_a) / d("n_a")
        mb = d(s_b) / d("n_b")
        va_n = (
            (F.col(ss_a) - d(s_a) * d(s_a) / d("n_a"))
            / (F.col("n_a") - 1).cast("double")
            / d("n_a")
        )
        vb_n = (
            (F.col(ss_b) - d(s_b) * d(s_b) / d("n_b"))
            / (F.col("n_b") - 1).cast("double")
            / d("n_b")
        )
        return (ma - mb) / F.sqrt(va_n + vb_n)

    return w.crossJoin(F.broadcast(th.select("theta"))).select(
        "n_a",
        "n_b",
        "theta",
        welch("sy_a", "sy_b", "syy_a", "syy_b").alias("t_raw"),
        welch("sq_a", "sq_b", "sqq_a", "sqq_b").alias("t_cuped"),
    )


# -- Distribution drift: PSI + KS -------------------------------------------
# The model-monitoring pair: Population Stability Index over fixed $20
# bins (the scorecard-industry drift alarm) and the two-sample
# Kolmogorov-Smirnov statistic (assumption-free CDF distance). Split =
# first vs second half of the month. KS is computed ENTIRELY in
# integers — D = max |c1·n2 − c2·n1| / (n1·n2) — so the supremum pick
# is exact; PSI terms quantize to µnats before the sum.

_DRIFT_CUTOFF = "2024-01-16"


_PSI_ORACLE = f"""
WITH m AS (
    SELECT CASE WHEN ts < TIMESTAMP '{_DRIFT_CUTOFF}' THEN 0 ELSE 1
           END AS half,
           CAST(floor(CAST(value AS DECIMAL(18,2)) / 20) AS BIGINT)
               AS bin
    FROM events WHERE event_type = 'purchase'
),
c AS (
    SELECT bin,
           CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS c1,
           CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS c2
    FROM m GROUP BY 1
),
n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c2) AS BIGINT) AS n2 FROM c),
t AS (
    SELECT bin, c1, c2,
           CAST(floor(
               (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))
               * ln((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                    / (CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
               * 1000000.0 + 0.5) AS BIGINT) AS psi_ubits
    FROM c, n WHERE c1 > 0 AND c2 > 0
)
SELECT bin, c1, c2, psi_ubits FROM t
"""


@query("events_psi_value_drift", _PSI_ORACLE)
def q_events_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of purchase value between the two
    halves of the month, fixed $20 bins → (bin, c1, c2, psi_ubits).
    The scorecard-industry drift alarm (PSI > 0.1: investigate;
    > 0.25: retrain) as per-bin contributions — Σ psi_ubits / 10^6
    is the headline index, and the per-bin split says WHERE the
    distribution moved. Bins empty on either side are excluded (the
    standard convention; they'd send the log term to ±inf).

    Determinism: counts exact; each bin's (p−q)·ln(p/q) term is one
    identically-bracketed double quantized to int64 µnats. Shape:
    one filtered scan → map-side-combined bin counts → 1-row totals
    broadcast back; |bins| is value-range-bounded regardless of row
    count."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("ts") < F.lit(_DRIFT_CUTOFF).cast("timestamp"), 0
        )
        .otherwise(1)
        .alias("half"),
        F.floor(F.col("value").cast("decimal(18,2)") / 20)
        .cast("bigint")
        .alias("bin"),
    )
    c = m.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c2"),
    )
    n = c.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    d = lambda x: F.col(x).cast("double")  # noqa: E731
    p = d("c1") / d("n1")
    q = d("c2") / d("n2")
    return (
        c.crossJoin(F.broadcast(n))
        .filter((F.col("c1") > 0) & (F.col("c2") > 0))
        .select(
            "bin",
            "c1",
            "c2",
            F.floor((p - q) * F.log(p / q) * F.lit(1_000_000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("psi_ubits"),
        )
    )


_KS_ORACLE = f"""
WITH m AS (
    SELECT CASE WHEN ts < TIMESTAMP '{_DRIFT_CUTOFF}' THEN 0 ELSE 1
           END AS half,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events WHERE event_type = 'purchase'
),
v AS (
    SELECT c,
           CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS d1,
           CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS d2
    FROM m GROUP BY 1
),
n AS (SELECT CAST(SUM(d1) AS BIGINT) AS n1,
             CAST(SUM(d2) AS BIGINT) AS n2 FROM v),
cum AS (
    SELECT c,
           SUM(d1) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS f1,
           SUM(d2) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS f2
    FROM v
),
gap AS (
    SELECT c, abs(f1 * n2 - f2 * n1) AS g, n1, n2 FROM cum, n
)
SELECT n1, n2,
       CAST(MAX(g) AS BIGINT) AS ks_num,
       CAST(MAX(g) AS DOUBLE)
           / (CAST(MAX(n1) AS DOUBLE) * CAST(MAX(n2) AS DOUBLE))
           AS ks_d
FROM gap GROUP BY n1, n2
"""


@query("events_ks_two_sample", _KS_ORACLE)
def q_events_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the month's
    two halves of purchase value → (n1, n2, ks_num, ks_d). The
    assumption-free CDF-distance complement of PSI (binned) and
    Welch (means): D = sup |F1 − F2|, computed ENTIRELY in integers
    as max |F1·n2 − F2·n1| over distinct cent values — the supremum
    is an exact integer pick, with ONE double division at the end.

    Shape: map-side-combined per-value counts (state = distinct cent
    values, value-range-bounded), running sums over that bounded
    relation, one max aggregate. The distinct-value pre-agg is what
    makes a CDF supremum scale-safe — the windows never see raw
    rows."""
    ev = load_table(spark, sf_dir, "events")

    m = ev.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("ts") < F.lit(_DRIFT_CUTOFF).cast("timestamp"), 0
        )
        .otherwise(1)
        .alias("half"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    v = m.groupBy("c").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("d2"),
    )
    n = v.agg(
        F.sum("d1").cast("bigint").alias("n1"),
        F.sum("d2").cast("bigint").alias("n2"),
    )
    w = Window.orderBy("c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = v.select(
        "c",
        F.sum("d1").over(w).alias("f1"),
        F.sum("d2").over(w).alias("f2"),
    )
    gap = cum.crossJoin(F.broadcast(n)).select(
        F.abs(
            F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")
        ).alias("g"),
        "n1",
        "n2",
    )
    return gap.groupBy("n1", "n2").agg(
        F.max("g").cast("bigint").alias("ks_num"),
        (
            F.max("g").cast("double")
            / (F.max("n1").cast("double") * F.max("n2").cast("double"))
        ).alias("ks_d"),
    )


# -- Mann-Whitney U ----------------------------------------------------------
# The rank-based two-sample test completing the stats suite (Welch:
# means under normality; KS: CDF distance; bootstrap: resampling).
# Doubled tie-averaged rank sums are EXACT integers: a value with d1/d2
# occurrences and cum_before predecessors contributes
# d1·(2·cum_before + d1 + d2 + 1) to 2·R1 — so U is exact in halves,
# and only the tie-corrected normal approximation is floating point.

_MWU_ORACLE = f"""
WITH m AS (
    SELECT user_id % 2 AS grp,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events WHERE event_type = 'purchase'
),
v AS (
    SELECT c,
           CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS d1,
           CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS d2
    FROM m GROUP BY 1
),
cum AS (
    SELECT c, d1, d2,
           COALESCE(SUM(d1 + d2) OVER (ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cb
    FROM v
),
agg AS (
    SELECT CAST(SUM(d1) AS BIGINT) AS n1,
           CAST(SUM(d2) AS BIGINT) AS n2,
           CAST(SUM(d1 * (2 * cb + d1 + d2 + 1)) AS BIGINT) AS r1x2,
           CAST(SUM((d1 + d2) * (d1 + d2) * (d1 + d2) - (d1 + d2))
                AS BIGINT) AS tie3
    FROM cum
),
fin AS (
    SELECT n1, n2,
           CAST(2 * n1 * n2 + n1 * (n1 + 1) - r1x2 AS BIGINT) AS u_x2,
           CAST(n1 * n2 AS DOUBLE) / 12e0
           * (CAST(n1 + n2 + 1 AS DOUBLE)
              - CAST(tie3 AS DOUBLE)
                / (CAST(n1 + n2 AS DOUBLE)
                   * CAST(n1 + n2 - 1 AS DOUBLE))) AS vr
    FROM agg
)
SELECT n1, n2, u_x2,
       CASE WHEN vr > 0e0 THEN
           (CAST(u_x2 AS DOUBLE) / 2e0 - CAST(n1 * n2 AS DOUBLE) / 2e0)
           / sqrt(vr)
       ELSE NULL END AS z_stat
FROM fin
"""


@query("events_mann_whitney_u", _MWU_ORACLE)
def q_events_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between the two deterministic cohorts of
    purchase value → (n1, n2, u_x2, z_stat). The nonparametric member
    of the testing suite — rank-based, so outliers and skew can't
    fake or mask a shift the way they can in a means test; u_x2 is
    the EXACT doubled U (tie-averaged ranks are half-integers), and
    only the tie-corrected normal z is floating point.

    Shape: per-cent-value counts (map-side combined, value-range-
    bounded), one running sum over that bounded relation, one moment
    aggregate — the same distinct-value pre-agg discipline as the KS
    statistic, and why a rank test scales at all (raw ranks would
    need a global sort; tie-grouped ranks need |distinct values|)."""
    ev = load_table(spark, sf_dir, "events")

    m = ev.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2).alias("grp"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    v = m.groupBy("c").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("d2"),
    )
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    cum = v.select(
        "d1",
        "d2",
        F.coalesce(
            F.sum(F.col("d1") + F.col("d2")).over(w), F.lit(0)
        ).alias("cb"),
    )
    t = F.col("d1") + F.col("d2")
    agg = cum.agg(
        F.sum("d1").cast("bigint").alias("n1"),
        F.sum("d2").cast("bigint").alias("n2"),
        F.sum(
            F.col("d1") * (2 * F.col("cb") + F.col("d1") + F.col("d2") + 1)
        )
        .cast("bigint")
        .alias("r1x2"),
        F.sum(t * t * t - t).cast("bigint").alias("tie3"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    ux2 = (
        2 * F.col("n1") * F.col("n2")
        + F.col("n1") * (F.col("n1") + 1)
        - F.col("r1x2")
    )
    # Degenerate guard: if every purchase value ties into one group
    # (or one cohort is empty) the tie-corrected variance is exactly
    # 0 and z would divide by zero — Spark and DuckDB disagree on
    # what that yields (NaN/NULL/error), so both sides emit NULL.
    vr = (
        (F.col("n1") * F.col("n2")).cast("double")
        / F.lit(12.0)
        * (
            (F.col("n1") + F.col("n2") + 1).cast("double")
            - d("tie3")
            / (
                (F.col("n1") + F.col("n2")).cast("double")
                * (F.col("n1") + F.col("n2") - 1).cast("double")
            )
        )
    )
    z = (
        ux2.cast("double") / F.lit(2.0)
        - (F.col("n1") * F.col("n2")).cast("double") / F.lit(2.0)
    ) / F.sqrt(vr)
    return agg.select(
        "n1",
        "n2",
        ux2.cast("bigint").alias("u_x2"),
        F.when(vr > 0, z)
        .otherwise(F.lit(None).cast("double"))
        .alias("z_stat"),
    )


# -- Chi-square independence ------------------------------------------------
# The categorical member of the shift-test suite (PSI: binned numeric;
# KS/MWU: continuous; this: is the event-type MIX independent of the
# cohort). (o-e)^2/e terms quantize to micro-units before the sum.

_CHI2_ORACLE = """
WITH m AS (
    SELECT user_id % 2 AS grp, event_type FROM events
),
c AS (
    SELECT grp, event_type, CAST(COUNT(*) AS BIGINT) AS o
    FROM m GROUP BY 1, 2
),
rt AS (SELECT grp, CAST(SUM(o) AS BIGINT) AS nr FROM c GROUP BY 1),
ct AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS nc FROM c GROUP BY 1),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM c),
t AS (
    SELECT c.grp, c.event_type, o,
           CAST(floor(
               (CAST(o AS DOUBLE)
                - CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE)
                  / CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE)
                  - CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE)
                    / CAST(n AS DOUBLE))
               / (CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE)
                  / CAST(n AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT) AS chi2_u
    FROM c JOIN rt USING (grp) JOIN ct USING (event_type)
    CROSS JOIN tot
)
SELECT grp, event_type, o, chi2_u FROM t
"""


@query("events_chi2_independence", _CHI2_ORACLE)
def q_events_chi2_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chi-square test of independence between cohort and event-type
    mix → one row per cell (grp, event_type, o, chi2_u); the
    statistic is Σ chi2_u / 10^6 with df = (R−1)(C−1), and the
    per-cell terms localize WHICH behavior diverged. The categorical
    member of the shift suite (PSI: binned numeric; KS/MWU:
    continuous ranks; Welch/CUPED: means).

    Determinism: observed/marginal counts exact; each cell's
    (o−e)²/e is one identically-bracketed double quantized to int64
    micro-units. Shape: one map-side-combined cell count (R·C cells,
    cardinality-bounded), marginals derived FROM the cell relation
    (no second scan), broadcast joins of tiny marginal relations."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        (F.col("user_id") % 2).alias("grp"), "event_type"
    ).groupBy("grp", "event_type").agg(
        F.count("*").cast("bigint").alias("o")
    )
    rt = c.groupBy("grp").agg(F.sum("o").cast("bigint").alias("nr"))
    ct = c.groupBy("event_type").agg(
        F.sum("o").cast("bigint").alias("nc")
    )
    tot = c.agg(F.sum("o").cast("bigint").alias("n"))
    d = lambda x: F.col(x).cast("double")  # noqa: E731
    e = d("nr") * d("nc") / d("n")
    return (
        c.join(F.broadcast(rt), "grp")
        .join(F.broadcast(ct), "event_type")
        .crossJoin(F.broadcast(tot))
        .select(
            "grp",
            "event_type",
            "o",
            F.floor(
                (d("o") - e) * (d("o") - e) / e * F.lit(1_000_000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("chi2_u"),
        )
    )


# -- Difference-in-differences ----------------------------------------------
# The causal-inference staple: effect = (treat_post − treat_pre) −
# (ctrl_post − ctrl_pre), the parallel-trends estimate that survives
# level differences between cohorts AND common time shocks. Four-cell
# moment aggregate, exact int64 cent sums, one identically-bracketed
# double expression for the estimate and its pooled SE.

_DID_ORACLE = f"""
WITH m AS (
    SELECT user_id % 2 AS grp,
           CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOFF}' THEN 0 ELSE 1
           END AS post,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events WHERE event_type = 'purchase'
),
s AS (
    SELECT grp, post, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c) AS BIGINT) AS sx,
           CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
                AS DOUBLE) AS sq
    FROM m GROUP BY 1, 2
),
w AS (
    SELECT
        MAX(CASE WHEN grp = 1 AND post = 1 THEN CAST(sx AS DOUBLE)
                 / CAST(n AS DOUBLE) END) AS m_tp,
        MAX(CASE WHEN grp = 1 AND post = 0 THEN CAST(sx AS DOUBLE)
                 / CAST(n AS DOUBLE) END) AS m_t0,
        MAX(CASE WHEN grp = 0 AND post = 1 THEN CAST(sx AS DOUBLE)
                 / CAST(n AS DOUBLE) END) AS m_cp,
        MAX(CASE WHEN grp = 0 AND post = 0 THEN CAST(sx AS DOUBLE)
                 / CAST(n AS DOUBLE) END) AS m_c0,
        MAX(CASE WHEN grp = 1 AND post = 1 THEN
            (sq - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                  / CAST(n AS DOUBLE))
            / CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE) END) AS v_tp,
        MAX(CASE WHEN grp = 1 AND post = 0 THEN
            (sq - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                  / CAST(n AS DOUBLE))
            / CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE) END) AS v_t0,
        MAX(CASE WHEN grp = 0 AND post = 1 THEN
            (sq - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                  / CAST(n AS DOUBLE))
            / CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE) END) AS v_cp,
        MAX(CASE WHEN grp = 0 AND post = 0 THEN
            (sq - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                  / CAST(n AS DOUBLE))
            / CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE) END) AS v_c0
    FROM s
)
SELECT ((m_tp - m_t0) - (m_cp - m_c0)) / 100e0 AS did_effect,
       sqrt(v_tp + v_t0 + v_cp + v_c0) / 100e0 AS did_se,
       ((m_tp - m_t0) - (m_cp - m_c0))
           / sqrt(v_tp + v_t0 + v_cp + v_c0) AS did_t
FROM w
"""


@query("events_did_estimator", _DID_ORACLE)
def q_events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences over the 2×2 (cohort × pre/post)
    design → (did_effect, did_se, did_t) in dollars. The
    causal-inference staple of the experiment family: immune to level
    differences between cohorts AND to common time shocks, under the
    parallel-trends assumption the pre-period exists to check.

    Determinism: four cells of exact moments (int64 cent sums,
    DECIMAL(19,0)²-widened squares); the estimate, its pooled SE, and
    the t ratio are one identically-bracketed double expression each
    (sqrt is correctly-rounded). Shape: ONE filtered scan →
    map-side-combined 4-group aggregate → a 4-row pivot — the
    cheapest possible causal readout at any scale."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_CUPED_CUTOFF).cast("timestamp")
    m = ev.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2).alias("grp"),
        F.when(F.col("ts") < cutoff, 0).otherwise(1).alias("post"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    s = m.groupBy("grp", "post").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sx"),
        F.sum(dec("c") * dec("c")).cast("double").alias("sq"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mean = d("sx") / d("n")
    var_n = (
        (F.col("sq") - d("sx") * d("sx") / d("n"))
        / (F.col("n") - 1).cast("double")
        / d("n")
    )

    def cell(g, p, expr, alias):
        return F.max(
            F.when((F.col("grp") == g) & (F.col("post") == p), expr)
        ).alias(alias)

    w = s.agg(
        cell(1, 1, mean, "m_tp"),
        cell(1, 0, mean, "m_t0"),
        cell(0, 1, mean, "m_cp"),
        cell(0, 0, mean, "m_c0"),
        cell(1, 1, var_n, "v_tp"),
        cell(1, 0, var_n, "v_t0"),
        cell(0, 1, var_n, "v_cp"),
        cell(0, 0, var_n, "v_c0"),
    )
    eff = (F.col("m_tp") - F.col("m_t0")) - (
        F.col("m_cp") - F.col("m_c0")
    )
    se = F.sqrt(
        F.col("v_tp") + F.col("v_t0") + F.col("v_cp") + F.col("v_c0")
    )
    return w.select(
        (eff / F.lit(100.0)).alias("did_effect"),
        (se / F.lit(100.0)).alias("did_se"),
        (eff / se).alias("did_t"),
    )


# -- Bucketed range join over burst windows ---------------------------------
# A range join with NO natural equi-key: intervals (the 3-day windows
# around each event type's 3 busiest days) joined to the event stream
# by ts-in-interval. The scale shape is interval bucketing — each
# interval explodes to its covered day buckets, the join runs as an
# EQUI-join on the day key (broadcast: the interval relation is
# types x 3 rows), and no non-equi theta join ever reaches the
# executor. This is the generic recipe for range joins Spark lacks
# natively: discretize the range axis, equi-join the buckets, then
# (for partial buckets) re-filter exactly — here buckets are whole
# days so no residual filter is needed.

_BURST_ORACLE = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
    FROM events GROUP BY 1, 2
),
top3 AS (
    SELECT event_type, d FROM (
        SELECT event_type, d,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY c DESC, d) AS rk
        FROM daily) WHERE rk <= 3
),
buckets AS (
    SELECT event_type AS burst_type, d AS center_day,
           CAST(d + o AS DATE) AS day
    FROM top3, unnest([-1, 0, 1]) AS r(o)
)
SELECT b.burst_type, b.center_day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e
JOIN buckets b ON CAST(e.ts AS DATE) = b.day
GROUP BY 1, 2
"""


@query("events_burst_range_join", _BURST_ORACLE)
def q_events_burst_range_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Activity during burst windows: for each event type's 3 busiest
    days, the +/-1-day window's total traffic (all types) — events,
    distinct users, and summed value per (burst_type, center_day).
    The operator shape is a RANGE JOIN (ts within [center-1,
    center+1]) executed as a bucketed equi-join: each interval
    explodes to its day buckets and the stream joins on the day key.

    Determinism: exact counts; value sums ride DECIMAL(18,2); busiest
    days tiebreak (count desc, day asc). Scale: the interval relation
    is |types| x 3 rows — broadcast; the event stream is scanned ONCE
    and never shuffles on anything but the final (type, day) group
    key; no theta join appears in the plan."""

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "value",
    )
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("c"))
    wk = Window.partitionBy("event_type").orderBy(
        F.desc("c"), F.asc("d")
    )
    top3 = (
        daily.select(
            "event_type", "d", F.row_number().over(wk).alias("rk")
        )
        .filter(F.col("rk") <= 3)
    )
    buckets = top3.select(
        F.col("event_type").alias("burst_type"),
        F.col("d").alias("center_day"),
        F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("o"),
    ).select(
        "burst_type",
        "center_day",
        F.date_add(F.col("center_day"), F.col("o")).alias("day"),
    )
    return (
        ev.join(
            F.broadcast(buckets), F.to_date("ts") == F.col("day")
        )
        .groupBy("burst_type", "center_day")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )


# -- Holt-Winters seasonal forecast -------------------------------------------
# Completes the forecasting family: events_trend_ols (line),
# orders_revenue_holt_forecast (level+trend), orders_holt_backtest
# (accuracy) — none of which see SEASONALITY. Additive Holt-Winters
# with a weekly period over the daily purchase-revenue series, as the
# same ordered-fold-over-a-tiny-series shape as Holt: both engines
# evaluate the identical expression tree left-to-right over the
# identical day-sorted list, so the (level, trend, 7-slot seasonal
# ring) recurrence is bit-identical with no quantization. The oracle
# is a RECURSIVE CTE carrying the seasonal ring as a LIST column
# (list_reduce cannot express a cross-referencing recurrence — the
# struct_pack sequential-update trap documented at
# orders_revenue_holt_forecast).

_HW_ALPHA, _HW_BETA, _HW_GAMMA, _HW_P = 0.3, 0.1, 0.2, 7


_HW_ORACLE = """
WITH RECURSIVE d AS MATERIALIZED (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
ordered AS MATERIALIZED (
    SELECT row_number() OVER (ORDER BY day) AS rn, y FROM d
),
fit(rn, l, b, seas) AS (
    SELECT 1, y, 0e0, [0e0, 0e0, 0e0, 0e0, 0e0, 0e0, 0e0]
    FROM ordered WHERE rn = 1
    UNION ALL
    SELECT o.rn,
           0.3e0 * (o.y - f.seas[1]) + 0.7e0 * (f.l + f.b),
           0.1e0 * ((0.3e0 * (o.y - f.seas[1]) + 0.7e0 * (f.l + f.b))
                    - f.l) + 0.9e0 * f.b,
           list_append(f.seas[2:],
               0.2e0 * (o.y - (0.3e0 * (o.y - f.seas[1])
                               + 0.7e0 * (f.l + f.b)))
               + 0.8e0 * f.seas[1])
    FROM fit f JOIN ordered o ON o.rn = f.rn + 1
),
last AS (
    SELECT l, b, seas FROM fit
    WHERE rn = (SELECT MAX(rn) FROM ordered)
)
SELECT CAST(h AS BIGINT) AS h,
       l + CAST(h AS DOUBLE) * b + seas[h] AS forecast
FROM last, unnest([1, 2, 3, 4, 5, 6, 7]) AS t(h)
"""


@query("events_holt_winters_forecast", _HW_ORACLE)
def q_events_holt_winters_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Additive Holt-Winters (alpha=0.3, beta=0.1, gamma=0.2, weekly
    period) over the daily purchase-revenue series, forecasting the
    next 7 days → (h, forecast). The seasonal member of the
    forecasting family: level and trend adapt as in Holt, and a
    7-slot seasonal ring learns the day-of-week profile — zero-seeded
    (no lookahead), so the first week's steps smooth against zeros.

    Shape: one decimal-exact day aggregate (map-side combined, ~D rows
    for D days regardless of event count), then the recurrence folds
    over that tiny sorted array in a single task — the series, not
    the table, is sequential. Forecast h uses seasonal slot h of the
    final ring (slot 1 = s[t-6] = the (t+1)-aligned day-of-week).
    Bit-identical across engines via the ordered-fold contract: both
    evaluate the same expression tree left-to-right, with the shared
    level term textually repeated (never bound) on both sides.
    """
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("y")
        )
    )
    xs = d.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "y"))),
            lambda e: e["y"],
        ).alias("xs")
    )
    a, bt, g, p = _HW_ALPHA, _HW_BETA, _HW_GAMMA, _HW_P

    def merge(acc, y):
        s0 = F.element_at(acc["seas"], 1)
        lnew = F.lit(a) * (y - s0) + F.lit(1 - a) * (
            acc["l"] + acc["b"]
        )
        return F.struct(
            lnew.alias("l"),
            (
                F.lit(bt)
                * (
                    F.lit(a) * (y - s0)
                    + F.lit(1 - a) * (acc["l"] + acc["b"])
                    - acc["l"]
                )
                + F.lit(1 - bt) * acc["b"]
            ).alias("b"),
            F.concat(
                F.slice(acc["seas"], 2, p - 1),
                F.array(
                    F.lit(g)
                    * (
                        y
                        - (
                            F.lit(a) * (y - s0)
                            + F.lit(1 - a) * (acc["l"] + acc["b"])
                        )
                    )
                    + F.lit(1 - g) * s0
                ),
            ).alias("seas"),
        )

    seed = F.struct(
        F.element_at(F.col("xs"), 1).alias("l"),
        F.lit(0.0).alias("b"),
        F.array(*[F.lit(0.0) for _ in range(p)]).alias("seas"),
    )
    fit = xs.select(
        F.aggregate(
            F.slice(F.col("xs"), 2, F.size("xs") - 1), seed, merge
        ).alias("st")
    )
    return fit.select(
        F.explode(
            F.array(*[F.lit(h) for h in range(1, p + 1)])
        ).alias("h"),
        "st",
    ).select(
        F.col("h").cast("long").alias("h"),
        (
            F.col("st.l")
            + F.col("h").cast("double") * F.col("st.b")
            + F.element_at(F.col("st.seas"), F.col("h"))
        ).alias("forecast"),
    )


# -- Multi-model marketing attribution -----------------------------------------
# The events analytics family has funnels, sessions, and sequence
# patterns; ATTRIBUTION is the decision layer on top: when a purchase
# closes a journey, which touch channels get the credit? The three
# standard position rules in ONE pass: first-touch, last-touch, and
# linear (1/n per touch, floor-quantized to integer micro-credits so
# the sums are order-free exact int64 — the repo-wide posture for
# cross-engine additive floats).
#
# A journey = a user's events since their previous purchase; the
# purchase that closes it carries the conversion. Zero-touch
# conversions (a purchase with no preceding touch) credit nobody.

_ATTR_ORACLE = """
WITH e AS (
    SELECT user_id, event_type, ts, event_id,
           COUNT(*) FILTER (event_type = 'purchase') OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS jid
    FROM events
),
j AS (
    SELECT user_id, jid,
           COUNT(*) FILTER (event_type <> 'purchase') AS n_touch,
           COUNT(*) FILTER (event_type = 'purchase') AS closed,
           min_by(event_type, CASE WHEN event_type <> 'purchase'
                  THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS first_ch,
           max_by(event_type, CASE WHEN event_type <> 'purchase'
                  THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS last_ch
    FROM e GROUP BY 1, 2
),
conv AS (SELECT * FROM j WHERE closed > 0 AND n_touch > 0),
touches AS (
    SELECT e.event_type AS channel, c.n_touch
    FROM e JOIN conv c
      ON e.user_id = c.user_id AND e.jid = c.jid
    WHERE e.event_type <> 'purchase'
)
SELECT ch.channel,
       CAST(COALESCE(f.n, 0) AS BIGINT) AS first_touch,
       CAST(COALESCE(l.n, 0) AS BIGINT) AS last_touch,
       CAST(COALESCE(t.micro, 0) AS BIGINT) AS linear_micro
FROM (SELECT DISTINCT event_type AS channel FROM events
      WHERE event_type <> 'purchase') ch
LEFT JOIN (SELECT first_ch AS channel, COUNT(*) AS n FROM conv
           GROUP BY 1) f USING (channel)
LEFT JOIN (SELECT last_ch AS channel, COUNT(*) AS n FROM conv
           GROUP BY 1) l USING (channel)
LEFT JOIN (SELECT channel, SUM(1000000 // n_touch) AS micro
           FROM touches GROUP BY 1) t USING (channel)
"""


@query("events_attribution_models", _ATTR_ORACLE)
def q_events_attribution_models(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-model conversion attribution in one pass: per channel,
    conversions credited first-touch, last-touch, and linearly
    (integer micro-credits: floor(1e6 / n_touches) per touch, an
    order-free exact int64 sum) → (channel, first_touch, last_touch,
    linear_micro). A journey is a user's events since their previous
    purchase; the closing purchase converts it; zero-touch
    conversions credit nobody.

    Timestamp ties within a journey break on event_id for the
    journey SPLIT; first/last election keys on the event timestamp in
    microseconds (min_by/max_by over a scalar — ties impossible on
    this corpus's microsecond grid, and a tie would surface as a
    hash mismatch, not silent drift).

    Scale shape: one user-keyed shuffle feeds both the running
    purchase count and the journey rollup (same partitioning reused);
    journeys relation ~ #purchases; the per-channel rollups are
    bounded by |channels|. No data-sized unpartitioned window."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    e = ev.withColumn(
        "jid",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w),
            F.lit(0),
        ),
    )
    tkey = F.when(
        F.col("event_type") != "purchase", F.unix_micros("ts")
    )
    j = e.groupBy("user_id", "jid").agg(
        F.sum(
            F.when(F.col("event_type") != "purchase", 1).otherwise(0)
        ).alias("n_touch"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("closed"),
        F.min_by("event_type", tkey).alias("first_ch"),
        F.max_by("event_type", tkey).alias("last_ch"),
    )
    conv = j.filter((F.col("closed") > 0) & (F.col("n_touch") > 0))
    touches = (
        e.filter(F.col("event_type") != "purchase")
        .join(
            conv.select("user_id", "jid", "n_touch"),
            ["user_id", "jid"],
        )
        .select(F.col("event_type").alias("channel"), "n_touch")
    )
    channels = (
        ev.filter(F.col("event_type") != "purchase")
        .select(F.col("event_type").alias("channel"))
        .distinct()
    )
    f = conv.groupBy(F.col("first_ch").alias("channel")).agg(
        F.count("*").alias("fn")
    )
    l = conv.groupBy(F.col("last_ch").alias("channel")).agg(
        F.count("*").alias("ln")
    )
    t = touches.groupBy("channel").agg(
        F.sum(F.expr("1000000 DIV n_touch")).alias("micro")
    )
    return (
        channels.join(f, "channel", "left")
        .join(l, "channel", "left")
        .join(t, "channel", "left")
        .select(
            "channel",
            F.coalesce("fn", F.lit(0)).cast("bigint").alias(
                "first_touch"
            ),
            F.coalesce("ln", F.lit(0)).cast("bigint").alias(
                "last_touch"
            ),
            F.coalesce("micro", F.lit(0)).cast("bigint").alias(
                "linear_micro"
            ),
        )
    )


# -- Markov removal-effect attribution -----------------------------------------
# The data-driven complement to the position rules
# (events_attribution_models): build the journey transition chain
# (START -> touches -> purchase/NULL), and score each channel by its
# REMOVAL EFFECT — how much the chain's conversion probability drops
# when paths through that channel are cut (redirected to the NULL
# absorber), the standard Markov attribution construction.
#
# Conversion probability is the K-step absorption probability
# (K = 8 unrolled value-iteration steps — a pinned, deterministic
# metric rather than an iterate-to-tolerance fixpoint; the journey
# length distribution makes the K-step and exact absorption rankings
# agree). Both engines fold each state's update IN DESTINATION ORDER
# (sorted-list fold == list_reduce ORDER BY dst), so every double is
# the same IEEE op sequence.
#
# Scale shape: the data-sized work is ONE user-keyed shuffle (journey
# split + consecutive-pair extraction); the transition matrix is
# <= (|channels|+2)^2 rows — a bounded driver artifact (the PCA d x d
# Gram precedent) — and the 5 chains x 8 steps run on it driver-side,
# mirrored step-for-step by the oracle's unrolled CTEs.

_MARKOV_K = 8


_MARKOV_CHANNELS = ("click", "error", "signup", "view")


_MARKOV_TRANS_SQL = """
e AS (
    SELECT user_id, event_type, ts, event_id,
           COUNT(*) FILTER (event_type = 'purchase') OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS jid
    FROM events
),
seq AS (
    SELECT user_id, jid, event_type,
           row_number() OVER w AS rn,
           lead(event_type) OVER w AS nxt
    FROM e
    WINDOW w AS (PARTITION BY user_id, jid ORDER BY ts, event_id)
),
tr AS (
    SELECT 'START' AS src, event_type AS dst FROM seq WHERE rn = 1
    UNION ALL
    SELECT event_type, nxt FROM seq WHERE nxt IS NOT NULL
    UNION ALL
    SELECT event_type, 'NULL' FROM seq
    WHERE nxt IS NULL AND event_type <> 'purchase'
),
cnts AS MATERIALIZED (
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM tr GROUP BY 1, 2
),
bigt AS MATERIALIZED (
    SELECT src, dst,
           CAST(cnt AS DOUBLE)
               / CAST(SUM(cnt) OVER (PARTITION BY src) AS DOUBLE) AS p
    FROM cnts
)"""


def _markov_chain_ctes(tag: str, removed: str | None) -> str:
    """CTEs for one chain: redirected transitions + K unrolled
    value-iteration steps. p{tag}{K} holds (state, p)."""
    if removed is None:
        redirect = "SELECT src, dst, SUM(p) AS p FROM bigt GROUP BY 1, 2"
    else:
        redirect = f"""
    SELECT src,
           CASE WHEN dst = '{removed}' THEN 'NULL' ELSE dst END AS dst,
           SUM(p) AS p
    FROM bigt WHERE src <> '{removed}' GROUP BY 1, 2"""
    out = f""",
t{tag} AS MATERIALIZED ({redirect}),
p{tag}0 AS MATERIALIZED (
    SELECT DISTINCT src AS state, 0e0 AS p FROM t{tag}
)"""
    for k in range(1, _MARKOV_K + 1):
        out += f""",
p{tag}{k} AS MATERIALIZED (
    SELECT t.src AS state,
           list_reduce(
               list(t.p * CASE WHEN t.dst = 'purchase' THEN 1e0
                               WHEN t.dst = 'NULL' THEN 0e0
                               ELSE COALESCE(pk.p, 0e0) END
                    ORDER BY t.dst),
               (a, b) -> a + b) AS p
    FROM t{tag} t LEFT JOIN p{tag}{k - 1} pk ON pk.state = t.dst
    GROUP BY 1
)"""
    return out


def _markov_oracle() -> str:
    K = _MARKOV_K
    chains = _markov_chain_ctes("f", None) + "".join(
        _markov_chain_ctes(f"r{i}", c)
        for i, c in enumerate(_MARKOV_CHANNELS)
    )
    rows = "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS channel,
       (SELECT p FROM pf{K} WHERE state = 'START') AS p_conv_base,
       (SELECT p FROM pr{i}{K} WHERE state = 'START') AS p_conv_removed,
       1e0 - (SELECT p FROM pr{i}{K} WHERE state = 'START')
           / (SELECT p FROM pf{K} WHERE state = 'START')
           AS removal_effect"""
        for i, c in enumerate(_MARKOV_CHANNELS)
    )
    return f"WITH {_MARKOV_TRANS_SQL}{chains}\n{rows}"


def _markov_pconv(
    T: dict[tuple[str, str], float], removed: str | None
) -> float:
    """Driver-side mirror of the oracle's unrolled value iteration:
    identical redirect, identical sorted-destination fold, identical
    IEEE op sequence per step."""
    trans: dict[tuple[str, str], float] = {}
    for (s, d), p in T.items():
        if s == removed:
            continue
        dd = "NULL" if d == removed else d
        # the redirect merges at most two terms; IEEE addition of two
        # floats is commutative, so dict order cannot matter
        trans[(s, dd)] = trans.get((s, dd), 0.0) + p
    states = sorted({s for s, _ in trans})
    cur = {s: 0.0 for s in states}
    for _ in range(_MARKOV_K):
        nxt = {}
        for s in states:
            tot = 0.0
            for d in sorted(d for (ss, d) in trans if ss == s):
                pd = (
                    1.0
                    if d == "purchase"
                    else (0.0 if d == "NULL" else cur.get(d, 0.0))
                )
                tot += trans[(s, d)] * pd
            nxt[s] = tot
        cur = nxt
    return cur["START"]


@query("events_attribution_markov", _markov_oracle())
def q_events_attribution_markov(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Markov removal-effect attribution: per channel, the drop in
    the journey chain's 8-step conversion probability when paths
    through that channel are cut → (channel, p_conv_base,
    p_conv_removed, removal_effect). The data-driven counterpart of
    events_attribution_models' position rules: a channel earns credit
    for being LOAD-BEARING in converting paths, not for where it
    happens to sit.

    Scale shape: one user-keyed shuffle extracts journey transitions
    (the same split as the position models); the transition matrix is
    a <= (|channels|+2)^2-row bounded driver artifact (the PCA Gram
    precedent), and the 5 chains x 8 value-iteration steps run on it
    driver-side — mirrored step-for-step (same redirect, same
    sorted-destination IEEE fold) by the oracle's unrolled CTEs."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    e = ev.withColumn(
        "jid",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w),
            F.lit(0),
        ),
    )
    wj = Window.partitionBy("user_id", "jid").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.row_number().over(wj).alias("rn"),
        F.lead("event_type").over(wj).alias("nxt"),
    )
    trans = (
        seq.filter(F.col("rn") == 1)
        .select(
            F.lit("START").alias("src"),
            F.col("event_type").alias("dst"),
        )
        .unionByName(
            seq.filter(F.col("nxt").isNotNull()).select(
                F.col("event_type").alias("src"),
                F.col("nxt").alias("dst"),
            )
        )
        .unionByName(
            seq.filter(
                F.col("nxt").isNull()
                & (F.col("event_type") != "purchase")
            ).select(
                F.col("event_type").alias("src"),
                F.lit("NULL").alias("dst"),
            )
        )
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    rows = trans.collect()  # bounded: <= (|channels|+2)^2 rows
    out_tot: dict[str, float] = {}
    for r in rows:
        out_tot[r["src"]] = out_tot.get(r["src"], 0) + r["cnt"]
    T = {
        (r["src"], r["dst"]): r["cnt"] / out_tot[r["src"]]
        for r in rows
    }
    base = _markov_pconv(T, None)
    data = [
        (
            c,
            base,
            _markov_pconv(T, c),
            1.0 - _markov_pconv(T, c) / base,
        )
        for c in _MARKOV_CHANNELS
    ]
    return spark.createDataFrame(
        data,
        "channel string, p_conv_base double, "
        "p_conv_removed double, removal_effect double",
    )


# -- events_attribution_shapley ---------------------------------------------------
# Completes the attribution family (first/last touch, linear, Markov
# removal-effect) with the game-theoretic member: Shapley values over
# channel coalitions. Journeys (a user's events since their previous
# purchase, the family's shared definition) reduce to a 4-bit touched-
# channel mask; the coalition value v(S) counts converting journeys
# whose touch set is contained in S; each channel's Shapley value is
# the weighted sum of its marginal contributions v(S ∪ {i}) − v(S).
# With k=4 fixed channels the whole game lives on 16 coalition rows,
# and multiplying the |S|!(k−1−|S|)!/k! weights by k!=24 keeps every
# step in exact int64 — the only float is one final /24 division.

_SHAPLEY_CHANNELS = (  # fixed channel universe -> bit positions
    ("click", 1),
    ("error", 2),
    ("signup", 4),
    ("view", 8),
)


_SHAPLEY_BIT_SQL = (
    "CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2 "
    "WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END"
)


_SHAPLEY_ORACLE = f"""
WITH e AS (
    SELECT user_id, event_type, ts, event_id,
           {_SHAPLEY_BIT_SQL} AS bit
    FROM events
),
j AS (
    SELECT user_id, event_type, bit,
           COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1
                             ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS jid
    FROM e
),
journeys AS (
    SELECT user_id, jid,
           bit_or(bit) AS mask,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
    FROM j GROUP BY 1, 2
),
conv AS (
    SELECT mask, CAST(COUNT(*) AS BIGINT) AS n
    FROM journeys WHERE converted = 1 AND mask > 0
    GROUP BY 1
),
subsets AS (SELECT unnest(range(0, 16)) AS S),
v AS (
    SELECT S, CAST(COALESCE(SUM(n), 0) AS BIGINT) AS val
    FROM subsets LEFT JOIN conv ON (conv.mask & subsets.S) = conv.mask
    GROUP BY S
),
channels(channel, bit) AS (
    VALUES ('click', 1), ('error', 2), ('signup', 4), ('view', 8)
),
marginals AS (
    SELECT c.channel,
           CAST(SUM((CASE bit_count(vs.S) WHEN 0 THEN 6 WHEN 1 THEN 2
                     WHEN 2 THEN 2 ELSE 6 END)
                    * (vp.val - vs.val)) AS BIGINT) AS shapley_x24
    FROM channels c
    JOIN v vs ON (vs.S & c.bit) = 0
    JOIN v vp ON vp.S = (vs.S | c.bit)
    GROUP BY 1
),
touched AS (
    SELECT c.channel,
           CAST(COALESCE(SUM(conv.n), 0) AS BIGINT) AS n_journeys_touched
    FROM channels c
    LEFT JOIN conv ON (conv.mask & c.bit) <> 0
    GROUP BY 1
)
SELECT m.channel, t.n_journeys_touched, m.shapley_x24,
       CAST(m.shapley_x24 AS DOUBLE) / 24e0 AS shapley
FROM marginals m JOIN touched t USING (channel)
"""


@query("events_attribution_shapley", _SHAPLEY_ORACLE)
def q_events_attribution_shapley(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shapley-value conversion attribution → (channel,
    n_journeys_touched, shapley_x24, shapley): each channel's average
    marginal contribution to the coalition conversion count v(S) =
    |converting journeys touching only channels in S|, over all
    orderings of the 4-channel universe. Shapley's efficiency axiom
    makes the values sum exactly to v(full) — the total attributed
    conversions — which the round-14 tests assert from the x24
    integers, not a float tolerance.

    Scale shape: ONE user-keyed window splits journeys (the family's
    shared shuffle), one (user, jid) groupBy reduces each journey to a
    4-bit mask via bit_or, and from there the ENTIRE game is algebra
    on a <=15-row mask-count relation x 16 coalition rows — journey
    volume never touches the Shapley combinatorics. k is a fixed
    literal universe: the k! weight table and the 2^k coalition
    lattice are compile-time constants (exact up to k~20 before int64
    weights overflow; marketing channel counts live well below that).
    """

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
    )
    bit = F.when(F.col("event_type") == "click", 1)
    for name, b in _SHAPLEY_CHANNELS[1:]:
        bit = bit.when(F.col("event_type") == name, b)
    bit = bit.otherwise(0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    j = ev.withColumn("bit", bit).withColumn(
        "jid",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w),
            F.lit(0),
        ),
    )
    journeys = j.groupBy("user_id", "jid").agg(
        F.bit_or("bit").alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    conv = (
        journeys.filter((F.col("converted") == 1) & (F.col("mask") > 0))
        .groupBy("mask")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    subsets = F.broadcast(
        j.sparkSession.range(16).select(F.col("id").cast("int").alias("S"))
    )
    v = (
        subsets.join(
            F.broadcast(conv),
            F.expr("(mask & S) = mask"),
            "left",
        )
        .groupBy("S")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("val"))
    )
    channels = F.broadcast(
        j.sparkSession.createDataFrame(
            list(_SHAPLEY_CHANNELS), "channel string, bit int"
        )
    )
    pc = F.bit_count(F.col("vs_S"))
    weight = (
        F.when(pc == 0, 6)
        .when(pc == 1, 2)
        .when(pc == 2, 2)
        .otherwise(6)
    )
    vs = v.select(F.col("S").alias("vs_S"), F.col("val").alias("vs_val"))
    vp = v.select(F.col("S").alias("vp_S"), F.col("val").alias("vp_val"))
    marginals = (
        channels.join(F.broadcast(vs), F.expr("(vs_S & bit) = 0"))
        .join(F.broadcast(vp), F.expr("vp_S = (vs_S | bit)"))
        .groupBy("channel")
        .agg(
            F.sum(weight * (F.col("vp_val") - F.col("vs_val")))
            .cast("bigint")
            .alias("shapley_x24")
        )
    )
    touched = (
        channels.join(
            F.broadcast(conv), F.expr("(mask & bit) <> 0"), "left"
        )
        .groupBy("channel")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0))
            .cast("bigint")
            .alias("n_journeys_touched")
        )
    )
    return marginals.join(touched, "channel").select(
        "channel",
        "n_journeys_touched",
        "shapley_x24",
        (F.col("shapley_x24").cast("double") / F.lit(24.0)).alias(
            "shapley"
        ),
    )


# -- events_gap_fill_interpolate --------------------------------------------------
# events_forward_fill carries the LAST observation across gaps; linear
# interpolation is the other canonical gap repair (sensor/finance
# series, demand calendars). Per event_type, the sparse daily revenue
# series is densified onto its min..max calendar and interior gaps are
# filled with the straight line between the neighboring observations —
# prev/next located with the same ignore-nulls window carries the
# as-of family uses, no join against the observation relation.

_GAPFILL_ORACLE = """
WITH obs AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
bounds AS (
    SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
    FROM obs GROUP BY 1
),
cal AS (
    SELECT user_id, CAST(u.d AS DATE) AS day
    FROM bounds, unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                        CAST(d1 AS TIMESTAMP),
                                        INTERVAL 1 DAY)) AS u(d)
),
g AS (
    SELECT c.user_id, c.day, o.y,
           last_value(o.y IGNORE NULLS) OVER w_prev AS prev_y,
           last_value(CASE WHEN o.y IS NOT NULL THEN c.day END
                      IGNORE NULLS) OVER w_prev AS prev_d,
           first_value(o.y IGNORE NULLS) OVER w_next AS next_y,
           first_value(CASE WHEN o.y IS NOT NULL THEN c.day END
                       IGNORE NULLS) OVER w_next AS next_d
    FROM cal c LEFT JOIN obs o
      ON o.user_id = c.user_id AND o.day = c.day
    WINDOW
      w_prev AS (PARTITION BY c.user_id ORDER BY c.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      w_next AS (PARTITION BY c.user_id ORDER BY c.day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, day,
       y IS NOT NULL AS is_observed,
       CASE WHEN y IS NOT NULL THEN y
            ELSE prev_y + (next_y - prev_y)
                 * (CAST(datediff('day', prev_d, day) AS DOUBLE)
                    / CAST(datediff('day', prev_d, next_d) AS DOUBLE))
       END AS y_filled
FROM g
"""


@query("events_gap_fill_interpolate", _GAPFILL_ORACLE)
def q_events_gap_fill_interpolate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear-interpolation gap fill → (user_id, day, is_observed,
    y_filled): each user's sparse daily purchase-revenue series
    densified onto its own min..max calendar (~60% of calendar days
    are gaps on this corpus at every SF), interior gaps filled with
    the straight line between neighboring observations — the other
    half of the gap-repair pair with events_forward_fill. Endpoints
    are observed by construction (the calendar is bounded by
    observations), so interpolation is total.

    Scale shape: one (user, day) aggregate, a calendar explode bounded
    by each series' span, and two ignore-nulls window carries per
    series — the same single-shuffle carry discipline as the as-of
    family; no self-join against the observation relation. Series
    count and calendar rows both grow LINEARLY with users (measured
    15/150/1500 series at sf0.001/0.01/0.1), and every window is
    partitioned by the series key.

    Float contract: y_filled is prev + (next-prev) * (dt/span) over
    IEEE basic ops only (+,-,*,/) on decimal-exact endpoints —
    bit-identical cross-engine, no transcendentals (FIXTURES.md F7).
    """

    ev = load_table(spark, sf_dir, "events")
    obs = ev.filter(F.col("event_type") == "purchase").groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    cal = (
        obs.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.sequence("d0", "d1")).alias("day"),
        )
    )
    g = cal.join(obs, ["user_id", "day"], "left")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("y").isNotNull(), F.col("day"))
    g = g.select(
        "user_id",
        "day",
        "y",
        F.last("y", ignorenulls=True).over(w_prev).alias("prev_y"),
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("prev_d"),
        F.first("y", ignorenulls=True).over(w_next).alias("next_y"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("next_d"),
    )
    lerp = F.col("prev_y") + (F.col("next_y") - F.col("prev_y")) * (
        F.datediff(F.col("day"), F.col("prev_d")).cast("double")
        / F.datediff(F.col("next_d"), F.col("prev_d")).cast("double")
    )
    return g.select(
        "user_id",
        "day",
        F.col("y").isNotNull().alias("is_observed"),
        F.when(F.col("y").isNotNull(), F.col("y"))
        .otherwise(lerp)
        .alias("y_filled"),
    )
