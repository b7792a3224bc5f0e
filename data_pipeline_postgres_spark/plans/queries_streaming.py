"""Structured Streaming queries and batch pipeline runs.

Each ``stream_*`` query drains an AvailableNow stream over a
deterministic split of a testdata table (streaming/jobs.py); when the
drained result equals a batch query's answer, that batch query's
oracle is passed to ``@query`` directly. The ``pipeline_*`` queries
run the scheduler-facing day, backfill, erasure and incremental-view
plans (pipelines.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import pipelines
from ..catalog import load_table
from ..operators.sketches import CMS_W
from ..scratch import scratch_dir
from ..streaming import jobs as stream_jobs
from ..streaming.jobs import IVM_DEL_MOD, IVM_INS_MOD
from .queries_commerce import _FEATURE_ORACLE
from .queries_curation import (
    _CURRICULUM_ORACLE,
    _DECON_NGRAM_ORACLE,
    _MINHASH_ORACLE,
)
from .queries_dedup import _PAYLOAD_DEDUP_ORACLE
from .queries_events import _ZSCORE_ROLLING_ORACLE
from .queries_relational import FLAGSHIP_ORACLE
from .queries_text import _PII_ORACLE
from .registry import query


# -- pipeline parity (SURVEY.md §3, §7 phase 6) ---------------------------


@query(
    "pipeline_incremental_day",
    f"SELECT * FROM ({FLAGSHIP_ORACLE}) WHERE date = DATE '2024-01-15'",
)
def q_pipeline_incremental_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full scheduler day-run (the reference's DAG chain for a
    single ``ds``): extract the [ds, next_ds) slice into the
    day-partitioned raw zone, transform it, read the transformed
    partition back — partition-pruned at every hop and idempotent
    under re-runs (pipelines.py; metamorphic tests in
    tests/test_pipelines.py)."""
    ds = "2024-01-15"
    work = scratch_dir(
        "pipeline_day_" + os.path.basename(sf_dir.rstrip("/")),
    )
    pipelines.extract_day(spark, sf_dir, work, ds)
    pipelines.transform_day(spark, work, ds)
    return pipelines.load_warehouse(spark, work)


# -- streaming -------------------------------------------------------------


@query(
    "stream_tumbling_daily",
    """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
""",
)
def q_stream_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling 1-day window agg, AvailableNow —
    must equal the batch window_tumbling_daily result."""
    return stream_jobs.tumbling_daily(spark, sf_dir)


@query(
    "stream_tumbling_watermark",
    """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
""",
)
def q_stream_tumbling_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked APPEND-mode tumbling daily agg to a parquet sink —
    bounded state (windows emitted once when the watermark passes,
    then dropped); compacted sink equals the batch oracle."""
    return stream_jobs.tumbling_daily_watermark(spark, sf_dir)


@query(
    "stream_stream_funnel",
    """
SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
 AND CAST(b.ts AS TIMESTAMP) < CAST(a.ts AS TIMESTAMP) + INTERVAL 1 HOUR
WHERE a.event_type = 'click' AND b.event_type = 'purchase'
""",
)
def q_stream_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click → purchase within 1 h per
    user), watermark-bounded state on both sides — must equal the
    batch interval self-join."""
    return stream_jobs.stream_stream_funnel(spark, sf_dir)


@query(
    "stream_session_1h",
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
def q_stream_session_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (1 h gap, merging state, append mode
    + watermark) — must equal the batch gaps-and-islands oracle, the
    same one window_session_1h checks against."""
    return stream_jobs.session_1h_watermark(spark, sf_dir)


@query(
    "stream_cdc_latest",
    """
SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type, value
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY user_id
        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1
""",
)
def q_stream_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming op (applyInPandasWithState): latest
    event per user — the CDC latest-change-wins collapse, streamed."""
    return stream_jobs.cdc_latest(spark, sf_dir)


@query(
    "stream_static_join",
    """
SELECT c_nationkey, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_nationkey
""",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: event stream enriched against the customer
    dim (re-broadcast per micro-batch), aggregated per nation."""
    return stream_jobs.static_join_agg(spark, sf_dir)


@query(
    "stream_dedup",
    """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates on (user_id, event_type): exactly-once
    key emission across micro-batches; result compacted to distinct
    users per event type."""
    return stream_jobs.stream_dedup(spark, sf_dir)


@query(
    "stream_sliding_3d1d",
    """
SELECT CAST(date_trunc('day', ts) - o * INTERVAL '1 day' AS DATE)
           AS window_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events, (SELECT unnest(range(3)) AS o)
GROUP BY 1
""",
)
def q_stream_sliding_3d1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding windows (3-day / 1-day slide), AvailableNow —
    equals the batch window_sliding_3d1d query."""
    return stream_jobs.sliding_3d1d(spark, sf_dir)


@query(
    "stream_incremental_agg",
    """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
""",
)
def q_stream_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch incremental materialized view: per-day aggregate
    table sum-combined across micro-batches (streaming/jobs.py
    incremental_agg_foreachbatch) — additive merge ⇒ any batch split
    yields the batch one-shot answer, which is the oracle."""
    return stream_jobs.incremental_agg_foreachbatch(spark, sf_dir)


@query(
    "stream_dedup_watermark",
    """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""",
)
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with WATERMARK-BOUNDED state
    (dropDuplicatesWithinWatermark) — the unbounded-stream-safe
    variant of stream_dedup; state per key is released once the
    watermark passes it."""
    return stream_jobs.stream_dedup_watermark(spark, sf_dir)


@query("stream_minhash_dedup", _MINHASH_ORACLE)
def q_stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash LSH near-dup via incremental band-index
    maintenance (streaming/jobs.py: minhash_dedup_stream): documents
    stream in micro-batches, each batch joins its band keys against
    the standing append-only index and extends it; the drained
    candidate set + exact-Jaccard verify equals batch dedup_minhash,
    so the same SQL oracle checks it."""
    return stream_jobs.minhash_dedup_stream(spark, sf_dir)


@query("stream_hll_rollup")  # DataSketches binary — no DuckDB analog
def q_stream_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL distinct-user rollup (streaming/jobs.py): the
    micro-batch partial-aggregate merge is the sketch union; equals
    the batch agg_hll_sketch_rollup estimates (tested)."""
    return stream_jobs.hll_rollup_stream(spark, sf_dir).orderBy(
        "event_type", "month"
    )


@query(
    "stream_gopher_filter",
    r"""
WITH t AS (
    SELECT doc_id, text,
           regexp_split_to_array(trim(text), '\s+') AS w,
           length(trim(text)) AS charlen
    FROM documents
),
m AS (
    SELECT doc_id,
           len(w) AS n,
           CAST(list_sum(list_transform(w, tok -> length(tok))) AS DOUBLE)
               / len(w) AS mwl,
           CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE)
               / len(w) AS sr,
           CAST(len(list_filter(w, tok -> regexp_matches(tok, '[a-zA-Z]')))
                AS DOUBLE) / len(w) AS awf,
           CAST(list_contains(w, 'the') AS INT)
           + CAST(list_contains(w, 'a') AS INT)
           + CAST(list_contains(w, 'to') AS INT)
           + CAST(list_contains(w, 'of') AS INT)
           + CAST(list_contains(w, 'and') AS INT)
           + CAST(list_contains(w, 'that') AS INT)
           + CAST(list_contains(w, 'in') AS INT)
           + CAST(list_contains(w, 'with') AS INT) AS stop_hits
    FROM t
)
SELECT doc_id, CAST(n AS BIGINT) AS n_words,
       CAST(stop_hits AS BIGINT) AS stop_hits
FROM m
WHERE n >= 50 AND n <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
  AND sr <= 0.1 AND awf >= 0.8 AND stop_hits >= 2
""",
)
def q_stream_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-time quality gate: micro-batched documents
    flow through the stateless Gopher rule filter (no state store, no
    shuffle) and survivors spool out — equals the batch filter, which
    is the oracle (streaming/jobs.gopher_filter_stream)."""
    return stream_jobs.gopher_filter_stream(spark, sf_dir)


@query("stream_zscore_daily", _ZSCORE_ROLLING_ORACLE)
def q_stream_zscore_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_anomaly_zscore_rolling: a
    foreachBatch-maintained daily-count view (additive merge → the
    standing table is split-invariant) scored with the SHARED
    trailing-28-day z-score operator — so the batch query is the
    oracle verbatim (streaming/jobs.zscore_daily_stream)."""
    return stream_jobs.zscore_daily_stream(spark, sf_dir)


# -- Streaming PII redaction -----------------------------------------------


@query("stream_pii_redact", _PII_ORACLE)
def q_stream_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-time PII scrub: stateless map-only streaming
    plan (no state store / watermark / shuffle), AvailableNow drain
    over 3 micro-batches; the spool equals the batch redaction, so
    the batch pii_redact SQL is the oracle
    (streaming/jobs.pii_redact_stream)."""
    return stream_jobs.pii_redact_stream(spark, sf_dir)


# -- Streaming decontamination ---------------------------------------------


@query("stream_decontaminate", _DECON_NGRAM_ORACLE)
def q_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-time benchmark decontamination: per
    micro-batch, training docs are flagged against the STATIC
    broadcast eval n-gram set inside foreachBatch (batch-local
    aggregate — a doc never spans files), so the streaming plan
    carries zero state store. AvailableNow drain ≡ the batch
    decontaminate_ngram query, same SQL oracle
    (streaming/jobs.decontaminate_stream)."""
    return stream_jobs.decontaminate_stream(spark, sf_dir)


_CMS_STREAM_ORACLE = rf"""
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
)
SELECT CAST(r AS BIGINT) AS r, bucket,
       CAST(SUM(exact_ct) AS BIGINT) AS counter
FROM cells GROUP BY 1, 2
"""


@query("stream_cms_rollup", _CMS_STREAM_ORACLE)
def q_stream_cms_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min sketch maintenance (streaming/jobs.py
    cms_rollup_stream): the d×w counter matrix as the ONLY streaming
    state, drained over a 3-micro-batch split. Counter addition is
    commutative, so the drained sketch is bit-identical to the batch
    sketch — the repo's first hash-checked streaming sketch (HLL
    rollup is rows-only by library nature)."""
    return stream_jobs.cms_rollup_stream(spark, sf_dir)


@query("stream_payload_dedup", _PAYLOAD_DEDUP_ORACLE)
def q_stream_payload_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of dedup_payload_shingle: 3-batch AvailableNow
    ingest maintaining an append-only payload-gram index; candidates
    admitted per batch under the sound grows-only df-cap prune;
    post-drain exact verify off the index (text shingled once, per
    batch). Equals the batch query after the drain, so the batch SQL
    oracle applies verbatim (streaming/jobs.payload_dedup_stream)."""
    return stream_jobs.payload_dedup_stream(spark, sf_dir)


# -- Streaming DQ twin --------------------------------------------------------

_DQ_STREAM_ORACLE = """
WITH ord AS (
    SELECT CAST(SUM(CASE WHEN o.o_orderstatus NOT IN ('O', 'F', 'P')
                         THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
           CAST(SUM(CASE WHEN o.o_totalprice > 450000.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS big_price,
           CAST(SUM(CASE WHEN c.c_custkey IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS fk_miss,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT 'domain_o_orderstatus' AS check_name, 'orders' AS tbl,
       bad_status AS violations, n AS total FROM ord
UNION ALL
SELECT 'max_o_totalprice_450k', 'orders', big_price, n FROM ord
UNION ALL
SELECT 'fk_orders_customer', 'orders', fk_miss, n FROM ord
"""


@query("stream_dq_constraints", _DQ_STREAM_ORACLE)
def q_stream_dq_constraints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of profile_dq_constraints' orders checks: a
    3-batch AvailableNow ingest evaluates the status-domain,
    price-range, and FK-into-static-customer constraints per
    micro-batch (the stream-static join) and publishes the exact
    column-sum of the batch counters — associative counts, so the
    post-drain report equals the batch suite restricted to orders and
    the batch SQL oracle applies verbatim
    (streaming/jobs.dq_constraints_stream)."""
    return stream_jobs.dq_constraints_stream(spark, sf_dir)


# -- Backfill range planner ---------------------------------------------------
# The orchestration op every batch pipeline runs after an outage:
# which daily partitions are missing-or-short, and what contiguous
# date ranges should the backfill jobs cover? A day FAILS if its row
# count is under 80% of the overall daily average (absent days count
# as 0 — the calendar spine makes missing partitions visible);
# contiguous failed days collapse into one backfill range via
# gaps-and-islands. All decisions integer cross-multiplications.

_BACKFILL_ORACLE = """
WITH bounds AS (
    SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
           CAST(MAX(o_orderdate) AS DATE) AS d1,
           CAST(COUNT(*) AS BIGINT) AS total
    FROM orders
),
spine AS (
    SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
               AS DATE) AS day,
           total,
           CAST(date_diff('day', d0, d1) + 1 AS BIGINT) AS n_days
    FROM bounds
),
daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders GROUP BY 1
),
status AS (
    SELECT s.day, COALESCE(d.cnt, 0) AS cnt, s.total, s.n_days
    FROM spine s LEFT JOIN daily d ON d.day = s.day
),
failed AS (
    SELECT day,
           row_number() OVER (ORDER BY day) AS rn
    FROM status
    WHERE cnt * n_days * 10 < total * 8
),
ranges AS (
    SELECT day, day - CAST(rn AS INTEGER) AS grp FROM failed
)
SELECT MIN(day) AS start_day, MAX(day) AS end_day,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM ranges GROUP BY grp
"""


@query("pipeline_backfill_plan", _BACKFILL_ORACLE)
def q_pipeline_backfill_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Backfill range planner: daily partitions whose row count falls
    under 80% of the overall daily average (absent days = 0, made
    visible by a full calendar spine) grouped into contiguous date
    ranges → (start_day, end_day, n_days) — one row per backfill job
    an orchestrator would launch after an outage. The failure
    predicate is an integer cross-multiplication (cnt·n_days·10 <
    total·8): no float, no division.

    Scale shape: one day-keyed count aggregate over the scan; the
    spine, the join onto it, and the gaps-and-islands windows all run
    over the CALENDAR-bounded day relation. The classic
    row_number-difference island key groups runs without any
    sequential scan."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.max(F.col("o_orderdate").cast("date")).alias("d1"),
        F.count("*").cast("bigint").alias("total"),
    ).select(
        "d0",
        "d1",
        "total",
        (F.datediff("d1", "d0") + 1).cast("bigint").alias("n_days"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))
        ).alias("day"),
        "total",
        "n_days",
    )
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    status = spine.join(daily, "day", "left").withColumn(
        "cnt", F.coalesce(F.col("cnt"), F.lit(0))
    )
    failed = status.filter(
        F.col("cnt") * F.col("n_days") * 10 < F.col("total") * 8
    ).select(
        "day", F.row_number().over(Window.orderBy("day")).alias("rn")
    )
    ranges = failed.select(
        "day", F.date_sub(F.col("day"), F.col("rn")).alias("grp")
    )
    return ranges.groupBy("grp").agg(
        F.min("day").alias("start_day"),
        F.max("day").alias("end_day"),
        F.count("*").cast("bigint").alias("n_days"),
    ).drop("grp")


@query("stream_feature_snapshot", _FEATURE_ORACLE)
def q_stream_feature_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of customer_feature_snapshot: a 3-batch
    AvailableNow ingest maintains per-customer PARTIAL aggregates
    (every feature a sum or min/max — associative and mergeable);
    publishing is one merge rollup plus the derived recency/tenure
    columns. Post-drain the snapshot equals the batch query bit for
    bit, so the batch oracle applies verbatim
    (streaming/jobs.feature_snapshot_stream)."""
    return stream_jobs.feature_snapshot_stream(spark, sf_dir)


@query("stream_curriculum_pacing", _CURRICULUM_ORACLE)
def q_stream_curriculum_pacing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of docs_curriculum_pacing: a 3-batch
    AvailableNow document ingest reduces each micro-batch to
    per-difficulty-value (count, token-sum) partials — associative,
    so the merged value relation and the pacing table derived from it
    equal the batch query exactly and the batch SQL oracle applies
    verbatim (streaming/jobs.curriculum_pacing_stream; partials land
    under the batch_id-partition idempotency discipline)."""
    return stream_jobs.curriculum_pacing_stream(spark, sf_dir)


# -- GDPR erasure cascade plan ----------------------------------------------------
# The right-to-erasure planning op a governed warehouse runs per
# deletion batch: given the subject set (deterministic md5 permille
# gate, ~1% of customers — the docs_split_train_val discipline, no
# RNG), size the cascade across the star schema before executing it:
# customer rows hard-DELETE, their orders PSEUDONYMIZE (the fact rows
# survive with the key tombstoned — the standard GDPR treatment for
# transactional facts), lineitem RETAINs (keyed to orders only, no
# direct subject reference) but is counted so the audit shows the
# full blast radius.

_GDPR_ORACLE = """
WITH erase AS (
    SELECT c_custkey FROM customer
    WHERE ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
           1, 8))::BIGINT % 1000 < 10
),
o AS (
    SELECT o_orderkey FROM orders JOIN erase ON o_custkey = c_custkey
)
SELECT 'customer' AS tbl, 'DELETE' AS action,
       CAST((SELECT COUNT(*) FROM erase) AS BIGINT) AS n_rows
UNION ALL
SELECT 'orders', 'PSEUDONYMIZE',
       CAST((SELECT COUNT(*) FROM o) AS BIGINT)
UNION ALL
SELECT 'lineitem', 'RETAIN',
       CAST((SELECT COUNT(*) FROM lineitem l
             JOIN o ON l.l_orderkey = o.o_orderkey) AS BIGINT)
"""


@query("pipeline_gdpr_erasure_plan", _GDPR_ORACLE)
def q_pipeline_gdpr_erasure_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Right-to-erasure cascade plan: for a deterministic ~1% subject
    batch, the per-table blast radius → (tbl, action, n_rows) with
    customer DELETE, orders PSEUDONYMIZE, lineitem RETAIN-but-counted.
    The sizing/audit pass a governed lakehouse runs before executing
    a deletion vector write (customers_k_anonymity's operational
    sibling: that query audits identifiability, this one plans the
    actual erasure).

    Scale shape: the subject set is a map-side hash gate on the
    dimension; the cascade is two key joins that both broadcast the
    (tiny) subject/order-key sets at production ratios; counts are
    one aggregate each. Nothing rewrites data — the plan relation is
    what the DELETE/MERGE jobs consume."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    gate = (
        F.conv(
            F.substring(
                F.md5(F.col("c_custkey").cast("string")), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 1000
    )
    erase = cust.filter(gate < 10).select("c_custkey")
    o = orders.join(
        F.broadcast(erase),
        orders["o_custkey"] == erase["c_custkey"],
    ).select("o_orderkey")
    n_c = erase.agg(F.count("*").cast("bigint").alias("n_rows"))
    n_o = o.agg(F.count("*").cast("bigint").alias("n_rows"))
    n_l = li.join(
        F.broadcast(o), li["l_orderkey"] == o["o_orderkey"]
    ).agg(F.count("*").cast("bigint").alias("n_rows"))
    row = lambda df, tbl, action: df.select(
        F.lit(tbl).alias("tbl"),
        F.lit(action).alias("action"),
        "n_rows",
    )
    return (
        row(n_c, "customer", "DELETE")
        .unionAll(row(n_o, "orders", "PSEUDONYMIZE"))
        .unionAll(row(n_l, "lineitem", "RETAIN"))
    )


# -- stream_scd2_apply ------------------------------------------------------------
# The oracle is the BATCH answer: the full-log interval build (lead
# window per key) — what the streaming version-chain MERGE must
# converge to after the drain. Validity bounds are nullable
# TIMESTAMP with NULL on the open interval per FIXTURES.md F6 r16
# (the scd2_intervals shape — its bounds are NTZ because o_orderdate
# is parquet timestamp[us]; green on all three driver checks in r15.
# The r15 9999-12-31 sentinel overflowed pandas ns in the driver's
# oracle harness; null-bearing DATE was the r12 red shape).

_STREAM_SCD2_ORACLE = """
WITH base AS (
    SELECT o_custkey, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(o_orderdate AS DATE) AS d
    FROM orders
)
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(d AS TIMESTAMP) AS valid_from,
       CAST(lead(d) OVER (PARTITION BY o_custkey
                          ORDER BY d, o_orderkey) AS TIMESTAMP)
           AS valid_to,
       lead(d) OVER (PARTITION BY o_custkey
                     ORDER BY d, o_orderkey) IS NULL AS is_current
FROM base
"""


@query("stream_scd2_apply", _STREAM_SCD2_ORACLE)
def q_stream_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming type-2 dimension maintenance: a 3-batch date-ordered
    AvailableNow CDC drain MERGEs each micro-batch into a
    batch_id-versioned standing dimension (close current at the key's
    first change, insert the batch's mini-intervals); post-drain the
    dimension equals the batch full-log interval build bit for bit
    (streaming/jobs.scd2_apply_stream)."""
    return stream_jobs.scd2_apply_stream(spark, sf_dir)


# -- pipeline_ivm_agg_maintenance -------------------------------------------------
# Incremental view maintenance (the TPC-H RF1/RF2 shape): a standing
# aggregate absorbs an insert batch and a delete batch WITHOUT
# recomputing from the base table — new = old + agg(inserts) −
# agg(deletes), valid because SUM/COUNT are abelian-group aggregates.
# The oracle recomputes directly from the post-refresh relation, so
# the differential proves the maintenance algebra, not just the
# arithmetic. Deletes: l_orderkey % 97 == 0; inserts: a modified copy
# of l_orderkey % 89 == 0 (quantity + 1, keys offset past the domain).

_IVM_ORACLE = f"""
WITH refreshed AS (
    SELECT l_returnflag, l_linestatus, l_quantity, l_extendedprice
    FROM lineitem WHERE l_orderkey % {IVM_DEL_MOD} <> 0
    UNION ALL
    SELECT l_returnflag, l_linestatus, l_quantity + 1, l_extendedprice
    FROM lineitem WHERE l_orderkey % {IVM_INS_MOD} = 0
)
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_base_price,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM refreshed
GROUP BY l_returnflag, l_linestatus
"""


@query("pipeline_ivm_agg_maintenance", _IVM_ORACLE)
def q_pipeline_ivm_agg_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental view maintenance of a q1-style pricing aggregate
    under a refresh (delete batch + insert batch) →
    (l_returnflag, l_linestatus, sum_qty, sum_base_price,
    count_order). The Spark plan NEVER aggregates the refreshed base
    relation: the standing aggregate and the two (small) delta
    aggregates merge as signed partials — sum(old) + sum(ins) −
    sum(del), count likewise — which is the entire point of IVM at
    100 TB (the refresh touches delta-sized data; the base aggregate
    is a standing |groups|-row relation, here recomputed once only
    because the audit is self-contained).

    Decimal sums keep the merge exact (the float policy: DECIMAL(18,2)
    partials, double only at the very end), so maintained == recomputed
    bit for bit — the oracle recomputes from the refreshed relation
    directly and the hash must agree.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")

    def signed_agg(df: DataFrame, sign: int, qty_col) -> DataFrame:
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            (F.sum(qty_col) * sign).alias("p_qty"),
            (F.sum(price) * sign).alias("p_price"),
            (F.count("*") * sign).cast("bigint").alias("p_n"),
        )

    base = signed_agg(li, 1, qty)
    deletes = signed_agg(
        li.filter(F.col("l_orderkey") % IVM_DEL_MOD == 0), -1, qty
    )
    inserts = signed_agg(
        li.filter(F.col("l_orderkey") % IVM_INS_MOD == 0),
        1,
        (F.col("l_quantity") + 1).cast("decimal(18,2)"),
    )
    return (
        base.unionByName(deletes)
        .unionByName(inserts)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("p_qty").cast("decimal(18,2)").cast("double")
            .alias("sum_qty"),
            F.sum("p_price").cast("decimal(18,2)").cast("double")
            .alias("sum_base_price"),
            F.sum("p_n").cast("bigint").alias("count_order"),
        )
    )


# -- stream_ivm_agg_maintenance ----------------------------------------------------
# The oracle is the BATCH answer: a direct recompute of the refreshed
# relation — what the streaming signed-partial fold must converge to
# after the drain. Shares the refresh definition with the batch IVM
# query (pipeline_ivm_agg_maintenance), so the two stay comparable
# operator twins.


@query("stream_ivm_agg_maintenance", _IVM_ORACLE)
def q_stream_ivm_agg_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming incremental view maintenance: a 3-batch AvailableNow
    refresh stream (base load, delete batch, insert batch — each
    carrying a sign column) folds into a standing q1-style aggregate
    as signed decimal partials in foreachBatch; post-drain the
    standing aggregate equals the oracle's direct recompute of the
    refreshed relation bit for bit. Arrival-order INVARIANT (abelian
    aggregates), exactly-once via the batch_id-keyed version chain
    (streaming/jobs.ivm_agg_maintenance_stream)."""
    return stream_jobs.ivm_agg_maintenance_stream(spark, sf_dir)
