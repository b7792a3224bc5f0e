"""Round-13 query additions (SURVEY.md §2.11/§2.12 [EXT]) — the
round-12 verdict's build list:

- ``dedup_payload_cdc``: byte-payload near-duplicate pairs over the
  content-defined chunk manifest instead of stride-1 8-grams — the
  production-scale path every payload-dedup docstring names (verdict
  r12 item 5). Same pair semantics (rare-feature Jaccard >= 0.5),
  ~1/128th the feature volume (one ~16-byte chunk per 16 bytes vs 8
  grams per byte);
- ``emb_mutual_knn_ann``: the ANN-candidate twin of
  ``emb_mutual_knn`` (verdict r12 item 6) — IVF-probed candidate
  lists, exact rerank, reciprocity join unchanged; rows-only with a
  recall gate against the exact query (the dedup_embedding_lsh
  precedent);
- time-series diagnostics: ``orders_acf`` (exact-integer
  autocorrelation at lags 1..14) and ``orders_mann_kendall``
  (monotone-trend test, integer S + tie-corrected variance);
- ``customer_churn_training_set``: the leakage-safe (features |
  label) matrix — point-in-time features, label from the disjoint
  90-day post-cutoff window, perturbation-tested;
- ``docs_curriculum_pacing`` + ``stream_curriculum_pacing``:
  competence-based curriculum schedule over the bounded
  difficulty-value relation (corpus never sorted), batch and
  ingest-side;
- ``layout_vacuum_plan``: expire_snapshots + vacuum planning over
  the file manifest with commit lineage.

Conventions identical to queries_r9/r11/r12: every computed column
aliased the same in the Spark plan and the DuckDB oracle; counts CAST
to BIGINT on both sides; float only in single shared-literal
divisions evaluated as the identical IEEE op sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import query
from .queries_r12 import (
    _CDC_ORACLE_TMPL,
    _PAYLOAD_DF_CAP,
    _PAYLOAD_J_MIN,
)

# ~16-byte average chunks for the pair finder: at the storage mask
# (64) a 2-chunk payload cannot separate an edited near-dup from a
# coincidental 1-chunk overlap (measured at sf0.001: both score
# j=1/3, c=1/2); at mask 16 the corpus is cleanly bimodal (true pairs
# j >= 0.5, best non-pair j <= 1/3 at sf0.001 and <= 1/7 at sf0.01)
# and the >= 0.5 pair set equals dedup_payload_shingle's exactly.
_CDC_PAIR_MASK = 16


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# -- Payload near-dup pairs over CDC chunks -----------------------------------
# dedup_payload_shingle is the honest-but-expensive exact surface:
# stride-1 byte 8-grams cost 8 features per payload byte. The
# content-defined chunk manifest (the multimodal_cdc_chunks fold at
# a finer mask) carries the SAME identity signal in ~1/128th the
# features (one chunk per ~16 bytes vs 8 grams per byte, boundaries
# re-synchronizing across edits), so the
# production pair-finder runs the identical rare-feature Jaccard over
# chunk hashes: drop chunks shared by more than _PAYLOAD_DF_CAP docs
# (boilerplate, no identity signal — the LSH-band df discipline that
# also bounds every join bucket to <= C(cap,2) pairs), Jaccard over
# each doc's remaining DISTINCT chunk set, keep pairs >= 0.5. On the
# test corpus the score is bimodal exactly like the 8-gram variant,
# and the >= 0.5 pair set is IDENTICAL to dedup_payload_shingle's
# (asserted in tests/test_round13.py at sf0.001 and by
# tools/drive.py at sf0.01).

_PAYLOAD_CDC_ORACLE = f"""
WITH manifest AS MATERIALIZED (
{_CDC_ORACLE_TMPL.format(mask=_CDC_PAIR_MASK)}
),
cs AS (SELECT DISTINCT doc_id, chunk_md5 FROM manifest),
freq AS (
    SELECT chunk_md5 FROM cs
    GROUP BY 1 HAVING COUNT(*) <= {_PAYLOAD_DF_CAP}
),
rare AS (
    SELECT cs.doc_id, cs.chunk_md5 FROM cs JOIN freq USING (chunk_md5)
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_common
    FROM rare a
    JOIN rare b ON a.chunk_md5 = b.chunk_md5 AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard,
       CAST(n_common AS DOUBLE) / LEAST(sa.n, sb.n) AS containment
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
      >= {_PAYLOAD_J_MIN}e0
"""


@query("dedup_payload_cdc", _PAYLOAD_CDC_ORACLE)
def q_dedup_payload_cdc(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Byte-payload near-duplicate pairs over the content-defined
    chunk manifest: Jaccard >= 0.5 over rare (df <= 10) CDC chunk
    hashes → (doc_a, doc_b, n_common, jaccard, containment),
    doc_a < doc_b. The production-scale twin of
    ``dedup_payload_shingle``: gear-hash boundaries re-synchronize
    around edits, so near-identical payloads share almost all chunks
    and score ~1 while unrelated payloads share none — the same
    bimodal separation at ~1/128th the feature volume (one ~16-byte
    chunk per 16 bytes vs 8 grams per byte). ``containment``
    additionally
    reports n_common / min(|A|, |B|), the subset-detection number a
    chunk store quotes.

    Scale shape: the manifest is ONE O(bytes) map-side fold + explode
    (multimodal_cdc_chunks' plan, zero exchanges); the df cap bounds
    every chunk-hash join bucket to <= C(10,2) pairs exactly like an
    LSH band; the pair rollup and two size joins are candidate-
    driven. Feature volume is ~128x smaller than stride-1 8-grams, so
    the distinct/frequency/self-join shuffles move ~128x fewer rows —
    the reason this is the 100 TB path and the shingle query is the
    calibration surface.

    The chunk stream comes from the VECTORIZED kernel
    (``operators.multimodal.cdc_chunks_np``: one Arrow-batched hop,
    32 shifted uint32 vector adds), not the pure-SQL per-byte fold —
    chunk-for-chunk identical output (the (doc, chunk-content)
    multiset equality is pytest'd against the SQL fold at mask 64),
    ~2.5x faster end-to-end at sf0.1 (3.3s vs 8.2s warm); chunks
    join as raw bytes since only content equality matters and the
    ORACLE's md5-keyed formulation induces the same equivalence
    classes."""
    from ..operators import multimodal

    m = multimodal.cdc_chunks_np(
        _docs(spark, sf_dir), mask=_CDC_PAIR_MASK
    )
    cs = m.select("doc_id", "chunk").distinct()
    freq = (
        cs.groupBy("chunk")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _PAYLOAD_DF_CAP)
        .select("chunk")
    )
    # rare feeds three consumers (sizes + both self-join sides):
    # lineage-cut once instead of re-running the manifest fold per
    # consumer (the dedup_payload_shingle discipline)
    rare = cs.join(freq, "chunk").localCheckpoint(eager=False)
    sz = rare.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = rare.select(F.col("doc_id").alias("doc_a"), "chunk")
    b = rare.select(F.col("doc_id").alias("doc_b"), "chunk")
    inter = (
        a.join(b, "chunk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    j = (
        inter.join(
            sz.select(
                F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
            ),
            "doc_a",
        )
        .join(
            sz.select(
                F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
            ),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .withColumn(
            "containment",
            F.col("n_common").cast("double")
            / F.least(F.col("na"), F.col("nb")),
        )
    )
    return j.filter(F.col("jaccard") >= _PAYLOAD_J_MIN).select(
        "doc_a", "doc_b", "n_common", "jaccard", "containment"
    )


# -- ANN-candidate mutual kNN ---------------------------------------------------
# emb_mutual_knn is the exact baseline: reciprocal 5-NN pairs over
# the blocked all-pairs kernel — correct, but the kernel's compute is
# quadratic in corpus size (inside tasks). The production twin
# generates each vector's candidate list by IVF probing instead
# (verdict r12 item 6; the dedup_embedding_lsh exact-plus-approximate
# precedent): assignment and probe selection are narrow broadcast-
# array folds, per-list local top-k runs in the same int64-quantized
# matmul kernel family, and the reciprocity join is unchanged.
# Rows-only (the md5-free IVF fold is SQL-expressible but the
# blocked kernel's quantized cosine is not worth mirroring twice —
# same posture as emb_* kernel queries); accuracy-gated in
# tests/test_round13.py and PLANS.md.
#
# Probe budget is REGIME-TUNED, honestly: this synthetic corpus has a
# near-flat spectrum (the sim_topk_lsh / sim_ann_ivf_kmeans finding —
# mutual-NN pairs live at weak cosine and scatter across lists), so
# the measured recall curve is nprobe 4 -> 0.52, 6 -> 0.81,
# 7 -> 0.92; finer quantizers do WORSE (nlist=16, nprobe=12: 0.85).
# nprobe=7 of 8 meets the >= 0.9 gate with real (12.5%) pruning; on
# production embeddings with genuine cluster structure the standard
# nprobe/nlist ~ 1/4 budget applies and the knob is this constant.

_MUTUAL_ANN_NPROBE = 7


@query("emb_mutual_knn_ann")  # kernel cosine not SQL-expressible
def q_emb_mutual_knn_ann(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reciprocal 5-NN pairs via IVF-probed candidates:
    (vec_id_a, vec_id_b, cosine) where each vector appears in the
    other's APPROXIMATE top-5 — the corpus-scale twin of
    ``emb_mutual_knn``, which stays as the exact baseline. Candidate
    lists come from probing each vector's nprobe=7 nearest of 8
    inverted lists with an exact per-list rerank (same quantized
    cosine as the exact kernel), so a true mutual pair is missed only
    when one endpoint's true neighbor hides in the unprobed list —
    measured recall 0.92 / precision 0.96 vs the exact query at both
    sf0.001 and sf0.01 (PLANS.md; pytest-gated >= 0.9; probe budget
    regime-tuned — see the block comment above).

    Scale shape: no exhaustive block pairing — each vector shuffles
    nprobe+1 rows keyed on centroid_id, every task holds ONE inverted
    list plus its probers, and at production scale nlist grows
    ~sqrt(n) (standard IVF sizing) so list size stays bounded. The
    reciprocity check is the same one self-equi-join on the swapped
    key pair."""
    from ..operators import similarity
    from .queries_r12 import _KNN_K

    emb = load_table(spark, sf_dir, "embeddings")
    cand = similarity.ivf_knn_topk(
        emb, k=_KNN_K, nlist=8, nprobe=_MUTUAL_ANN_NPROBE
    )
    wn = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("nid")
    )
    nn = (
        cand.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") <= _KNN_K)
        .select("qid", "nid", "cosine")
        .localCheckpoint(eager=False)
    )
    swapped = nn.select(
        F.col("nid").alias("qid"), F.col("qid").alias("nid")
    )
    return (
        nn.join(swapped, ["qid", "nid"])
        .filter(F.col("qid") < F.col("nid"))
        .select(
            F.col("qid").alias("vec_id_a"),
            F.col("nid").alias("vec_id_b"),
            "cosine",
        )
    )


# =============================================================================
# Round-13 second batch: time-series diagnostics (ACF, Mann-Kendall),
# the leakage-safe training-set materialization, competence-based
# curriculum pacing, and snapshot-retention vacuum planning. Same
# conventions: scalar columns only, BIGINT casts on every count,
# float only in single shared divisions of exact integers (IEEE
# division and sqrt are correctly rounded, so identical int inputs
# give bit-identical doubles on both engines).
# =============================================================================


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders")


# -- Autocorrelation function of daily revenue --------------------------------
# The missing classical time-series diagnostic next to
# orders_seasonal_decompose/orders_runs_test: ACF at lags 1..14 over
# the daily revenue series. Exactness: center via integer
# cross-multiplication c_t = n*x_t - T (so acf_k = sum(c_t*c_{t+k}) /
# sum(c_t^2) — the 1/n^2 factors cancel), with the series pre-shifted
# into 13 bits (x >> s, s = bit_length(max) - 13, both engines via
# LENGTH(BIN(max))-1 — float log2 never touched) so every product and
# sum stays inside int64: |c| <= n*2^13 ~ 2e7, sum of n c^2 terms
# <= ~9.4e17 < 2^63 (measured at sf0.01; n is CALENDAR-bounded, so
# the bound is SF-invariant up to the 13-bit cap).

_ACF_MAX_LAG = 14

_ACF_ORACLE = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
               AS BIGINT) AS x
    FROM orders GROUP BY 1
),
q AS (
    SELECT CAST(POW(2.0e0, GREATEST(LENGTH(BIN(MAX(x))) - 1 - 13, 0))
                AS BIGINT) AS p,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM daily
),
xq AS (SELECT d, x // p AS v, n FROM daily, q),
tq AS (SELECT CAST(SUM(v) AS BIGINT) AS tq FROM xq),
cen AS (
    SELECT d, CAST(n * v - tq AS BIGINT) AS c
    FROM xq, tq
),
den AS (SELECT CAST(SUM(c * c) AS BIGINT) AS dd FROM cen),
lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG + 1})) AS lag),
num AS (
    SELECT l.lag, CAST(SUM(a.c * b.c) AS BIGINT) AS nn,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM lags l
    JOIN cen a ON TRUE
    JOIN cen b ON b.d = a.d + CAST(l.lag AS INT) * INTERVAL 1 DAY
    GROUP BY 1
)
SELECT CAST(lag AS BIGINT) AS lag, n_pairs, nn AS acf_num,
       dd AS acf_den,
       CAST(nn AS DOUBLE) / CAST(dd AS DOUBLE) AS acf
FROM num, den ORDER BY lag
"""


@query("orders_acf", _ACF_ORACLE)
def q_orders_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily revenue series at lags 1..14 →
    (lag, n_pairs, acf_num, acf_den, acf). Exact integer numerators
    and denominator (see the centering/shift note above), one double
    division at the end — the standard seasonality/memory diagnostic
    a forecasting pipeline runs before picking model structure
    (orders_seasonal_decompose's period choice, Holt-Winters'
    seasonality flag).

    Scale shape: ONE date-keyed groupBy over orders; everything after
    runs on the ~2400-row CALENDAR-bounded daily relation (lag joins,
    window-free integer sums). The 13-bit pre-shift keeps every
    product in int64 at any SF because n is calendar-bounded."""
    o = _orders(spark, sf_dir)
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("x")
    )
    q = daily.agg(
        F.greatest(
            F.expr("length(bin(max(x))) - 1 - 13"), F.lit(0)
        ).alias("s"),
        F.count("*").cast("bigint").alias("n"),
    ).select(
        F.pow(F.lit(2.0), F.col("s")).cast("bigint").alias("p"),
        "n",
    )
    xq = daily.crossJoin(F.broadcast(q)).select(
        "d", F.expr("x div p").alias("v"), "n"
    )
    tq = xq.agg(F.sum("v").cast("bigint").alias("tq"))
    cen = (
        xq.crossJoin(F.broadcast(tq))
        .select(
            "d",
            (F.col("n") * F.col("v") - F.col("tq"))
            .cast("bigint")
            .alias("c"),
        )
        .localCheckpoint(eager=False)  # feeds den + both lag sides
    )
    den = cen.agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("dd")
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("bigint").alias("lag")
    )
    a = cen.crossJoin(lags).select(
        "lag", F.expr("date_add(d, cast(lag as int))").alias("d2"), "c"
    )
    b = cen.select(F.col("d").alias("d2"), F.col("c").alias("cb"))
    num = (
        a.join(b, "d2")
        .groupBy("lag")
        .agg(
            F.sum(F.col("c") * F.col("cb"))
            .cast("bigint")
            .alias("acf_num"),
            F.count("*").cast("bigint").alias("n_pairs"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            "lag",
            "n_pairs",
            "acf_num",
            F.col("dd").alias("acf_den"),
            (
                F.col("acf_num").cast("double")
                / F.col("dd").cast("double")
            ).alias("acf"),
        )
        .orderBy("lag")
    )


# -- Mann-Kendall trend test ----------------------------------------------------
# The non-parametric monotone-trend test over the daily revenue
# series — the inferential twin of orders_theil_sen_trend (which
# estimates the slope; MK tests its significance) and the
# runs-test's directional sibling. S = sum of sign(x_j - x_i) over
# all day pairs i<j is integer-exact; the tie-corrected variance
# numerator n(n-1)(2n+5) - sum t(t-1)(2t+5) is integer-exact; the
# z-score is two correctly-rounded IEEE ops (one division, one sqrt)
# over those exact ints, hence bit-identical across engines.

_MK_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
               AS BIGINT) AS x
    FROM orders GROUP BY 1
),
n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
s AS (
    SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                         WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
           AS s_stat
    FROM daily a JOIN daily b ON b.d > a.d
),
ties AS (
    SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS tie_term
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY x)
    WHERE t > 1
)
SELECT n AS n_days, s_stat,
       CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT)
           AS var18_num,
       CASE WHEN s_stat > 0 THEN
                CAST(s_stat - 1 AS DOUBLE)
                / SQRT(CAST(n * (n - 1) * (2 * n + 5) - tie_term
                            AS DOUBLE) / 18.0e0)
            WHEN s_stat < 0 THEN
                CAST(s_stat + 1 AS DOUBLE)
                / SQRT(CAST(n * (n - 1) * (2 * n + 5) - tie_term
                            AS DOUBLE) / 18.0e0)
            ELSE 0.0e0 END AS z
FROM n1, s, ties
"""


@query("orders_mann_kendall", _MK_ORACLE)
def q_orders_mann_kendall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mann-Kendall monotone-trend test over daily revenue →
    (n_days, s_stat, var18_num, z): S as the exact pairwise sign sum,
    tie-corrected variance numerator (18x-scaled, integer), and the
    continuity-corrected z. |z| > 1.96 rejects no-trend at 5% — the
    significance gate for orders_theil_sen_trend's slope estimate.

    Scale shape: one date-keyed groupBy over orders; the pairwise
    join runs over the CALENDAR-bounded daily relation (~2400 rows →
    ~2.9M pairs inside one join, SF-invariant). At a multi-decade
    horizon the rank-based O(n log n) formulation slots in; the pair
    join is exact and bounded here."""
    o = _orders(spark, sf_dir)
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("x")
    ).localCheckpoint(eager=False)  # feeds n, pairs (x2), ties
    n1 = daily.agg(F.count("*").cast("bigint").alias("n"))
    a = daily.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    s = (
        a.join(b, F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("x")
        .agg(F.count("*").cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t")
                    * (F.col("t") - 1)
                    * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    ).cast("bigint")
    zden = F.sqrt(var18.cast("double") / F.lit(18.0))
    return (
        n1.crossJoin(s)
        .crossJoin(ties)
        .select(
            F.col("n").alias("n_days"),
            "s_stat",
            var18.alias("var18_num"),
            F.when(
                F.col("s_stat") > 0,
                (F.col("s_stat") - 1).cast("double") / zden,
            )
            .when(
                F.col("s_stat") < 0,
                (F.col("s_stat") + 1).cast("double") / zden,
            )
            .otherwise(F.lit(0.0))
            .alias("z"),
        )
    )


# -- Leakage-safe churn training set --------------------------------------------
# The materialization a training pipeline actually ships:
# customer_feature_snapshot gives FEATURES as of a cutoff; a model
# also needs the LABEL, and the label must come strictly AFTER the
# cutoff (the leakage discipline the feature snapshot's pytest
# enforces). Cutoff at max-180d so a full 90-day label window exists
# with 90 days of slack; label churned=1 iff the customer (active at
# or before the cutoff) places NO order in (cutoff, cutoff+90].

_TRAIN_ORACLE = """
WITH horizon AS (
    SELECT CAST(MAX(o_orderdate) AS DATE) - INTERVAL 180 DAY AS c
    FROM orders
),
pit AS (
    SELECT o.o_custkey, CAST(o.o_orderdate AS DATE) AS d,
           CAST(o.o_totalprice AS DECIMAL(18,2)) AS p, h.c
    FROM orders o CROSS JOIN horizon h
    WHERE CAST(o.o_orderdate AS DATE) <= h.c
),
feat AS (
    SELECT o_custkey AS customer_id,
           CAST(SUM(CASE WHEN d > c - INTERVAL 90 DAY
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_orders_90d,
           CAST(SUM(CASE WHEN d > c - INTERVAL 365 DAY
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_orders_365d,
           CAST(SUM(CASE WHEN d > c - INTERVAL 90 DAY
                    THEN p ELSE CAST(0 AS DECIMAL(18,2)) END) * 100
               AS BIGINT) AS rev_cents_90d,
           CAST(date_diff('day', MAX(d), MAX(c)) AS BIGINT)
               AS recency_days,
           CAST(date_diff('day', MIN(d), MAX(c)) AS BIGINT)
               AS tenure_days,
           CAST(COUNT(*) AS BIGINT) AS n_orders_total
    FROM pit GROUP BY 1
),
future AS (
    SELECT DISTINCT o.o_custkey AS customer_id
    FROM orders o CROSS JOIN horizon h
    WHERE CAST(o.o_orderdate AS DATE) > h.c
      AND CAST(o.o_orderdate AS DATE) <= h.c + INTERVAL 90 DAY
)
SELECT f.customer_id, f.n_orders_90d, f.n_orders_365d,
       f.rev_cents_90d, f.recency_days, f.tenure_days,
       f.n_orders_total,
       CAST(CASE WHEN fu.customer_id IS NULL THEN 1 ELSE 0 END
           AS BIGINT) AS churned
FROM feat f LEFT JOIN future fu USING (customer_id)
"""


@query("customer_churn_training_set", _TRAIN_ORACLE)
def q_customer_churn_training_set(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leakage-safe churn training matrix: per customer active at or
    before the cutoff (max orderdate - 180d), point-in-time features
    (90/365-day order counts, 90-day revenue cents, recency, tenure,
    lifetime count — all from rows <= cutoff only) plus the label
    churned = 1 iff no order lands in (cutoff, cutoff+90] →
    the (features | label) relation a trainer consumes directly.
    Features and label draw from DISJOINT date ranges by
    construction; tests/test_round13.py additionally perturbs
    post-label-window rows and asserts the matrix is invariant.

    Scale shape: ONE conditional-aggregation pass over pre-cutoff
    orders (the feature snapshot shape) + one DISTINCT custkey
    projection of the 90-day label window anti-joined in; both sides
    shuffle once on the customer key."""
    o = _orders(spark, sf_dir)
    horizon = o.agg(
        F.date_sub(
            F.max(F.col("o_orderdate").cast("date")), 180
        ).alias("c")
    )
    pit = (
        o.crossJoin(F.broadcast(horizon))
        .withColumn("d", F.col("o_orderdate").cast("date"))
        .filter(F.col("d") <= F.col("c"))
    )
    dec0 = F.lit(0).cast("decimal(18,2)")
    feat = pit.groupBy(
        F.col("o_custkey").alias("customer_id")
    ).agg(
        F.sum(
            F.when(
                F.col("d") > F.date_sub(F.col("c"), 90), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_orders_90d"),
        F.sum(
            F.when(
                F.col("d") > F.date_sub(F.col("c"), 365), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_orders_365d"),
        (
            F.sum(
                F.when(
                    F.col("d") > F.date_sub(F.col("c"), 90),
                    F.col("o_totalprice").cast("decimal(18,2)"),
                ).otherwise(dec0)
            )
            * 100
        )
        .cast("bigint")
        .alias("rev_cents_90d"),
        F.datediff(F.max("c"), F.max("d"))
        .cast("bigint")
        .alias("recency_days"),
        F.datediff(F.max("c"), F.min("d"))
        .cast("bigint")
        .alias("tenure_days"),
        F.count("*").cast("bigint").alias("n_orders_total"),
    )
    future = (
        o.crossJoin(F.broadcast(horizon))
        .withColumn("d", F.col("o_orderdate").cast("date"))
        .filter(
            (F.col("d") > F.col("c"))
            & (F.col("d") <= F.date_add(F.col("c"), 90))
        )
        .select(F.col("o_custkey").alias("customer_id"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return feat.join(future, "customer_id", "left").select(
        "customer_id",
        "n_orders_90d",
        "n_orders_365d",
        "rev_cents_90d",
        "recency_days",
        "tenure_days",
        "n_orders_total",
        F.when(F.col("__hit").isNull(), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("churned"),
    )


# -- Competence-based curriculum pacing ------------------------------------------
# Curriculum learning schedule (competence pacing, Platanios et al.
# NAACL'19): at training phase t the model's competence c(t) =
# sqrt(t/T) admits the easiest c(t)-fraction of the corpus, with
# difficulty = whitespace token count (the standard length proxy).
# The pacing table is computed WITHOUT sorting the corpus: counts and
# token sums per DISTINCT difficulty VALUE (a bounded relation — the
# docs_score_auc discipline), cumulated over that value relation
# only; each phase's cutoff is the smallest difficulty whose
# cumulative count reaches ceil(c(t) * n). sqrt is the one
# correctly-rounded IEEE power, so c(t) and every derived comparison
# is bit-identical across engines.

_CURR_PHASES = 10

_CURRICULUM_ORACLE = f"""
WITH diff AS (
    SELECT doc_id,
           CAST(COALESCE(LENGTH(TRIM(text)) - LENGTH(REPLACE(TRIM(text), ' ', ''))
                + CASE WHEN TRIM(text) = '' THEN 0 ELSE 1 END, 0)
               AS BIGINT) AS d
    FROM documents
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM diff),
vals AS (
    SELECT d, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(d) AS BIGINT) AS dtok
    FROM diff GROUP BY 1
),
cum AS (
    SELECT d,
           CAST(SUM(cnt) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS ccnt,
           CAST(SUM(dtok) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS ctok
    FROM vals
),
phases AS (
    SELECT CAST(unnest(range(1, {_CURR_PHASES + 1})) AS BIGINT)
        AS phase
),
targets AS (
    SELECT phase,
           SQRT(CAST(phase AS DOUBLE) / {_CURR_PHASES}.0e0)
               AS competence,
           CAST(CEIL(SQRT(CAST(phase AS DOUBLE)
                / {_CURR_PHASES}.0e0) * n) AS BIGINT) AS want
    FROM phases, tot
)
SELECT t.phase, t.competence,
       CAST(MIN(c.d) AS BIGINT) AS difficulty_cutoff,
       CAST(MIN(c.ccnt) AS BIGINT) AS n_admitted,
       CAST(MIN(c.ctok) AS BIGINT) AS tokens_admitted
FROM targets t JOIN cum c ON c.ccnt >= t.want
GROUP BY 1, 2
"""


@query("docs_curriculum_pacing", _CURRICULUM_ORACLE)
def q_docs_curriculum_pacing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Competence-based curriculum pacing table: for training phases
    1..10 with competence c(t) = sqrt(t/10), the difficulty cutoff
    (whitespace token count) admitting the easiest ceil(c(t)·n) docs,
    plus how many docs and tokens that admits → (phase, competence,
    difficulty_cutoff, n_admitted, tokens_admitted). The schedule a
    curriculum dataloader consumes: phase t reads docs with
    difficulty <= cutoff(t), so each phase's delta is the newly
    admitted band.

    Correctness note: MIN(c.d) over rows with ccnt >= want is the
    FIRST value relation row reaching the target, and its ccnt/ctok
    are the admitted totals (cum counts are strictly increasing in d,
    so MIN picks all three columns from the same row).

    Scale shape: difficulty is one map-side expression; the only
    shuffles are the per-VALUE groupBy (bounded by distinct token
    counts, not corpus size) and the cumulative window over that
    bounded value relation (ALLOWED_UNPARTITIONED, aggregate-gated);
    the phase join is 10 x |values|. The corpus is never sorted."""
    docs = _docs(spark, sf_dir)
    t = F.trim(F.col("text"))
    diff = docs.select(
        "doc_id",
        F.coalesce(
            F.length(t)
            - F.length(F.replace(t, F.lit(" "), F.lit("")))
            + F.when(t == "", 0).otherwise(1),
            F.lit(0),
        )
        .cast("bigint")
        .alias("d"),
    )
    tot = diff.agg(F.count("*").cast("bigint").alias("n"))
    vals = diff.groupBy("d").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum("d").cast("bigint").alias("dtok"),
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = vals.select(
        "d",
        F.sum("cnt").over(w).cast("bigint").alias("ccnt"),
        F.sum("dtok").over(w).cast("bigint").alias("ctok"),
    )
    comp = F.sqrt(
        F.col("phase").cast("double") / F.lit(float(_CURR_PHASES))
    )
    targets = (
        spark.range(1, _CURR_PHASES + 1)
        .select(F.col("id").cast("bigint").alias("phase"))
        .crossJoin(F.broadcast(tot))
        .select(
            "phase",
            comp.alias("competence"),
            F.ceil(comp * F.col("n")).cast("bigint").alias("want"),
        )
    )
    return (
        targets.join(
            cum, F.col("ccnt") >= F.col("want"), "inner"
        )
        .groupBy("phase", "competence")
        .agg(
            F.min("d").cast("bigint").alias("difficulty_cutoff"),
            F.min("ccnt").cast("bigint").alias("n_admitted"),
            F.min("ctok").cast("bigint").alias("tokens_admitted"),
        )
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
    o = _orders(spark, sf_dir)
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
    from ..streaming import jobs as stream_jobs

    return stream_jobs.curriculum_pacing_stream(spark, sf_dir)


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
    o = _orders(spark, sf_dir)
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


# -- Split leakage audit ---------------------------------------------------------
# The QA gate between docs_split_train_val and training: does any
# held-out document share CONTENT with the train split? Doc-level
# hash overlap is zero on this corpus (dup texts rarely straddle the
# 90/10 split), so the falsifiable surface is C4-style 10-word
# blocks (dedup_paragraph's unit): per held-out doc, how many of its
# blocks also appear anywhere in train → the per-doc contamination
# report decontaminate_* runs against EXTERNAL benchmarks, turned
# inward on the split itself.

_LEAK_ORACLE = r"""
WITH split AS (
    SELECT doc_id, text,
           CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                      1, 8))::BIGINT % 1000 < 900
                THEN 'train' ELSE 'heldout' END AS split
    FROM documents WHERE text IS NOT NULL
),
toks AS (
    SELECT doc_id, split,
           regexp_split_to_array(trim(text), '\s+') AS w
    FROM split
),
blk AS (
    SELECT doc_id, split,
           md5(array_to_string(list_slice(w, i*10 + 1, i*10 + 10),
               ' ')) AS bh
    FROM toks,
         unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS t(i)
),
tr AS (SELECT DISTINCT bh FROM blk WHERE split = 'train')
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN tr.bh IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_leaked,
       CAST(SUM(CASE WHEN tr.bh IS NOT NULL THEN 1 ELSE 0 END)
           AS DOUBLE) / COUNT(*) AS leak_frac
FROM blk LEFT JOIN tr USING (bh)
WHERE split = 'heldout'
GROUP BY 1
HAVING SUM(CASE WHEN tr.bh IS NOT NULL THEN 1 ELSE 0 END) > 0
"""


@query("docs_split_leakage_audit", _LEAK_ORACLE)
def q_docs_split_leakage_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train/held-out split leakage audit at 10-word-block
    granularity: per contaminated held-out document, how many of its
    C4-style blocks also occur in the train split → (doc_id,
    n_blocks, n_leaked, leak_frac). The split-integrity gate run
    before training (decontaminate_ngram's machinery pointed at the
    split itself instead of an external benchmark); nonzero on this
    corpus (8 contaminated docs / 20 leaked blocks at sf0.01), so the
    check is falsifiable.

    Scale shape: blocks are one map-side explode; the train block
    inventory is a DISTINCT on the block digest (hash-shuffled once);
    the probe is one digest-keyed LEFT join — the decontamination
    join shape, linear end to end."""
    from ..functions import text as TX  # noqa: F401  (split regex parity)

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    gate = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 1000
    )
    split = docs.select(
        "doc_id",
        "text",
        F.when(gate < 900, "train").otherwise("heldout").alias(
            "split"
        ),
    )
    toks = split.select(
        "doc_id",
        "split",
        F.split(F.trim(F.col("text")), r"\s+").alias("w"),
    )
    # size(w) >= 1 always (split of non-null text yields >= 1
    # element, even for empty strings), so the sequence end is >= 0 —
    # but clamp anyway: sequence(0, -1) would auto-step DOWN to
    # [0, -1] in Spark while DuckDB's range(0, 0) is empty, a latent
    # divergence if the invariant ever broke (r13-advisory fix). The
    # size(w) > 0 gate makes the unreachable arm convergent (both
    # engines emit nothing) rather than merely non-crashing.
    blk = toks.filter(F.size("w") > 0).select(
        "doc_id",
        "split",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.ceil(F.size("w") / F.lit(10.0)).cast("int") - 1,
                    F.lit(0),
                ),
            )
        ).alias("i"),
        "w",
    ).select(
        "doc_id",
        "split",
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("w"), F.col("i") * 10 + 1, 10)
            )
        ).alias("bh"),
    )
    tr = blk.filter(F.col("split") == "train").select("bh").distinct()
    held = blk.filter(F.col("split") == "heldout").join(
        tr.withColumn("__hit", F.lit(1)), "bh", "left"
    )
    return (
        held.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_blocks"),
            F.sum(
                F.when(F.col("__hit").isNotNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_leaked"),
        )
        .filter(F.col("n_leaked") > 0)
        .select(
            "doc_id",
            "n_blocks",
            "n_leaked",
            (
                F.col("n_leaked").cast("double")
                / F.col("n_blocks")
            ).alias("leak_frac"),
        )
    )


# -- RFM segmentation --------------------------------------------------------------
# Classic CRM/value segmentation: score every customer 1..5 on
# Recency, Frequency, Monetary and report the segment census. The
# quintile cuts use the VALUE-relation discipline (docs_score_auc /
# curriculum): cumulative counts over DISTINCT metric values —
# recency is calendar-bounded, frequency is small-integer, monetary
# is pre-shifted into 10 bits (<= 1024 bands) — so no corpus-sized
# window exists and ties share one score by construction. qidx =
# 1 + 5*(ccnt-1) div n assigns each value the quintile of its last
# member (deterministic boundary rule, documented); recency inverts
# (lower = better = 5).

_RFM_ORACLE = """
WITH horizon AS (
    SELECT CAST(MAX(o_orderdate) AS DATE) AS edge FROM orders
),
base AS (
    SELECT o_custkey,
           CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                MAX(edge)) AS BIGINT) AS rec,
           CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
               AS BIGINT) AS mon
    FROM orders, horizon GROUP BY 1
),
q AS (
    SELECT CAST(POW(2.0e0, GREATEST(LENGTH(BIN(MAX(mon))) - 1 - 10,
                0)) AS BIGINT) AS pm,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM base
),
b AS (SELECT o_custkey, rec, freq, mon // pm AS mb, n FROM base, q),
dims AS (
    SELECT 'r' AS dim, rec AS v, COUNT(*) AS cnt FROM b GROUP BY 2
    UNION ALL SELECT 'f', freq, COUNT(*) FROM b GROUP BY 2
    UNION ALL SELECT 'm', mb, COUNT(*) FROM b GROUP BY 2
),
cum AS (
    SELECT dim, v,
           CAST(SUM(cnt) OVER (PARTITION BY dim ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS ccnt
    FROM dims
),
scored AS (
    SELECT c.dim, c.v,
           CAST(1 + (5 * (c.ccnt - 1)) // t.n AS BIGINT) AS qidx
    FROM cum c, (SELECT n FROM q) t
)
SELECT CAST(6 - sr.qidx AS BIGINT) AS r_score,
       sf.qidx AS f_score, sm.qidx AS m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM b
JOIN scored sr ON sr.dim = 'r' AND sr.v = b.rec
JOIN scored sf ON sf.dim = 'f' AND sf.v = b.freq
JOIN scored sm ON sm.dim = 'm' AND sm.v = b.mb
GROUP BY 1, 2, 3
"""


@query("orders_rfm_segments", _RFM_ORACLE)
def q_orders_rfm_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RFM segment census: every customer scored 1..5 on recency
    (inverted: most recent = 5), frequency, and monetary value, then
    counted per (r_score, f_score, m_score) cell → up to 125 rows.
    The segmentation marketing/value analytics runs daily, and the
    standard prioritization input (5-5-5 = champions, 1-low-low =
    lost).

    Scale shape: one custkey-keyed aggregate over orders; quintile
    cuts come from cumulative counts over DISTINCT metric values
    (recency calendar-bounded, frequency small-int, monetary
    pre-shifted to <= 1024 bands — the 10-bit LENGTH(BIN(..)) shift),
    so each dim-partitioned window holds a bounded value relation,
    never the customer corpus; scores broadcast-join back by value."""
    o = _orders(spark, sf_dir)
    horizon = o.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("edge")
    )
    base = (
        o.crossJoin(F.broadcast(horizon))
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.max("edge"),
                F.max(F.col("o_orderdate").cast("date")),
            )
            .cast("bigint")
            .alias("rec"),
            F.count("*").cast("bigint").alias("freq"),
            (
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                * 100
            )
            .cast("bigint")
            .alias("mon"),
        )
    )
    q = base.agg(
        F.greatest(
            F.expr("length(bin(max(mon))) - 1 - 10"), F.lit(0)
        ).alias("s"),
        F.count("*").cast("bigint").alias("n"),
    ).select(
        F.pow(F.lit(2.0), F.col("s")).cast("bigint").alias("pm"), "n"
    )
    b = base.crossJoin(F.broadcast(q)).select(
        "o_custkey", "rec", "freq", F.expr("mon div pm").alias("mb"),
        "n",
    ).localCheckpoint(eager=False)  # feeds 3 dims + final join
    dims = (
        b.groupBy(F.col("rec").alias("v"))
        .agg(F.count("*").alias("cnt"))
        .select(F.lit("r").alias("dim"), "v", "cnt")
        .unionAll(
            b.groupBy(F.col("freq").alias("v"))
            .agg(F.count("*").alias("cnt"))
            .select(F.lit("f").alias("dim"), "v", "cnt")
        )
        .unionAll(
            b.groupBy(F.col("mb").alias("v"))
            .agg(F.count("*").alias("cnt"))
            .select(F.lit("m").alias("dim"), "v", "cnt")
        )
    )
    w = (
        Window.partitionBy("dim")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dims.select(
        "dim", "v", F.sum("cnt").over(w).cast("bigint").alias("ccnt")
    )
    scored = cum.crossJoin(
        F.broadcast(q.select("n"))
    ).select(
        "dim",
        "v",
        (1 + (5 * (F.col("ccnt") - 1)) / F.col("n"))
        .cast("bigint")
        .alias("qidx"),
    )
    sc = lambda d: F.broadcast(
        scored.filter(F.col("dim") == d).select(
            F.col("v"), F.col("qidx").alias(f"{d}_q")
        )
    )
    joined = (
        b.join(sc("r").withColumnRenamed("v", "rec"), "rec")
        .join(sc("f").withColumnRenamed("v", "freq"), "freq")
        .join(sc("m").withColumnRenamed("v", "mb"), "mb")
    )
    return joined.groupBy(
        (6 - F.col("r_q")).cast("bigint").alias("r_score"),
        F.col("f_q").alias("f_score"),
        F.col("m_q").alias("m_score"),
    ).agg(F.count("*").cast("bigint").alias("n_customers"))


# -- ABC inventory classification ---------------------------------------------------
# The Pareto stock-policy classifier every supply chain runs: parts
# sorted by revenue, class A = the head covering 80% of revenue, B =
# next 15%, C = tail. The cumulative share uses the banded-value
# discipline (revenue pre-shifted to <= 1024 bands, cumulated over
# the BAND relation in descending order), so classification is exact
# at band granularity and no part-sized window exists —
# supplier_pareto_share's decision-grade sibling over parts.

_ABC_ORACLE = """
WITH rev AS (
    SELECT l_partkey,
           CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 100)
               AS BIGINT) AS cents
    FROM lineitem GROUP BY 1
),
q AS (
    SELECT CAST(POW(2.0e0, GREATEST(LENGTH(BIN(MAX(cents))) - 1 - 10,
                0)) AS BIGINT) AS p,
           CAST(SUM(cents) AS BIGINT) AS total
    FROM rev
),
b AS (SELECT l_partkey, cents, cents // p AS band, total FROM rev, q),
bands AS (
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS bcents,
           CAST(MIN(total) AS BIGINT) AS total
    FROM b GROUP BY 1
),
cum AS (
    SELECT band, n_parts, bcents, total,
           CAST(SUM(bcents) OVER (ORDER BY band DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT) AS prior
    FROM bands
),
classed AS (
    SELECT CASE WHEN COALESCE(prior, 0) * 100 < total * 80 THEN 'A'
                WHEN COALESCE(prior, 0) * 100 < total * 95 THEN 'B'
                ELSE 'C' END AS abc_class,
           n_parts, bcents, total
    FROM cum
)
SELECT abc_class, CAST(SUM(n_parts) AS BIGINT) AS n_parts,
       CAST(SUM(bcents) AS BIGINT) AS revenue_cents,
       CAST(SUM(bcents) AS DOUBLE) / CAST(MIN(total) AS DOUBLE)
           AS revenue_share
FROM classed GROUP BY 1
"""


@query("parts_abc_classification", _ABC_ORACLE)
def q_parts_abc_classification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ABC inventory classification over part revenue (discounted
    extended price): class A = highest-revenue bands covering the
    first 80% of total revenue, B = next 15%, C = tail →
    (abc_class, n_parts, revenue_cents, revenue_share). Measured at
    sf0.01: 80.1% / 15.0% / 4.9% — the Pareto stock-policy input.

    Scale shape: one partkey-keyed aggregate over lineitem; the
    cumulative-share pass runs over the <= 1024-row BAND relation
    (10-bit pre-shift), never the parts corpus; class boundaries are
    integer cross-multiplications (prior*100 < total*80) so no float
    enters the classification."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.floor(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(18,2)"))
            )
            * 100
        )
        .cast("bigint")
        .alias("cents")
    )
    q = rev.agg(
        F.greatest(
            F.expr("length(bin(max(cents))) - 1 - 10"), F.lit(0)
        ).alias("s"),
        F.sum("cents").cast("bigint").alias("total"),
    ).select(
        F.pow(F.lit(2.0), F.col("s")).cast("bigint").alias("p"),
        "total",
    )
    b = rev.crossJoin(F.broadcast(q)).select(
        "l_partkey",
        "cents",
        F.expr("cents div p").alias("band"),
        "total",
    )
    bands = b.groupBy("band").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.sum("cents").cast("bigint").alias("bcents"),
        F.min("total").cast("bigint").alias("total"),
    )
    w = (
        Window.orderBy(F.col("band").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = bands.select(
        "band",
        "n_parts",
        "bcents",
        "total",
        F.sum("bcents").over(w).cast("bigint").alias("prior"),
    )
    prior0 = F.coalesce(F.col("prior"), F.lit(0))
    classed = cum.select(
        F.when(prior0 * 100 < F.col("total") * 80, "A")
        .when(prior0 * 100 < F.col("total") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "n_parts",
        "bcents",
        "total",
    )
    return classed.groupBy("abc_class").agg(
        F.sum("n_parts").cast("bigint").alias("n_parts"),
        F.sum("bcents").cast("bigint").alias("revenue_cents"),
        (
            F.sum("bcents").cast("double")
            / F.min("total").cast("double")
        ).alias("revenue_share"),
    )


# -- Exact-integer Lloyd k-means ---------------------------------------------------
# The iterative-ML family's clustering member (next to PageRank/LPA/
# power-iteration): 3 unrolled Lloyd iterations over the embedding
# corpus, k=4, made hash-exact by the binary-fixed-point discipline —
# vectors quantize to integer 2^-10 units ONCE (floor(x*1024)), so
# every distance is an exact int64 ((v-c)^2 sums <= ~64*(2^11)^2 per
# pair), every centroid update is an integer truncating division
# (Spark DIV == DuckDB // — both truncate toward zero; verified, and
# the numpy replay in tests/test_round13.py uses the same rule), and
# argmin ties break to the lowest centroid id via the composite key
# d2*2k + cid. The oracle unrolls the iterations as MATERIALIZED CTEs
# (the k-core discipline: plain CTEs inline exponentially).

_KMEANS_K = 4
_KMEANS_ITERS = 3
_KMEANS_SCALE = 1024


def _kmeans_oracle() -> str:
    k2 = _KMEANS_K * 2
    sumsq = (
        lambda l: f"list_reduce(list_prepend(CAST(0 AS BIGINT), {l}),"
        " (acc, x) -> acc + x*x)"
    )
    vq = (
        f"list_transform(embedding, x -> CAST(FLOOR(x *"
        f" {_KMEANS_SCALE}.0e0) AS BIGINT))"
    )
    parts = [
        f"""
WITH vecs AS MATERIALIZED (
    SELECT vec_id, {vq} AS vq,
           CAST({sumsq(vq)} AS BIGINT) AS vv
    FROM embeddings
),
c0 AS MATERIALIZED (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
           vq AS cv, vv AS cc
    FROM (SELECT * FROM vecs ORDER BY vec_id LIMIT {_KMEANS_K})
)"""
    ]
    for i in range(_KMEANS_ITERS):
        parts.append(
            f""",
asn{i + 1} AS MATERIALIZED (
    SELECT vec_id, CAST(key % {k2} AS BIGINT) AS cid,
           CAST(key // {k2} AS BIGINT) AS d2
    FROM (
        SELECT v.vec_id,
               CAST(MIN((list_dot_product(v.vq, c.cv) * (-2)
                    + v.vv + c.cc) * {k2} + c.centroid_id)
                   AS BIGINT) AS key
        FROM vecs v, c{i} c
        GROUP BY 1
    )
)"""
        )
        if i < _KMEANS_ITERS - 1:
            parts.append(
                f""",
c{i + 1} AS MATERIALIZED (
    SELECT cid AS centroid_id,
           list(mv ORDER BY dim) AS cv,
           CAST({sumsq("list(mv ORDER BY dim)")} AS BIGINT) AS cc
    FROM (
        SELECT a.cid, t.dim,
               CAST(SUM(v.vq[CAST(t.dim AS INT)])
                    // COUNT(*) AS BIGINT) AS mv
        FROM asn{i + 1} a JOIN vecs v USING (vec_id),
             range(1, 65) t(dim)
        GROUP BY 1, 2
    ) GROUP BY 1
)"""
            )
    parts.append(
        f"""
SELECT cid AS centroid_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(d2) AS BIGINT) AS inertia_q
FROM asn{_KMEANS_ITERS} GROUP BY 1"""
    )
    return "".join(parts)


@query("emb_kmeans_lloyd", _kmeans_oracle())
def q_emb_kmeans_lloyd(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-integer Lloyd k-means over the embedding corpus (k=4,
    3 iterations, deterministic min-vec_id seeds) → per final cluster
    (centroid_id, n_members, inertia_q) with inertia in squared
    2^-10-quantized units. Every step is integer-exact (quantize
    once, integer distances, truncating-division centroid means,
    composite-key argmin ties), so both engines walk bit-identical
    iterates — the clustering member of the iterative family whose
    fixed-point discipline PageRank/LPA/power-iteration established.
    spark.ml KMeans slots in where float convergence (not
    hash-exactness) is the goal; this operator is the
    oracle-checkable reference path.

    Scale shape: per iteration ONE broadcast of the k×64 centroid
    relation + a narrow per-row argmin (no exchange), then one
    (cid, dim)-keyed aggregate (64k cells) for the update;
    localCheckpoint cuts lineage between iterations (the superstep
    discipline). Nothing corpus-sized ever sorts or windows."""
    emb = load_table(spark, sf_dir, "embeddings")
    k2 = _KMEANS_K * 2
    vq_expr = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * _KMEANS_SCALE).cast(
            "bigint"
        ),
    )
    sumsq = lambda c: F.aggregate(
        c,
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x * x,
    )
    vecs = (
        emb.select("vec_id", vq_expr.alias("vq"))
        .select("vec_id", "vq", sumsq(F.col("vq")).alias("vv"))
        .localCheckpoint(eager=False)  # consumed every iteration
    )
    seeds = vecs.orderBy("vec_id").limit(_KMEANS_K)
    packed = seeds.agg(
        F.array_sort(
            F.collect_list(F.struct("vec_id", "vq", "vv"))
        ).alias("a")
    )
    cents = packed.select(
        F.posexplode("a").alias("centroid_id", "s")
    ).select(
        F.col("centroid_id").cast("bigint").alias("centroid_id"),
        F.col("s.vq").alias("cv"),
        F.col("s.vv").alias("cc"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("vq"), F.col("cv"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    asn = None
    for i in range(_KMEANS_ITERS):
        key = (
            (dot * -2 + F.col("vv") + F.col("cc")) * k2
            + F.col("centroid_id")
        )
        asn = (
            vecs.crossJoin(F.broadcast(cents))
            .groupBy("vec_id")
            .agg(F.min(key).cast("bigint").alias("key"))
            .select(
                "vec_id",
                (F.col("key") % k2).cast("bigint").alias("cid"),
                F.expr(f"key div {k2}").cast("bigint").alias("d2"),
            )
            .localCheckpoint(eager=False)  # superstep lineage cut
        )
        if i < _KMEANS_ITERS - 1:
            means = (
                asn.join(vecs, "vec_id")
                .select(
                    "cid", F.posexplode("vq").alias("dim", "x")
                )
                .groupBy("cid", "dim")
                .agg(
                    F.expr("sum(x) div count(*)")
                    .cast("bigint")
                    .alias("mv")
                )
            )
            cents = (
                means.groupBy("cid")
                .agg(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("dim", "mv"))
                        ),
                        lambda s: s["mv"],
                    ).alias("cv")
                )
                .select(
                    F.col("cid").alias("centroid_id"),
                    "cv",
                    sumsq(F.col("cv")).alias("cc"),
                )
            )
    return asn.groupBy(F.col("cid").alias("centroid_id")).agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sum("d2").cast("bigint").alias("inertia_q"),
    )


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
    orders = _orders(spark, sf_dir)
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


# -- Incremental payload dedup over CDC chunks --------------------------------
# The scale path for dedup_payload_incremental, exactly as
# dedup_payload_cdc is for dedup_payload_shingle — with one designed
# improvement: candidate generation uses corpus-RARE chunks (df <= 10
# — the LSH-band discipline that bounds every probe bucket), but the
# containment VERIFY runs over each batch doc's FULL distinct chunk
# signature, not just its rare subset. The gram version scores
# containment on the rare subset only, which saturates at corpus
# scale (tiny denominators -> noisy flags: measured precision 0.147
# vs uncapped byte-8-gram truth at sf0.1); candidates-then-full-
# verify measures 0.87 precision with every one of the old truth
# set's pairs recovered (the residual 4/30 are chunk-granularity
# true but sit just under 0.5 at byte granularity).

_PAYLOAD_CDC_INCR_ORACLE = f"""
WITH manifest AS MATERIALIZED (
{_CDC_ORACLE_TMPL.format(mask=_CDC_PAIR_MASK)}
),
cs AS (
    SELECT DISTINCT m.doc_id, d.source, m.chunk_md5
    FROM manifest m JOIN documents d USING (doc_id)
),
corpus AS (SELECT doc_id, chunk_md5 FROM cs WHERE source <> 'src0'),
batch AS (SELECT doc_id, chunk_md5 FROM cs WHERE source = 'src0'),
freq AS (SELECT chunk_md5 FROM corpus GROUP BY chunk_md5
         HAVING COUNT(*) <= {_PAYLOAD_DF_CAP}),
cand AS (
    SELECT DISTINCT b.doc_id, c.doc_id AS doc_b
    FROM batch b JOIN freq USING (chunk_md5)
    JOIN corpus c USING (chunk_md5)
),
na AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM batch GROUP BY 1
),
inter AS (
    SELECT k.doc_id, k.doc_b, CAST(COUNT(*) AS BIGINT) AS c
    FROM cand k
    JOIN batch b ON b.doc_id = k.doc_id
    JOIN corpus cc ON cc.doc_id = k.doc_b
                  AND cc.chunk_md5 = b.chunk_md5
    GROUP BY 1, 2
)
SELECT i.doc_id,
       CAST(min_by(doc_b, (na.n - i.c) * 281474976710656 + doc_b)
           AS BIGINT) AS dup_of,
       MAX(i.c) AS n_common,
       CAST(MAX(i.c) AS DOUBLE) / CAST(MIN(na.n) AS DOUBLE)
           AS containment
FROM inter i JOIN na ON na.doc_id = i.doc_id
GROUP BY i.doc_id
HAVING CAST(MAX(i.c) AS DOUBLE) / CAST(MIN(na.n) AS DOUBLE)
       >= 0.5e0
"""


@query("dedup_payload_cdc_incremental", _PAYLOAD_CDC_INCR_ORACLE)
def q_dedup_payload_cdc_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily-ingest byte near-dup over CDC chunks: corpus-rare
    mask-16 chunks GENERATE candidates (bounded probe buckets), the
    batch doc's FULL distinct chunk signature VERIFIES containment
    against each candidate partner, best partner kept at containment
    >= 0.5 → (doc_id, dup_of, n_common, containment). The production
    twin of ``dedup_payload_incremental`` exactly as
    ``dedup_payload_cdc`` is of the batch pair finder — and the
    candidates-then-full-verify split fixes the rare-subset scoring
    that saturates at corpus scale (gram version precision 0.147 vs
    uncapped byte-gram truth at sf0.1; this one 0.87 with full
    recall of the prior truth set — PLANS.md).

    Scale shape: the chunk stream is ONE Arrow-batched vectorized
    fold (cdc_chunks_np) at ~1/128th the gram version's feature
    volume; rarity is a corpus-side statistic so candidate buckets
    fan out <= df_cap; the verify joins touch only candidate
    (doc, partner) pairs; winner per batch doc is min_by on the
    composite scalar through map-side partial merges. Measured 2.6s
    vs the gram version's 9.6s warm at sf0.1."""
    from ..operators import multimodal

    docs = _docs(spark, sf_dir)
    m = multimodal.cdc_chunks_np(docs, mask=_CDC_PAIR_MASK)
    cs = (
        m.join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "chunk")
        .distinct()
        .localCheckpoint(eager=False)  # feeds corpus + batch sides
    )
    corpus = cs.filter(F.col("source") != "src0").select(
        "doc_id", "chunk"
    )
    batch = cs.filter(F.col("source") == "src0").select(
        "doc_id", "chunk"
    )
    freq = (
        corpus.groupBy("chunk")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _PAYLOAD_DF_CAP)
        .select("chunk")
    )
    cand = (
        batch.join(freq, "chunk")
        .join(
            corpus.select(F.col("doc_id").alias("doc_b"), "chunk"),
            "chunk",
        )
        .select("doc_id", "doc_b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    na = batch.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n")
    )
    inter = (
        cand.join(batch, "doc_id")
        .join(
            corpus.select(
                F.col("doc_id").alias("doc_b"), "chunk"
            ),
            ["doc_b", "chunk"],
        )
        .groupBy("doc_id", "doc_b")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # Composite min_by key: (missing-chunk count) * 2^48 + doc_b
    # orders by (n-c asc, doc_b asc). Tie-correct only while n-c fits
    # in 15 bits (int64 = sign + 15 + 48) and doc_b under the 2^48
    # shift — a batch doc with >32767 distinct mask-16 chunks
    # (payload > ~512 KB) would silently wrap where DuckDB raises
    # out-of-range, so fail loudly on the Spark side too
    # (r13-advisory fix; same contract as the knn kernels' guard).
    _shift = 281474976710656  # 2^48
    _overflow = (
        (F.col("n") - F.col("c") > F.lit(32767))
        | (F.col("doc_b") >= F.lit(_shift))
        | (F.col("doc_b") < 0)
    )
    key = F.when(
        _overflow,
        F.raise_error(
            F.lit(
                "dedup_payload_cdc_incremental: n-c or doc_b exceeds "
                "the 2^48 composite-key shift budget; widen the shift"
            )
        ).cast("bigint"),
    ).otherwise(
        (F.col("n") - F.col("c")) * F.lit(_shift) + F.col("doc_b")
    )
    j = inter.join(na, "doc_id")
    return (
        j.groupBy("doc_id")
        .agg(
            F.min_by("doc_b", key).cast("bigint").alias("dup_of"),
            F.max("c").cast("bigint").alias("n_common"),
            (
                F.max("c").cast("double")
                / F.min("n").cast("double")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= 0.5)
    )
