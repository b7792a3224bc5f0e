"""Round-12 query additions (SURVEY.md §2.11/§2.12 [EXT]) — the
round-11 verdict's unfreeze list plus the families it opened:

- ``docs_pack_bestfit`` + ``docs_pack_efficiency``: first-fit-
  decreasing shelf packing over power-of-two length classes (no
  document ever splits) and the layout-decision row against
  concatenate-and-chunk;
- the BYTES tier of the dedup matrix: ``dedup_payload_shingle``
  (rare byte-8-gram Jaccard pairs), ``dedup_payload_incremental``
  (batch-vs-corpus containment), ``stream_payload_dedup`` (streaming
  gram-index twin), ``multimodal_cdc_chunks`` (content-defined
  gear-hash chunk manifest — the production byte-dedup primitive),
  and ``multimodal_cdc_dedup_ratio`` (chunk-store payoff number);
- exact-substring dedup diagnostics by HASH DOUBLING
  (operators/textdup.py): ``docs_dup_spectrum`` (corpus duplication
  mass per window length 2^k) and ``docs_dup_maxrun`` (per-doc
  removal criterion);
- ``docs_mix_capped_alloc``: the constrained mixture-weight solver
  (water-filling under per-source caps, unrolled + convergence-
  asserted);
- attribution: ``events_attribution_models`` (first/last/linear in
  one pass) and ``events_attribution_markov`` (removal effects over
  the journey chain);
- governance/evaluation/layout (second batch):
  ``customers_k_anonymity`` (privacy audit), ``profile_dq_constraints``
  + ``stream_dq_constraints`` (Deequ-style declarative checks, batch
  and ingest-side), ``docs_score_auc`` (exact integer rank AUC),
  ``customers_kaplan_meier`` (churn survival), ``layout_compaction_plan``
  (OPTIMIZE planning), ``orders_seasonal_decompose`` +
  ``orders_runs_test`` (classical decomposition + randomness check),
  ``orders_benford_audit`` (forensic first-digit screen),
  ``docs_mix_temperature`` (temperature-scaled mixture sweep),
  ``tokenizer_coverage_curve`` (Zipf-mass vocab sizing),
  ``pipeline_backfill_plan`` (gaps-and-islands outage recovery);
- retrieval/embedding (second batch): ``sim_mmr_rerank`` (MMR
  diversity rerank), ``emb_knn_label_accuracy`` (LOO 5-NN eval) and
  ``emb_mutual_knn`` (reciprocal-NN filter) on a shared blocked
  int64-matmul local-top-k kernel (operators/similarity.py), and
  ``graph_assortativity`` + ``graph_modularity`` completing the
  co-purchase graph's structure metrics.

Conventions identical to queries_r9/r11: every computed column
aliased the same in the Spark plan and the DuckDB oracle; counts CAST
to BIGINT on both sides; float recurrences quantized or evaluated as
the identical IEEE op sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import text as TX
from .registry import query


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# -- Best-fit (shelf) sequence packing ---------------------------------------
# docs_pack_sequences lays tokens out concatenate-and-chunk: zero
# padding, but documents straddle window boundaries
# (docs_pack_fragmentation measures how many). The classic no-split
# alternative is first-fit-decreasing; exact FFD is inherently
# sequential (every placement depends on all prior bin states), so
# the scalable variant used here is FFD over power-of-two LENGTH
# CLASSES (shelf / harmonic packing): round each doc's length up to a
# class c in {8,16,...,512}, and pack class-c docs c-aligned,
# 512/c per bin. Within a class every doc reserves the same slot
# size, so placement is pure rank arithmetic — rank within class
# (descending length, the "decreasing" part, so the fullest slots
# cluster in the earliest bins) maps to (bin, slot) by div/mod.
# Utilization is ≥ 50% on every shelf except possibly the last of
# each class (an item of class c has length > c/2), the standard
# shelf-packing bound.
#
# Scale shape: the only data-sized ordering is the two-level
# global_rank (range-partitioned parallel sorts + a prefix sum over
# the <=32-row totals relation — never a single-partition window);
# class offsets and bin bases are windows over the <=7-row class
# relation. Docs longer than the 512-token context clamp to class
# 512 (one full bin each, truncated — same policy as a trainer's
# hard context cut).

_PACK_L = 512
_PACK_CLASSES = (8, 16, 32, 64, 128, 256, 512)

_CLASS_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN n <= {c} THEN {c}" for c in _PACK_CLASSES[:-1]
    )
    + " ELSE 512 END"
)

_TOKCNT_SQL = (
    "COALESCE(CAST(len(regexp_split_to_array(trim(text), '\\s+')) "
    "AS BIGINT), 0)"
)

_PACK_BESTFIT_ORACLE = rf"""
WITH t AS (
    SELECT doc_id, {_TOKCNT_SQL} AS n FROM documents
),
cl AS (
    SELECT doc_id, n, {_CLASS_CASE_SQL} AS c FROM t WHERE n > 0
),
r AS (
    SELECT doc_id, n, c,
           row_number() OVER (PARTITION BY c ORDER BY n DESC, doc_id)
               AS rn
    FROM cl
),
cnt AS (SELECT c, COUNT(*) AS m FROM cl GROUP BY 1),
bins AS (
    SELECT c, m, (m + ({_PACK_L} // c) - 1) // ({_PACK_L} // c) AS nb
    FROM cnt
),
base AS (
    SELECT c,
           COALESCE(SUM(nb) OVER (ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS b0
    FROM bins
)
SELECT r.doc_id, CAST(r.n AS BIGINT) AS n_tokens,
       CAST(r.c AS BIGINT) AS size_class,
       CAST(base.b0 + (r.rn - 1) // ({_PACK_L} // r.c) AS BIGINT)
           AS bin_id,
       CAST((r.rn - 1) % ({_PACK_L} // r.c) AS BIGINT) AS slot,
       CAST(((r.rn - 1) % ({_PACK_L} // r.c)) * r.c AS BIGINT)
           AS bin_offset
FROM r JOIN base USING (c)
"""


def _classed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n, c): positive-length docs with their length class."""
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.coalesce(
            TX.ws_token_count("text").cast("bigint"), F.lit(0)
        ).alias("n"),
    ).filter(F.col("n") > 0)
    cls = F.lit(_PACK_CLASSES[-1])
    for c in reversed(_PACK_CLASSES[:-1]):
        cls = F.when(F.col("n") <= c, F.lit(c)).otherwise(cls)
    return toks.withColumn("c", cls.cast("bigint"))


@query("docs_pack_bestfit", _PACK_BESTFIT_ORACLE)
def q_docs_pack_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing shelf packing: each document placed WHOLE
    in a 512-token bin — (doc_id, n_tokens, size_class, bin_id, slot,
    bin_offset). Docs round up to a power-of-two class; class-c bins
    hold 512/c docs at c-aligned offsets; within a class, docs pack
    in decreasing-length order (rank arithmetic, the distributable
    restriction of FFD). The no-split complement of
    docs_pack_sequences: zero fragmentation, bounded (<2x, >=50%
    shelf-utilization) padding — docs_pack_efficiency quantifies the
    trade against concatenate-and-chunk.

    Scale shape: rank-within-class comes from the two-level
    global_rank over the total order (class, length desc, doc_id) —
    range-partitioned parallel sorts, prefix sums only over the
    <=32-row partition-totals relation — minus a per-class offset
    from the <=7-row class-counts relation (broadcast). NO
    single-partition sort, NO data-sized window partition; every doc's
    (bin, slot) is closed-form from its rank."""
    from ..operators.window import global_rank

    cl = _classed(spark, sf_dir)
    ranked = global_rank(
        cl.withColumn("neg_n", -F.col("n")),
        ["c", "neg_n", "doc_id"],
    ).drop("neg_n")
    cnt = cl.groupBy("c").agg(F.count("*").alias("m"))
    cap = F.lit(_PACK_L) / F.col("c")  # exact: c divides 512
    w_c = Window.orderBy("c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    meta = cnt.select(
        "c",
        F.coalesce(F.sum("m").over(w_c), F.lit(0)).alias("doc_off"),
        F.ceil(F.col("m") / cap).cast("bigint").alias("nb"),
    ).withColumn(
        "b0",
        F.coalesce(
            F.sum("nb").over(
                Window.orderBy("c").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    )
    j = ranked.join(F.broadcast(meta), "c")
    ric = F.col("rn") - F.col("doc_off") - 1  # 0-based rank in class
    cap_c = F.floor(F.lit(_PACK_L) / F.col("c")).cast("bigint")
    return j.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.col("c").alias("size_class"),
        (F.col("b0") + F.floor(ric / cap_c)).cast("bigint").alias(
            "bin_id"
        ),
        (ric % cap_c).cast("bigint").alias("slot"),
        ((ric % cap_c) * F.col("c")).cast("bigint").alias("bin_offset"),
    )


_PACK_EFF_ORACLE = rf"""
WITH t AS (
    SELECT doc_id, {_TOKCNT_SQL} AS n FROM documents
),
pos AS (SELECT doc_id, n FROM t WHERE n > 0),
chunk AS (
    SELECT doc_id, n,
           SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
               AS cb
    FROM pos
),
spans AS (
    SELECT ((cb + n - 1) // {_PACK_L} - cb // {_PACK_L} + 1) AS ns
    FROM chunk
),
cl AS (SELECT n, {_CLASS_CASE_SQL} AS c FROM pos),
shelf AS (
    SELECT CAST(SUM((m + ({_PACK_L} // c) - 1) // ({_PACK_L} // c))
               AS BIGINT) AS shelf_bins
    FROM (SELECT c, COUNT(*) AS m FROM cl GROUP BY 1)
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(SUM(LEAST(n, {_PACK_L})) AS BIGINT) AS packed_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pos
)
SELECT tot.total_tokens, tot.n_docs,
       CAST((tot.total_tokens + {_PACK_L} - 1) // {_PACK_L} AS BIGINT)
           AS chunk_bins,
       (SELECT CAST(COUNT(*) FILTER (ns > 1) AS BIGINT) FROM spans)
           AS chunk_split_docs,
       (SELECT CAST(COUNT(*) FILTER (ns > 1) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) FROM spans)
           AS chunk_split_frac,
       shelf.shelf_bins,
       CAST(tot.packed_tokens AS DOUBLE)
           / CAST(shelf.shelf_bins * {_PACK_L} AS DOUBLE)
           AS shelf_util
FROM tot, shelf
"""


@query("docs_pack_efficiency", _PACK_EFF_ORACLE)
def q_docs_pack_efficiency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The packing-layout decision row: concatenate-and-chunk
    (docs_pack_sequences — minimal bins, splits documents) vs
    best-fit shelf packing (docs_pack_bestfit — zero splits, padded
    bins), one row: (total_tokens, n_docs, chunk_bins,
    chunk_split_docs, chunk_split_frac, shelf_bins, shelf_util).
    chunk_bins is also the bin-count lower bound, so
    shelf_bins/chunk_bins is exactly the padding overhead paid to
    never truncate a document's context.

    Scale shape: the chunk side reuses the distributed prefix-sum
    placement (packing.pack_sequences) + span arithmetic; the shelf
    side needs only per-class counts (one map-side-combined groupBy
    to <=7 rows). One final single-row agg each."""
    from ..operators import packing

    placed = packing.pack_sequences(_docs(spark, sf_dir)).filter(
        F.col("n_tokens") > 0
    )
    spans = placed.select(
        "n_tokens",
        (
            (
                (
                    F.col("seq_id") * _PACK_L
                    + F.col("seq_offset")
                    + F.col("n_tokens")
                    - 1
                )
                / _PACK_L
            ).cast("bigint")
            - F.col("seq_id")
            + 1
        ).alias("ns"),
    )
    split = F.sum(
        F.when(F.col("ns") > 1, 1).otherwise(0)
    ).cast("bigint")
    chunk = spans.agg(
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum(F.least(F.col("n_tokens"), F.lit(_PACK_L)))
        .cast("bigint")
        .alias("packed_tokens"),
        F.count("*").cast("bigint").alias("n_docs"),
        split.alias("chunk_split_docs"),
        (split.cast("double") / F.count("*").cast("double")).alias(
            "chunk_split_frac"
        ),
    )
    cl = _classed(spark, sf_dir)
    cap = F.lit(_PACK_L) / F.col("c")
    shelf = (
        cl.groupBy("c")
        .agg(F.count("*").alias("m"))
        .agg(
            F.sum(F.ceil(F.col("m") / cap).cast("bigint")).alias(
                "shelf_bins"
            )
        )
    )
    return chunk.crossJoin(F.broadcast(shelf)).select(
        "total_tokens",
        "n_docs",
        F.floor(
            (F.col("total_tokens") + _PACK_L - 1) / F.lit(_PACK_L)
        )
        .cast("bigint")
        .alias("chunk_bins"),
        "chunk_split_docs",
        "chunk_split_frac",
        "shelf_bins",
        (
            F.col("packed_tokens").cast("double")
            / (F.col("shelf_bins") * _PACK_L).cast("double")
        ).alias("shelf_util"),
    )


# -- Payload-level near-duplicate detection -----------------------------------
# The dedup matrix so far keys on text (exact/minhash/simhash),
# embeddings (cosine), and URLs; a multimodal corpus also needs
# BYTE-level dedup — re-encoded or re-downloaded assets whose bytes
# differ in a few spots. Identical payloads are one sha256 groupBy
# (the dedup_exact shape, and they surface here with jaccard = 1);
# near-duplicates need alignment-robust byte shingles: stride-1
# 8-byte grams (an insertion shifts every fixed block but preserves
# all other 8-grams).
#
# The candidate join is frequency-capped: 8-grams appearing in more
# than _PAYLOAD_DF_CAP docs are boilerplate (carry no identity
# signal) and are dropped BEFORE the self-join, so a bucket fans out
# at most C(cap,2) pairs — the same bounded-bucket discipline as
# MinHash LSH bands. Jaccard is computed over each doc's DISTINCT
# rare-gram set (the discriminative signature space); at sf0.01 the
# score is cleanly bimodal (25 pairs >= 0.5, next candidate < 0.3),
# calibrated against whole-payload 8-gram Jaccard ~0.99 on the same
# pairs.

_PAYLOAD_DF_CAP = 10
_PAYLOAD_J_MIN = 0.5

_PAYLOAD_DEDUP_ORACLE = f"""
WITH b AS (
    SELECT doc_id, encode(text) AS p FROM documents
    WHERE octet_length(encode(text)) >= 8
),
sh AS (
    SELECT DISTINCT doc_id, substr(to_hex(p), i * 2 + 1, 16) AS g
    FROM b,
         unnest(range(0, CAST(octet_length(p) AS BIGINT) - 7)) AS t(i)
),
freq AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) <= {_PAYLOAD_DF_CAP}),
rare AS (SELECT sh.doc_id, sh.g FROM sh JOIN freq USING (g)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_common
    FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
      >= {_PAYLOAD_J_MIN}e0
"""


@query("dedup_payload_shingle", _PAYLOAD_DEDUP_ORACLE)
def q_dedup_payload_shingle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Byte-payload near-duplicate pairs over the opaque binary
    column: Jaccard >= 0.5 over rare (df <= 10) stride-1 byte
    8-grams → (doc_a, doc_b, n_common, jaccard), doc_a < doc_b (under
    min-id survivor election doc_a is the survivor). Identical
    payloads surface with jaccard = 1; near-identical bytes
    (re-encodes, trailing-edit copies) score ~0.99 because stride-1
    grams are insertion-robust where fixed-offset blocks are not.

    Scale shape: shingling is one map-side explode (linear in bytes);
    the df cap bounds every join bucket to <= C(10,2) pairs exactly
    like an LSH band; the pair rollup and two size joins are
    candidate-driven. Nothing quadratic outside the capped buckets.

    Known scale limit (r13, PLANS.md): the rare-gram signature
    SATURATES as the corpus grows — at sf0.1 most 8-grams blow the df
    cap, the surviving signatures are tiny, and coincidental overlaps
    pass the 0.5 bar (precision 0.129 vs uncapped byte-8-gram truth;
    recall 0.706). ``queries_r13.dedup_payload_cdc`` (content-defined
    chunks, precision 1.000 / recall 0.992 at sf0.1, ~2.5x faster) is
    the production path; this query remains the byte-granularity
    calibration surface where it is bimodal-clean (sf0.001/sf0.01 —
    their >= 0.5 pair sets are identical, pytest'd)."""
    from ..operators import multimodal

    # r15 optimization (guide §4.2 + §2.3): grams come from the
    # vectorized int64-packing kernel (one Arrow hop, per-doc distinct
    # inside the kernel — no corpus-wide .distinct() exchange); the
    # packed int64 is a BIJECTION of the original 16-hex-char
    # substring, so every downstream equality/count is exactly
    # preserved while the shuffles move 8-byte ints instead of
    # 16-char strings. Equivalence pytest'd in
    # tests/test_round15_opt.py; oracle unchanged.
    b = (
        multimodal.attach_payload(_docs(spark, sf_dir))
        .select("doc_id", "payload")
        .filter(F.length("payload") >= 8)
    )
    sh = multimodal.payload_grams(b)
    freq = (
        sh.groupBy("g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _PAYLOAD_DF_CAP)
        .select("g")
    )
    # rare feeds three consumers (sizes + both self-join sides);
    # localCheckpoint materializes the shingle stream once instead of
    # re-exploding the corpus per consumer
    rare = sh.join(freq, "g").localCheckpoint(eager=False)
    sz = rare.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = rare.select(F.col("doc_id").alias("doc_a"), "g")
    bb = rare.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (
        a.join(bb, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    j = (
        inter.join(
            sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
    )
    return j.filter(F.col("jaccard") >= _PAYLOAD_J_MIN).select(
        "doc_a", "doc_b", "n_common", "jaccard"
    )


# -- Capped mixture-weight solver (water-filling) ------------------------------
# docs_mix_temperature_alloc computes the UNCONSTRAINED tau=1/2
# allocation; the practical allocator must respect per-source
# availability (you cannot draw 1.3 epochs from a source capped at
# 1). Water-filling: compute tentative sqrt-weighted shares of the
# remaining budget; sources whose share meets their cap FREEZE at the
# cap; redistribute the remaining budget over the remaining sources;
# repeat. Each round removes >=1 source or terminates, and on this
# corpus 2 freeze rounds suffice at every SF (measured: 97% budget
# caps 8/5/1 sources at sf0.001/0.01/0.1) — the plan unrolls
# _MIX_FREEZE_ROUNDS rounds and then ASSERTS convergence (any
# still-over-cap share raises rather than emitting a wrong
# allocation, the graph-fixpoint contract).
#
# Determinism: budget and caps are exact int64; each round's weight
# total folds IN SOURCE ORDER (sorted-list fold == DuckDB
# list_reduce); shares floor-quantize to int64 tokens via the
# identical double expression FLOOR((R * w) / W) on both sides.
# Residual risk is the standard quantized-float posture: a share
# landing within one ulp of an integer boundary could flip floor()
# cross-engine.

_MIX_FREEZE_ROUNDS = 3
_MIX_BUDGET_PCT = 97


def _mix_oracle() -> str:
    head = rf"""
WITH n AS (
    SELECT source,
           CAST(SUM(len(regexp_split_to_array(trim(text), '\s+')))
               AS BIGINT) AS n_tokens
    FROM documents GROUP BY 1
),
b AS (
    SELECT (SUM(n_tokens) * {_MIX_BUDGET_PCT}) // 100 AS budget FROM n
),
a0 AS (
    SELECT source, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS w,
           n_tokens AS cap
    FROM n
)"""
    rounds = []
    prev_a, prev_r = "a0", "(SELECT budget FROM b)"
    for k in range(1, _MIX_FREEZE_ROUNDS + 1):
        rounds.append(f""",
w{k} AS (
    SELECT list_reduce(list(w ORDER BY source), (x, y) -> x + y) AS wt
    FROM {prev_a}
),
s{k} AS (
    SELECT source, n_tokens, w, cap,
           CAST(FLOOR((CAST({prev_r} AS DOUBLE) * w)
               / (SELECT wt FROM w{k})) AS BIGINT) AS share
    FROM {prev_a}
),
f{k} AS (SELECT * FROM s{k} WHERE share >= cap),
a{k} AS (SELECT source, n_tokens, w, cap FROM s{k} WHERE share < cap),
r{k} AS (
    SELECT {prev_r} - COALESCE((SELECT SUM(cap) FROM f{k}), 0) AS rem
)""")
        prev_a, prev_r = f"a{k}", f"(SELECT rem FROM r{k})"
    K = _MIX_FREEZE_ROUNDS
    tail = f""",
wf AS (
    SELECT list_reduce(list(w ORDER BY source), (x, y) -> x + y) AS wt
    FROM a{K}
),
fin AS (
    SELECT source, n_tokens, cap,
           CAST(FLOOR((CAST((SELECT rem FROM r{K}) AS DOUBLE) * w)
               / (SELECT wt FROM wf)) AS BIGINT) AS alloc
    FROM a{K}
)
SELECT source, n_tokens, CAST(cap AS BIGINT) AS cap_tokens,
       CAST(alloc AS BIGINT) AS alloc_tokens, FALSE AS capped
FROM fin
{"".join(f'''UNION ALL
SELECT source, n_tokens, CAST(cap AS BIGINT) AS cap_tokens,
       CAST(cap AS BIGINT) AS alloc_tokens, TRUE AS capped
FROM f{k}
''' for k in range(1, K + 1))}"""
    return head + "".join(rounds) + tail


def _sorted_weight_sum(df: DataFrame) -> DataFrame:
    """1-row (wt): the active sources' weights folded in source
    order — the sorted-fold == list_reduce equivalence
    docs_mix_temperature_alloc established."""
    return (
        df.select(F.struct("source", "w").alias("s"))
        .agg(F.array_sort(F.collect_list("s")).alias("a"))
        .select(
            F.aggregate(
                F.transform("a", lambda s: s["w"]),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("wt")
        )
    )


@query("docs_mix_capped_alloc", _mix_oracle())
def q_docs_mix_capped_alloc(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Constrained mixture allocator: sqrt-temperature token shares
    under per-source availability caps (1 epoch), budget = 97% of
    corpus tokens, excess from capped sources redistributed by
    water-filling → (source, n_tokens, cap_tokens, alloc_tokens,
    capped). The solver step docs_mix_temperature_alloc's
    unconstrained answer needs before it can drive a real sampler.

    Scale shape: ONE map-side-combined count shuffle to the
    |sources|-row relation; every solver round is arithmetic over
    that bounded relation (1-row folds broadcast back) — cost is
    independent of corpus size. Convergence is ASSERTED in-plan
    after the fixed 3 freeze rounds (assert_true on the final
    shares), so a corpus needing a 4th round fails loudly instead of
    over-allocating."""
    n = (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.sum(F.size(TX.tokens("text")))
            .cast("bigint")
            .alias("n_tokens")
        )
    )
    a = n.select(
        "source",
        "n_tokens",
        F.sqrt(F.col("n_tokens").cast("double")).alias("w"),
        F.col("n_tokens").alias("cap"),
    ).localCheckpoint(eager=False)
    budget = a.agg(
        F.expr(f"(sum(cap) * {_MIX_BUDGET_PCT}) DIV 100").alias("rem")
    )
    frozen = []
    rem = budget
    for _ in range(_MIX_FREEZE_ROUNDS):
        wt = _sorted_weight_sum(a)
        s = (
            a.crossJoin(F.broadcast(rem))
            .crossJoin(F.broadcast(wt))
            .withColumn(
                "share",
                F.floor(
                    (F.col("rem").cast("double") * F.col("w"))
                    / F.col("wt")
                ).cast("bigint"),
            )
        )
        s = s.localCheckpoint(eager=False)
        frozen.append(
            s.filter(F.col("share") >= F.col("cap")).select(
                "source",
                "n_tokens",
                F.col("cap").cast("bigint").alias("cap_tokens"),
                F.col("cap").cast("bigint").alias("alloc_tokens"),
                F.lit(True).alias("capped"),
            )
        )
        newly_capped = s.filter(F.col("share") >= F.col("cap"))
        rem = (
            s.crossJoin(
                F.broadcast(
                    newly_capped.agg(
                        F.coalesce(F.sum("cap"), F.lit(0)).alias(
                            "__freed"
                        )
                    )
                )
            )
            .select((F.col("rem") - F.col("__freed")).alias("rem"))
            .limit(1)
        )
        a = s.filter(F.col("share") < F.col("cap")).select(
            "source", "n_tokens", "w", "cap"
        )
    wt = _sorted_weight_sum(a)
    fin = (
        a.crossJoin(F.broadcast(rem))
        .crossJoin(F.broadcast(wt))
        .withColumn(
            "alloc",
            F.floor(
                (F.col("rem").cast("double") * F.col("w"))
                / F.col("wt")
            ).cast("bigint"),
        )
        .withColumn(
            "__conv",
            F.assert_true(
                F.col("alloc") < F.col("cap"),
                F.lit(
                    "docs_mix_capped_alloc: a source still exceeds "
                    "its cap after the unrolled freeze rounds — "
                    "raise _MIX_FREEZE_ROUNDS"
                ),
            ),
        )
    )
    uncapped = fin.select(
        "source",
        "n_tokens",
        F.col("cap").cast("bigint").alias("cap_tokens"),
        (
            F.col("alloc")
            + F.coalesce(F.col("__conv").cast("bigint"), F.lit(0))
        ).alias("alloc_tokens"),
        F.lit(False).alias("capped"),
    )
    out = uncapped
    for fr in frozen:
        out = out.unionByName(fr)
    return out


# -- Incremental payload dedup -------------------------------------------------
# Completes the incremental-dedup family across all FIVE signatures:
# exact hash (dedup_incremental), MinHash (dedup_minhash_incremental),
# embedding (dedup_embedding_incremental), SimHash
# (dedup_simhash_incremental) — and now raw bytes. The day's batch
# (source 'src0', the family's split convention) probes the corpus's
# rare-gram inventory; the ingest question is CONTAINMENT ("how much
# of this new file's discriminative bytes already exist in its
# closest corpus partner"), not symmetric Jaccard — a small re-encode
# of a large stored asset should still flag.
#
# In production the corpus side is a STORED (gram, doc_id) index over
# corpus-rare grams (write-once per ingested partition, same
# append-only discipline as the simhash fingerprint index); rarity is
# a corpus-side statistic, so the batch never changes the index it
# probes.

_PAYLOAD_INCR_MIN_CONTAIN = 0.5

_PAYLOAD_INCR_ORACLE = f"""
WITH b AS (
    SELECT doc_id, source, encode(text) AS p FROM documents
    WHERE octet_length(encode(text)) >= 8
),
sh AS (
    SELECT DISTINCT doc_id, source,
           substr(to_hex(p), i * 2 + 1, 16) AS g
    FROM b,
         unnest(range(0, CAST(octet_length(p) AS BIGINT) - 7)) AS t(i)
),
corpus AS (SELECT doc_id, g FROM sh WHERE source <> 'src0'),
freq AS (SELECT g FROM corpus GROUP BY g
         HAVING COUNT(*) <= {_PAYLOAD_DF_CAP}),
crare AS (SELECT c.doc_id, c.g FROM corpus c JOIN freq USING (g)),
brare AS (
    SELECT s.doc_id, s.g FROM sh s JOIN freq USING (g)
    WHERE s.source = 'src0'
),
na AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM brare GROUP BY 1),
inter AS (
    SELECT b.doc_id, c.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM brare b JOIN crare c ON b.g = c.g GROUP BY 1, 2
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
       >= {_PAYLOAD_INCR_MIN_CONTAIN}e0
"""


@query("dedup_payload_incremental", _PAYLOAD_INCR_ORACLE)
def q_dedup_payload_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily-ingest byte-payload near-dup: the batch's (source 'src0')
    rare byte 8-grams probe the corpus's rare-gram inventory; per
    batch doc the corpus partner covering the most of its
    discriminative grams, kept when containment >= 0.5 →
    (doc_id, dup_of, n_common, containment). Containment (not
    Jaccard) is the ingest-side score: a small re-encode of a large
    stored asset still flags. Completes the incremental-dedup family
    (exact / MinHash / embedding / SimHash / bytes).

    Scale shape: rarity (df <= 10) is a corpus-side statistic — the
    stored-index production shape — so every join bucket fans out
    <= df_cap corpus partners per batch gram; standing per-day cost
    is batch-grams vs the index projection, the corpus is never
    re-shingled. Winner per batch doc is min_by on a composite
    scalar ((na - c) in the high bits: maximize coverage, tie ->
    smallest partner id) through map-side partial merges — no window
    over candidates."""
    from ..operators import multimodal

    # r15 optimization: int64-packed gram kernel (see
    # q_dedup_payload_shingle) with `source` carried through the
    # kernel — the old per-byte hex-substring transform, the
    # corpus-wide .distinct() exchange AND the doc_id self-join that
    # only re-attached `source` are gone (attach_payload's payload is
    # encode(text) by definition, so projecting it directly alongside
    # source computes the identical relation without the join).
    b = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            "source",
            F.encode(F.col("text"), "UTF-8").alias("payload"),
        )
        .filter(F.length("payload") >= 8)
    )
    sh = multimodal.payload_grams(
        b, extra_cols=("source",)
    ).localCheckpoint(eager=False)
    corpus = sh.filter(F.col("source") != "src0").select("doc_id", "g")
    freq = (
        corpus.groupBy("g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _PAYLOAD_DF_CAP)
        .select("g")
    )
    crare = corpus.join(freq, "g").localCheckpoint(eager=False)
    brare = (
        sh.filter(F.col("source") == "src0")
        .select("doc_id", "g")
        .join(freq, "g")
        .localCheckpoint(eager=False)
    )
    na = brare.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n")
    )
    inter = (
        brare.join(
            crare.select(F.col("doc_id").alias("doc_b"), "g"), "g"
        )
        .groupBy("doc_id", "doc_b")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    key = (F.col("n") - F.col("c")) * F.lit(281474976710656) + F.col(
        "doc_b"
    )
    return (
        inter.join(na, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.min_by("doc_b", key).alias("dup_of"),
            F.max("c").alias("n_common"),
            (
                F.max("c").cast("double")
                / F.min("n").cast("double")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= _PAYLOAD_INCR_MIN_CONTAIN)
    )


# -- Corpus duplication spectrum (hash doubling) -------------------------------
# The suffix-array dedup diagnostic (the "deduplicating training data"
# exact-substring line of work): for every window length 2^k, how much
# of the corpus token stream is part of a duplicated window. Naive
# evaluation re-shingles the corpus per k (sum_k N*2^k tokens touched);
# HASH DOUBLING derives a 2^k-window's fingerprint from its two
# 2^(k-1)-halves, so every level costs O(N) and the text is tokenised
# once. Fingerprints are content identity modulo 128-bit collisions,
# the repo-wide digest posture.
#
# The oracle lays the corpus out as one token stream with a unique
# sentinel (chr(1) || doc_id) after each document, so a window that
# crosses a document end contains a unique token and occurs once.
# Only in-document windows can repeat, which is why the engine runs
# the doubling per document (operators/textdup.window_digests) and
# never builds corpus positions.

_SPECTRUM_ROUNDS = 8  # windows 2^0 .. 2^8 = 256 tokens


def _spectrum_oracle() -> str:
    from ..operators.textdup import oracle_level_ctes

    per_k = "\n  UNION ALL ".join(
        f"SELECT {k} AS k, h, COUNT(*) AS cnt FROM h{k} GROUP BY 1, 2"
        for k in range(_SPECTRUM_ROUNDS + 1)
    )
    return (
        oracle_level_ctes(_SPECTRUM_ROUNDS)
        + f"""
SELECT CAST(k AS BIGINT) AS k, CAST(1 << k AS BIGINT) AS win_tokens,
       CAST(COALESCE(SUM(cnt) FILTER (cnt >= 2), 0) AS BIGINT)
           AS n_dup_positions,
       CAST(COUNT(*) FILTER (cnt >= 2) AS BIGINT) AS n_dup_windows,
       CAST(MAX(cnt) AS BIGINT) AS max_multiplicity
FROM (
  {per_k}
) GROUP BY k
"""
    )


@query("docs_dup_spectrum", _spectrum_oracle())
def q_docs_dup_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication spectrum: for every window length
    2^k (k = 0..8), the number of corpus positions whose 2^k-token
    window occurs elsewhere, the number of distinct duplicated
    windows, and the worst multiplicity → (k, win_tokens,
    n_dup_positions, n_dup_windows, max_multiplicity). THE
    suffix-array-dedup tuning curve: pick the removal threshold where
    the spectrum's mass collapses (here 2 -> 4 tokens drops ~10x).

    Scale shape: one vectorized per-document doubling pass over the
    scan (all 9 levels, no exchange), then one grouping by
    fingerprint and a 9-row per-level aggregate. Every level of the
    oracle's stream also holds windows that cross a sentinel, each
    counted once, so a level without duplicates reports
    max_multiplicity 1."""
    from ..operators import textdup

    cnt = (
        textdup.window_digests(_docs(spark, sf_dir), _SPECTRUM_ROUNDS)
        .groupBy("k", "ha", "hb")
        .agg(F.count("*").alias("cnt"))
    )
    per_k = cnt.groupBy(F.col("k").cast("bigint").alias("k")).agg(
        F.sum(F.when(F.col("cnt") >= 2, F.col("cnt"))).alias(
            "n_dup_positions"
        ),
        F.count(F.when(F.col("cnt") >= 2, 1)).alias("n_dup_windows"),
        F.max("cnt").alias("max_multiplicity"),
    )
    levels = spark.range(_SPECTRUM_ROUNDS + 1).select(
        F.col("id").alias("k")
    )
    return levels.join(per_k, "k", "left").select(
        "k",
        F.expr("shiftleft(1L, k)").alias("win_tokens"),
        F.coalesce("n_dup_positions", F.lit(0)).alias("n_dup_positions"),
        F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
        F.coalesce("max_multiplicity", F.lit(1)).alias("max_multiplicity"),
    )


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
    from ..streaming import jobs as stream_jobs

    return stream_jobs.payload_dedup_stream(spark, sf_dir)


# -- Per-document longest duplicated run ---------------------------------------
# The spectrum aggregates corpus-wide; the REMOVAL decision is
# per-document: the longest (power-of-two-resolved) window in each
# doc that occurs elsewhere in the corpus. Exact-substring dedup
# policies delete or trim docs whose longest duplicated run exceeds a
# threshold — this is that triage column. Any duplicated window
# starting inside a doc lies entirely within it (a window crossing
# the boundary contains the doc's unique sentinel and cannot be
# duplicated), so the per-doc max is exact, not clipped.


def _maxrun_oracle() -> str:
    from ..operators.textdup import oracle_level_ctes

    per_k = "\n    UNION ALL ".join(
        f"""SELECT dp.doc_id, {k} AS k
    FROM h{k} l JOIN dup{k} USING (h) JOIN docpos dp USING (pos)"""
        for k in range(_SPECTRUM_ROUNDS + 1)
    )
    dups = "".join(
        f""",
dup{k} AS MATERIALIZED (
    SELECT h FROM h{k} GROUP BY h HAVING COUNT(*) >= 2
)"""
        for k in range(_SPECTRUM_ROUNDS + 1)
    )
    return (
        oracle_level_ctes(_SPECTRUM_ROUNDS)
        + dups
        + f""",
flags AS (
    {per_k}
)
SELECT d.doc_id,
       CAST(COALESCE(1 << MAX(f.k), 0) AS BIGINT) AS max_dup_win
FROM d LEFT JOIN flags f USING (doc_id)
GROUP BY d.doc_id
"""
    )


@query("docs_dup_maxrun", _maxrun_oracle())
def q_docs_dup_maxrun(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document longest duplicated window (power-of-two
    resolution): for each doc the largest 2^k such that some
    2^k-token window of the doc occurs elsewhere in the corpus →
    (doc_id, max_dup_win; 0 when even its 1-grams are unique). The
    per-document removal criterion behind exact-substring dedup
    ("drop/trim docs sharing a >= 64-token run with anything else"),
    resolved from the SAME window fingerprints as docs_dup_spectrum.

    Scale shape: the per-document doubling pass of the spectrum, one
    count window per fingerprint, and one per-doc max. Nothing
    rescans text. A doc's duplicated windows all lie inside it, so
    the per-doc max is exact."""
    from ..operators import textdup

    wins = textdup.window_digests(_docs(spark, sf_dir), _SPECTRUM_ROUNDS)
    w = Window.partitionBy("k", "ha", "hb")
    flags = (
        wins.withColumn("cnt", F.count("*").over(w))
        .filter(F.col("cnt") >= 2)
        .select("doc_id", "k")
    )
    all_docs = _docs(spark, sf_dir).select("doc_id")
    best = flags.groupBy("doc_id").agg(F.max("k").alias("mk"))
    return (
        all_docs.join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                F.expr("cast(1 as bigint) * (1 << mk)"),
                F.lit(0),
            )
            .cast("bigint")
            .alias("max_dup_win"),
        )
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


# -- Content-defined chunking (gear hash) ---------------------------------------
# The production byte-dedup primitive the stride-1 8-gram queries
# approximate: cut the payload at positions where a rolling GEAR hash
# of the last 32 bytes hits a mask (h % 64 == 0 → ~64-byte average
# chunks). Boundaries are a pure LOCAL function of the trailing
# window — an insertion shifts content but every boundary outside the
# edited neighborhood re-synchronizes, so near-identical payloads
# share almost all chunk hashes (the rsync/LBFS/backup-dedup
# property). Because the window is fixed at 32 bytes, h(pos) is
# expressible WITHOUT sequential recursion as a 32-term fold per
# position — both engines evaluate the identical nested
# transform/aggregate HOFs (O(32·n_bytes) per doc, linear, JVM-side).
#
# The gear table is md5-derived per byte value (first 8 hex chars →
# int32 range), identical in both engines; all arithmetic is mod 2^32
# (explicit `% 4294967296` — no engine-specific shift-overflow
# semantics in play).

import hashlib as _hashlib

_GEAR = tuple(
    int(_hashlib.md5(str(b).encode()).hexdigest()[:8], 16)
    for b in range(256)
)

# Boundary mask parameterized (round 13): mask 64 -> ~64-byte chunks
# (the storage/backup manifest); mask 16 -> ~16-byte chunks (the
# near-dup pair finder's resolution, queries_r13.dedup_payload_cdc —
# at ~64 bytes a 2-chunk payload cannot separate an edited near-dup
# from a coincidental 1-chunk overlap).
_CDC_ORACLE_TMPL = r"""
WITH gear AS (
    SELECT list_transform(range(0, 256),
        b -> ('0x' || substr(md5(CAST(b AS VARCHAR)), 1, 8))::BIGINT
    ) AS g
),
d AS (
    SELECT doc_id, lower(to_hex(encode(text))) AS hx,
           CAST(octet_length(encode(text)) AS BIGINT) AS nb
    FROM documents
),
bytes AS MATERIALIZED (
    SELECT doc_id, nb, hx, g,
           list_transform(range(0, nb),
               i -> ('0x' || substr(hx, CAST(i*2+1 AS INT), 2))::BIGINT
           ) AS bv
    FROM d, gear
),
bounds AS MATERIALIZED (
    SELECT doc_id, nb, hx,
           list_filter(range(0, nb),
               p -> list_reduce(
                        list_transform(
                            range(0, CAST(LEAST(p + 1, 32) AS BIGINT)),
                            j -> (g[CAST(bv[CAST(p - j + 1 AS INT)]
                                         AS INT) + 1]
                                  * (1 << j)) % 4294967296),
                        (a, b) -> (a + b) % 4294967296) % {mask} = 0
                    AND p >= 31) AS cuts
    FROM bytes
)
SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
       CAST(s AS BIGINT) AS start_byte,
       CAST(e - s + 1 AS BIGINT) AS chunk_len,
       md5(substr(hx, CAST(s * 2 + 1 AS INT),
                  CAST((e - s + 1) * 2 AS INT))) AS chunk_md5
FROM (
    SELECT doc_id, nb, hx, cuts, ci,
           CASE WHEN ci = 0 THEN 0
                ELSE cuts[CAST(ci AS INT)] + 1 END AS s,
           CASE WHEN ci = len(cuts) THEN nb - 1
                ELSE cuts[CAST(ci + 1 AS INT)] END AS e
    FROM bounds, unnest(range(0, len(cuts) + 1)) AS t(ci)
)
"""

_CDC_ORACLE = _CDC_ORACLE_TMPL.format(mask=64)


@query("multimodal_cdc_chunks", _CDC_ORACLE)
def q_multimodal_cdc_chunks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Content-defined chunk manifest over the opaque binary payload:
    gear-hash boundaries (32-byte rolling window, mask 64 → ~64-byte
    chunks) → (doc_id, chunk_idx, start_byte, chunk_len, chunk_md5).
    Boundaries re-synchronize after an edit, so near-identical
    payloads share almost all chunk hashes — the
    rsync/LBFS/backup-dedup primitive, and the production scale path
    the stride-1 8-gram dedup queries name.

    Scale shape: entirely map-side — per doc ONE O(n_bytes) running
    fold (the mod-2^32 weights make the 32-byte window self-expiring,
    so the windowed hash equals the running recurrence h = (2h +
    g[b]) mod 2^32 — see the in-code proof note) and one explode to
    ~n_bytes/64 manifest rows; zero exchanges before any downstream
    chunk-hash groupBy."""
    return _cdc_manifest(spark, sf_dir, mask=64)


def _cdc_manifest(
    spark: SparkSession, sf_dir: str, mask: int = 64
) -> DataFrame:
    """Gear-hash CDC manifest at a caller-chosen boundary mask
    (expected chunk length ~= mask bytes). Shared by
    multimodal_cdc_chunks (mask 64) and queries_r13's CDC pair
    queries (mask 16).

    r15 optimization (guide §4.2): the manifest comes from the
    vectorized Arrow kernel ``operators.multimodal.cdc_manifest_np``
    — byte-identical output to the pure-SQL per-byte fold kept below
    as ``_cdc_manifest_sql`` (equivalence pytest'd at sf0.001 in
    tests/test_round15_opt.py; the oracle is unchanged). Measured at
    sf0.1 solo: multimodal_cdc_chunks 6.0 s -> see OPTIMIZATION_r15.md."""
    from ..operators import multimodal

    return multimodal.cdc_manifest_np(_docs(spark, sf_dir), mask=mask)


def _cdc_manifest_sql(
    spark: SparkSession, sf_dir: str, mask: int = 64
) -> DataFrame:
    """Pure-SQL per-byte gear fold (the original formulation) — kept
    as the reference twin for the kernel-equivalence test."""
    from ..operators import multimodal

    b = multimodal.attach_payload(_docs(spark, sf_dir)).select(
        "doc_id", "payload"
    )
    d = b.select(
        "doc_id",
        F.lower(F.hex("payload")).alias("hx"),
        F.length("payload").cast("bigint").alias("nb"),
    )
    # The gear table embeds as 256 int64 LITERALS (python md5 ==
    # engine md5 of the same decimal strings). A transform()-built
    # array column here would be project-collapsed into the lambda
    # below and re-evaluated PER ELEMENT ACCESS (the round-9
    # HOF-closure trap: 8M accesses x 256 md5 calls hung the first
    # version); literals constant-fold instead.
    g_lit = "array(" + ", ".join(f"{v}L" for v in _GEAR) + ")"
    # O(n_bytes) running fold, not O(32*n_bytes) per-position windows:
    # with weight 2^j and arithmetic mod 2^32, the 32-byte window is
    # self-expiring — the j>=32 terms vanish (2^32 === 0), so the
    # windowed hash EQUALS the full running recurrence h = (2h +
    # g[b]) mod 2^32 at every position (for p < 31 the window is the
    # whole prefix on both formulations). F.aggregate is a true
    # functional fold (unlike DuckDB list_reduce's sequential
    # struct_pack, which is why the ORACLE keeps the 32-term local
    # form), and the fold reads its input array ONCE — no random
    # element_at into a computed array, so no CollapseProject
    # re-evaluation trap and no lineage cut needed. Measured: 27 s ->
    # ~3 s at sf0.1.
    cuts = d.withColumn(
        "cuts",
        F.expr(
            f"""
aggregate(
  transform(sequence(0, cast(nb as int) - 1),
            i -> cast(conv(substr(hx, i*2+1, 2), 16, 10) as int)),
  named_struct('h', 0L, 'p', 0, 'c', cast(array() as array<int>)),
  (acc, b) -> named_struct(
    'h', (2L * acc.h + element_at({g_lit}, b + 1)) % 4294967296L,
    'p', acc.p + 1,
    'c', if(((2L * acc.h + element_at({g_lit}, b + 1))
             % 4294967296L) % {mask} = 0 and acc.p >= 31,
            array_append(acc.c, acc.p), acc.c)),
  acc -> acc.c)
"""
        ),
    ).select("doc_id", "hx", "nb", "cuts")
    spans = cuts.select(
        "doc_id",
        "hx",
        "nb",
        "cuts",
        F.explode(
            F.sequence(F.lit(0), F.size("cuts"))
        ).alias("ci"),
    ).select(
        "doc_id",
        "hx",
        F.col("ci").cast("bigint").alias("chunk_idx"),
        F.when(F.col("ci") == 0, F.lit(0))
        .otherwise(F.get("cuts", F.col("ci") - 1) + 1)
        .cast("bigint")
        .alias("s"),
        F.when(
            F.col("ci") == F.size("cuts"), F.col("nb") - 1
        )
        .otherwise(F.get("cuts", F.col("ci")))
        .cast("bigint")
        .alias("e"),
    )
    return spans.select(
        "doc_id",
        "chunk_idx",
        F.col("s").alias("start_byte"),
        (F.col("e") - F.col("s") + 1).alias("chunk_len"),
        F.md5(
            F.expr(
                "substr(hx, cast(s * 2 + 1 as int), "
                "cast((e - s + 1) * 2 as int))"
            )
        ).alias("chunk_md5"),
    )


# -- CDC chunk-store dedup ratio ------------------------------------------------
# The backup-dedup headline number the chunk manifest exists for:
# store every chunk once, keyed by content hash — how many bytes does
# the chunk store hold vs the logical corpus? (The multimodal twin of
# docs_dedup_impact_tokens.) Unique-chunk bytes charge each distinct
# chunk_md5 its first occurrence's length (lengths are equal for
# equal content — md5 collision posture as everywhere).

_CDC_DEDUP_ORACLE = f"""
WITH manifest AS MATERIALIZED (
{_CDC_ORACLE}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT chunk_md5) AS BIGINT) AS n_unique_chunks,
       CAST(SUM(chunk_len) AS BIGINT) AS logical_bytes,
       CAST((SELECT SUM(l) FROM (
            SELECT MIN(chunk_len) AS l FROM manifest GROUP BY chunk_md5
       )) AS BIGINT) AS stored_bytes,
       CAST(SUM(chunk_len) AS DOUBLE) / CAST((SELECT SUM(l) FROM (
            SELECT MIN(chunk_len) AS l FROM manifest GROUP BY chunk_md5
       )) AS DOUBLE) AS dedup_ratio
FROM manifest
"""


@query("multimodal_cdc_dedup_ratio", _CDC_DEDUP_ORACLE)
def q_multimodal_cdc_dedup_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chunk-store deduplication ratio over the CDC manifest: store
    every distinct chunk once → (n_chunks, n_unique_chunks,
    logical_bytes, stored_bytes, dedup_ratio). The headline number a
    content-addressed blob store reports, and the payoff measurement
    for multimodal_cdc_chunks' boundary re-synchronization: near-dup
    payloads collapse onto shared chunks, so dedup_ratio > 1 exactly
    when the corpus carries byte-level redundancy.

    Scale shape: the manifest pass (map-only) + ONE chunk_md5-keyed
    groupBy (map-side combined) + one-row aggregates. Nothing else."""
    m = q_multimodal_cdc_chunks(spark, sf_dir).localCheckpoint(
        eager=False
    )
    stored = m.groupBy("chunk_md5").agg(
        F.min("chunk_len").alias("l")
    ).agg(F.sum("l").cast("bigint").alias("stored_bytes"))
    tot = m.agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.count_distinct("chunk_md5").cast("bigint").alias(
            "n_unique_chunks"
        ),
        F.sum("chunk_len").cast("bigint").alias("logical_bytes"),
    )
    return tot.crossJoin(F.broadcast(stored)).select(
        "n_chunks",
        "n_unique_chunks",
        "logical_bytes",
        "stored_bytes",
        (
            F.col("logical_bytes").cast("double")
            / F.col("stored_bytes").cast("double")
        ).alias("dedup_ratio"),
    )


# =============================================================================
# Round-12 second batch: governance, evaluation, and layout families
# absent from the first 344 queries — privacy audit (k-anonymity),
# Deequ-style declarative data-quality constraints, exact rank AUC,
# Kaplan-Meier survival, small-file compaction planning, classical
# seasonal decomposition, temperature-scaled mixture weights, and the
# tokenizer coverage curve. Same conventions: scalar columns only,
# BIGINT casts on every count, float only in single shared-literal
# divisions or floor-quantized micro-units.
# =============================================================================


def _customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer")


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders")


# -- Privacy: k-anonymity / l-diversity audit ---------------------------------
# Release-readiness audit of the customer table under the
# quasi-identifier pair (nation, market segment): every row in a QI
# group of size k is k-anonymous; the sensitive attribute here is the
# account-balance $1000 bucket, whose distinct count per group is its
# l-diversity. The report buckets QI groups into k-bands — the shape a
# privacy reviewer reads ("how many rows sit in groups smaller than
# 5?").

_KANON_ORACLE = """
WITH g AS (
    SELECT c_nationkey, c_mktsegment,
           COUNT(*) AS k,
           COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT))
               AS l
    FROM customer
    GROUP BY 1, 2
),
banded AS (
    SELECT CASE WHEN k < 2 THEN '1'
                WHEN k < 5 THEN '2-4'
                WHEN k < 10 THEN '5-9'
                ELSE '10+' END AS k_band,
           k, l
    FROM g
)
SELECT k_band,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(k) AS BIGINT) AS n_rows,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MIN(l) AS BIGINT) AS min_l
FROM banded
GROUP BY k_band
"""


@query("customers_k_anonymity", _KANON_ORACLE)
def q_customers_k_anonymity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Privacy audit: k-anonymity of the customer table under the
    quasi-identifier (c_nationkey, c_mktsegment), with l-diversity of
    the $1000 account-balance bucket as the sensitive attribute →
    one row per k-band (1 / 2-4 / 5-9 / 10+): (k_band, n_groups,
    n_rows, min_k, min_l). The per-band row count is exactly the
    population a generalization/suppression pass would have to touch
    to reach k=5 or k=10.

    Scale shape: ONE QI-keyed shuffle (count + distinct-sensitive via
    the standard two-phase distinct expansion), then a 4-row band
    rollup — group count is bounded by |nations|x|segments|, never by
    row count. The sensitive bucket is FLOOR over one shared double
    division (exact for |acctbal| < 2^53 cents), so both engines band
    identically."""
    c = _customer(spark, sf_dir)
    sens = F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("bigint")
    g = (
        c.select("c_nationkey", "c_mktsegment", sens.alias("sens"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").alias("k"),
            F.count_distinct("sens").alias("l"),
        )
    )
    band = (
        F.when(F.col("k") < 2, F.lit("1"))
        .when(F.col("k") < 5, F.lit("2-4"))
        .when(F.col("k") < 10, F.lit("5-9"))
        .otherwise(F.lit("10+"))
    )
    return g.groupBy(band.alias("k_band")).agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum("k").cast("bigint").alias("n_rows"),
        F.min("k").cast("bigint").alias("min_k"),
        F.min("l").cast("bigint").alias("min_l"),
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
    cust = _customer(spark, sf_dir).select(
        "c_custkey", "c_acctbal"
    )
    orders = _orders(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    docs = _docs(spark, sf_dir)

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


# -- Exact rank AUC (Mann-Whitney) for a per-doc score ------------------------
# The evaluation metric the NB/quality classifiers have been missing:
# one-vs-rest AUC of a document score per language, computed EXACTLY
# as integers. With midrank tie handling, 2U = sum over score values
# v of P_v * (2*N_below(v) + N_v), all integers, so the result ships
# as a (numerator, denominator) pair — no float enters the query at
# all. The score here is n_chars (any per-doc score column slots in);
# the metric machinery is the point.

_AUC_ORACLE = """
WITH per AS (
    SELECT n_chars AS score, lang, COUNT(*) AS c
    FROM documents GROUP BY 1, 2
),
tot AS (SELECT score, SUM(c) AS t FROM per GROUP BY 1),
langs AS (SELECT DISTINCT lang FROM documents),
grid AS (
    SELECT t.score, l.lang, t.t,
           COALESCE(p.c, 0) AS c
    FROM tot t CROSS JOIN langs l
    LEFT JOIN per p ON p.score = t.score AND p.lang = l.lang
),
cum AS (
    SELECT score, lang, t, c,
           COALESCE(SUM(t) OVER (PARTITION BY lang ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS t_below,
           COALESCE(SUM(c) OVER (PARTITION BY lang ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS c_below
    FROM grid
)
SELECT lang,
       CAST(SUM(c) AS BIGINT) AS n_pos,
       CAST(SUM(t - c) AS BIGINT) AS n_neg,
       CAST(SUM(c * (2 * (t_below - c_below) + (t - c)))
           AS BIGINT) AS auc_num,
       CAST(2 * SUM(c) * SUM(t - c) AS BIGINT) AS auc_den
FROM cum
GROUP BY lang
"""


@query("docs_score_auc", _AUC_ORACLE)
def q_docs_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation primitive: EXACT one-vs-rest rank AUC
    (Mann-Whitney with midrank ties) of a per-document score — here
    n_chars — against each language label → (lang, n_pos, n_neg,
    auc_num, auc_den) with AUC = auc_num/auc_den. Everything stays in
    integer arithmetic: 2U = sum_v P_v*(2*N_below + N_v), so the
    result is hash-exact with no quantization at all — the pattern any
    model-score column (NB log-odds, quality score) slots into.

    Scale shape: the heavy input collapses to per-(score,lang) counts
    in ONE shuffle; the cumulative windows then run over the DISTINCT
    SCORE VALUES (bounded by the max document length in chars — 313
    values at sf0.01 — never by corpus size) crossed with the ~5-row
    language relation. A data-sized corpus never enters a window."""
    docs = _docs(spark, sf_dir)
    per = (
        docs.select(F.col("n_chars").alias("score"), "lang")
        .groupBy("score", "lang")
        .agg(F.count("*").alias("c"))
    )
    tot = per.groupBy("score").agg(F.sum("c").alias("t"))
    langs = docs.select("lang").distinct()
    grid = (
        tot.crossJoin(F.broadcast(langs))
        .join(per, ["score", "lang"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = grid.select(
        "lang",
        "t",
        "c",
        F.coalesce(F.sum("t").over(w), F.lit(0)).alias("t_below"),
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("c_below"),
    )
    return cum.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_pos"),
        F.sum(F.col("t") - F.col("c")).cast("bigint").alias("n_neg"),
        F.sum(
            F.col("c")
            * (
                2 * (F.col("t_below") - F.col("c_below"))
                + (F.col("t") - F.col("c"))
            )
        )
        .cast("bigint")
        .alias("auc_num"),
        (2 * F.sum("c") * F.sum(F.col("t") - F.col("c")))
        .cast("bigint")
        .alias("auc_den"),
    )


# -- Kaplan-Meier survival over customer purchase lifetimes -------------------
# Survival analysis enters the engine: per customer, lifetime = days
# between first and last order; a customer whose last order predates
# the censor horizon (global max order date minus 90 days) CHURNED at
# that lifetime, everyone else is right-censored at the data edge.
# The KM estimator over 90-day lifetime bins: S(b) = prod_{b'<=b}
# (n_b' - d_b')/n_b'. The product ships as the cumulative sum of
# floor-quantized ln factors (exact integer sums; the ln itself
# carries the usual sub-ulp cross-engine residual risk, same posture
# as the other quantized-float oracles).

_KM_ORACLE = """
WITH horizon AS (
    SELECT CAST(MAX(o_orderdate) AS DATE) AS w,
           CAST(MAX(o_orderdate) AS DATE) - INTERVAL 90 DAY AS cdate
    FROM orders
),
cust AS (
    SELECT o_custkey,
           CAST(MIN(o_orderdate) AS DATE) AS f,
           CAST(MAX(o_orderdate) AS DATE) AS l
    FROM orders GROUP BY 1
),
obs AS (
    SELECT CASE WHEN c.l < h.cdate THEN 1 ELSE 0 END AS event,
           CASE WHEN c.l < h.cdate
                THEN date_diff('day', c.f, c.l)
                ELSE date_diff('day', c.f, h.w) END AS t
    FROM cust c CROSS JOIN horizon h
),
bins AS (
    SELECT CAST(FLOOR(t / 90.0) AS BIGINT) AS t_bin,
           CAST(SUM(event) AS BIGINT) AS d_events,
           CAST(SUM(1 - event) AS BIGINT) AS c_censored
    FROM obs GROUP BY 1
),
risk AS (
    SELECT t_bin, d_events, c_censored,
           CAST(SUM(d_events + c_censored) OVER (ORDER BY t_bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_risk
    FROM bins
)
SELECT t_bin, n_risk, d_events, c_censored,
       CASE WHEN MAX(CASE WHEN d_events >= n_risk THEN 1 ELSE 0 END)
                 OVER (ORDER BY t_bin
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) = 1
            THEN NULL
            ELSE CAST(SUM(CASE WHEN d_events = 0
                               OR d_events >= n_risk THEN 0
                     ELSE CAST(FLOOR(ln(
                          CAST(n_risk - d_events AS DOUBLE)
                          / CAST(n_risk AS DOUBLE)) * 1000000000.0)
                          AS BIGINT) END)
                 OVER (ORDER BY t_bin
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT)
       END AS km_logq_nano
FROM risk
"""


@query("customers_kaplan_meier", _KM_ORACLE)
def q_customers_kaplan_meier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kaplan-Meier survival curve over customer purchase lifetimes
    (churn = no order within 90 days of the data edge) in 90-day
    lifetime bins → (t_bin, n_risk, d_events, c_censored,
    km_logq_nano) where S(b) = exp(km_logq_nano / 1e9). The at-risk
    count is the standard reverse-cumulative of events+censored; the
    survival product ships as a cumulative sum of nano-quantized
    ln((n-d)/n) factors — integer-exact sums, with only the ln's
    sub-ulp libm divergence as residual cross-engine risk. If any bin
    exhausts its risk set (d = n), survival is exactly 0 from that
    bin on and the log emits NULL.

    Scale shape: one custkey-keyed aggregate over orders (min/max
    date), a 1-row broadcast horizon, then ALL windows run over the
    ~28-row calendar-bounded bin relation. Nothing data-sized is ever
    sorted or windowed."""
    o = _orders(spark, sf_dir)
    horizon = o.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("w")
    ).select(
        "w", F.date_sub(F.col("w"), 90).alias("cdate")
    )
    cust = o.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("f"),
        F.max(F.col("o_orderdate").cast("date")).alias("l"),
    )
    obs = cust.crossJoin(F.broadcast(horizon)).select(
        F.when(F.col("l") < F.col("cdate"), 1)
        .otherwise(0)
        .alias("event"),
        F.when(
            F.col("l") < F.col("cdate"),
            F.datediff(F.col("l"), F.col("f")),
        )
        .otherwise(F.datediff(F.col("w"), F.col("f")))
        .alias("t"),
    )
    bins = obs.groupBy(
        F.floor(F.col("t") / F.lit(90.0)).cast("bigint").alias(
            "t_bin"
        )
    ).agg(
        F.sum("event").cast("bigint").alias("d_events"),
        F.sum(1 - F.col("event")).cast("bigint").alias("c_censored"),
    )
    w_desc = (
        Window.orderBy(F.col("t_bin").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = bins.withColumn(
        "n_risk",
        F.sum(F.col("d_events") + F.col("c_censored")).over(w_desc),
    )
    w_asc = Window.orderBy("t_bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # d_events >= n_risk would make the ln term ln(0): the inner term
    # must stay defined even though the outer zero-hit mask NULLs the
    # output from that bin on (r12-advisory fix — the oracle's window
    # SUM evaluates every bin's term before the mask applies).
    lnq = F.when(
        (F.col("d_events") == 0)
        | (F.col("d_events") >= F.col("n_risk")),
        F.lit(0),
    ).otherwise(
        F.floor(
            F.log(
                (F.col("n_risk") - F.col("d_events")).cast("double")
                / F.col("n_risk").cast("double")
            )
            * F.lit(1000000000.0)
        ).cast("bigint")
    )
    zero_hit = F.max(
        F.when(F.col("d_events") >= F.col("n_risk"), 1).otherwise(0)
    ).over(w_asc)
    return risk.select(
        "t_bin",
        "n_risk",
        "d_events",
        "c_censored",
        F.when(zero_hit == 1, F.lit(None).cast("bigint"))
        .otherwise(F.sum(lnq).over(w_asc))
        .alias("km_logq_nano"),
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
    o = _orders(spark, sf_dir)
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


# -- Classical seasonal decomposition (ratio-to-moving-average) ---------------
# The pre-Holt-Winters classic: monthly revenue over a centered 2x12
# moving average gives detrended ratios; averaging ratios by
# month-of-year gives the seasonal index. Everything up to the single
# ratio division stays in exact integers: monthly revenue in cents
# (decimal-exact sum), the 24x-scaled centered MA as lag6 + lead6 +
# 2*sum(t-5..t+5) of those integers, and the per-month index as a SUM
# of nano-quantized ratios plus a count (no float mean crosses the
# hash).

_SEASONAL_ORACLE = """
WITH m AS (
    SELECT date_trunc('month', o_orderdate) AS m,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
               AS BIGINT) AS rc
    FROM orders GROUP BY 1
),
win AS (
    SELECT m, rc,
           lag(rc, 6) OVER (ORDER BY m) AS l6,
           lead(rc, 6) OVER (ORDER BY m) AS f6,
           SUM(rc) OVER (ORDER BY m
               ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS inner_s,
           COUNT(*) OVER (ORDER BY m
               ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS n13
    FROM m
),
ratio AS (
    SELECT EXTRACT(month FROM m) AS month_of_year,
           CAST(FLOOR(CAST(24 * rc AS DOUBLE)
               / CAST(l6 + f6 + 2 * inner_s AS DOUBLE)
               * 1000000000.0) AS BIGINT) AS ratio_nano
    FROM win WHERE n13 = 13
)
SELECT CAST(month_of_year AS BIGINT) AS month_of_year,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(SUM(ratio_nano) AS BIGINT) AS sidx_nano_sum
FROM ratio
GROUP BY 1
"""


@query("orders_seasonal_decompose", _SEASONAL_ORACLE)
def q_orders_seasonal_decompose(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical ratio-to-moving-average seasonal decomposition of
    monthly revenue: centered 2x12 MA (half weight on the edge
    months), detrended ratio per complete window, seasonal index per
    month-of-year → (month_of_year, n_obs, sidx_nano_sum) with index
    = sidx_nano_sum/n_obs/1e9. Revenue aggregates decimal-exact to
    integer cents; the 24x-scaled MA is pure integer window math; the
    ONE double op is the final ratio division, floor-quantized to
    nano-units (24*rc stays under 2^53 through sf~500).

    Scale shape: one month-keyed decimal aggregate (map-side
    combined), then every window runs over the CALENDAR-bounded
    monthly relation (~80 rows for 7 years) — the classic time-series
    shape where the series, not the data, is what's ordered."""
    o = _orders(spark, sf_dir)
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("rc")
    )
    wo = Window.orderBy("m")
    win = m.select(
        "m",
        "rc",
        F.lag("rc", 6).over(wo).alias("l6"),
        F.lead("rc", 6).over(wo).alias("f6"),
        F.sum("rc").over(wo.rowsBetween(-5, 5)).alias("inner_s"),
        F.count("*").over(wo.rowsBetween(-6, 6)).alias("n13"),
    )
    ratio = win.filter(F.col("n13") == 13).select(
        F.month("m").cast("bigint").alias("month_of_year"),
        F.floor(
            (24 * F.col("rc")).cast("double")
            / (
                F.col("l6") + F.col("f6") + 2 * F.col("inner_s")
            ).cast("double")
            * F.lit(1000000000.0)
        )
        .cast("bigint")
        .alias("ratio_nano"),
    )
    return ratio.groupBy("month_of_year").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.sum("ratio_nano").cast("bigint").alias("sidx_nano_sum"),
    )


# -- Temperature-scaled mixture weights ---------------------------------------
# The multilingual-LM sampling classic (temperature-scaled mixing):
# source weights p_i ∝ n_i^(1/T) flatten the source distribution as T
# grows. Complements dataset_mixture (fixed weights) and
# docs_mix_capped_alloc (capped water-filling) with the standard
# smooth reweighting. Float discipline: pow() output is floor-
# quantized to micro-units BEFORE the sum, so the normalizing sum is
# an exact integer and the share is one double division — the only
# residual cross-engine risk is pow()'s sub-ulp libm divergence
# landing within one micro-unit of a floor boundary.

_MIXT_ORACLE = rf"""
WITH src AS (
    SELECT source,
           CAST(SUM({_TOKCNT_SQL}) AS BIGINT) AS tok_count
    FROM documents GROUP BY 1
),
w AS (
    SELECT source, tok_count, t.temperature,
           CAST(FLOOR(POWER(CAST(tok_count AS DOUBLE), t.inv_t)
               * 1000000.0) AS BIGINT) AS wq
    FROM src
    CROSS JOIN (VALUES (CAST(1 AS BIGINT), 1.0),
                       (CAST(2 AS BIGINT), 0.5),
                       (CAST(5 AS BIGINT), 0.2))
         t(temperature, inv_t)
)
SELECT source, temperature, tok_count,
       CAST(FLOOR(CAST(wq AS DOUBLE)
           / CAST(SUM(wq) OVER (PARTITION BY temperature) AS DOUBLE)
           * 1000000000.0) AS BIGINT) AS share_nano
FROM w
"""


@query("docs_mix_temperature", _MIXT_ORACLE)
def q_docs_mix_temperature(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaled mixture weights over the document sources:
    p_i ∝ tok_i^(1/T) for T in {1, 2, 5} → (source, temperature,
    tok_count, share_nano). T=1 is proportional sampling, larger T
    flattens toward uniform — the standard knob multilingual/multi-
    source LM training uses to boost low-resource sources —
    docs_mix_temperature_alloc fixes tau=1/2 and allocates a token
    budget; THIS query sweeps the temperature knob itself and
    publishes shares. pow() outputs floor-quantize to micro-units
    BEFORE normalizing, so the
    sum is integer-exact and the share is a single double division
    (nano-quantized; pow's sub-ulp divergence is the usual residual
    risk).

    Scale shape: one source-keyed token-count aggregate (map-side
    combined over the corpus scan), a constant 3-row temperature
    relation crossed in, and windows only over the |sources| x 3
    relation — bounded by catalog size, never data size."""
    docs = _docs(spark, sf_dir)
    src = docs.groupBy("source").agg(
        F.sum(
            F.coalesce(
                TX.ws_token_count("text").cast("bigint"), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("tok_count")
    )
    temps = F.array(
        *[
            F.struct(
                F.lit(t).cast("bigint").alias("temperature"),
                F.lit(inv).alias("inv_t"),
            )
            for t, inv in ((1, 1.0), (2, 0.5), (5, 0.2))
        ]
    )
    w = (
        src.select(
            "source",
            "tok_count",
            F.explode(temps).alias("tt"),
        )
        .select(
            "source",
            "tok_count",
            F.col("tt.temperature").alias("temperature"),
            F.floor(
                F.pow(
                    F.col("tok_count").cast("double"),
                    F.col("tt.inv_t"),
                )
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("wq"),
        )
    )
    wt = Window.partitionBy("temperature")
    return w.select(
        "source",
        "temperature",
        "tok_count",
        F.floor(
            F.col("wq").cast("double")
            / F.sum("wq").over(wt).cast("double")
            * F.lit(1000000000.0)
        )
        .cast("bigint")
        .alias("share_nano"),
    )


# -- Tokenizer coverage curve -------------------------------------------------
# Vocab-size design data: what fraction of the corpus token MASS does
# a top-V vocabulary cover, for V = 1, 2, 4, ..., 1024? The concave
# coverage curve (Heaps/Zipf in action) is the first plot a tokenizer
# design reads. Exact integers end to end.

_COVERAGE_ORACLE = r"""
WITH tok AS (
    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
    FROM documents WHERE trim(text) <> ''
),
freq AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY 1),
top AS (
    SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rn
    FROM freq ORDER BY cnt DESC, tok LIMIT 1024
),
total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens FROM freq)
SELECT CAST(v.vocab_size AS BIGINT) AS vocab_size,
       CAST(COALESCE(SUM(t.cnt), 0) AS BIGINT) AS covered_tokens,
       MAX(total.total_tokens) AS total_tokens
FROM (VALUES (1), (2), (4), (8), (16), (32), (64), (128), (256),
             (512), (1024)) v(vocab_size)
LEFT JOIN top t ON t.rn <= v.vocab_size
CROSS JOIN total
GROUP BY v.vocab_size
"""


@query("tokenizer_coverage_curve", _COVERAGE_ORACLE)
def q_tokenizer_coverage_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer coverage curve: corpus token mass covered by a top-V
    frequency vocabulary for V = 1..1024 in powers of two →
    (vocab_size, covered_tokens, total_tokens). The concave curve is
    the Zipf-mass view vocabulary sizing reads (tokenizer_vocab_
    coverage gives the per-doc OOV complement at one fixed V). All
    integers — hash-exact with no quantization.

    Scale shape: one token-keyed frequency shuffle (map-side
    combined); the top-1024 cut is TakeOrderedAndProject (per-
    partition heaps, driver merge — never a global sort); ranks and
    the curve rollup run over the constant 1024-row candidate relation
    joined to an 11-row literal size relation. Corpus size only ever
    touches the first aggregate."""
    docs = _docs(spark, sf_dir)
    freq = (
        docs.filter(F.trim("text") != "")
        .select(F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    top = (
        freq.orderBy(F.col("cnt").desc(), "tok")
        .limit(1024)
        .select(
            "cnt",
            F.row_number()
            .over(Window.orderBy(F.col("cnt").desc(), "tok"))
            .alias("rn"),
        )
    )
    total = freq.agg(
        F.sum("cnt").cast("bigint").alias("total_tokens")
    )
    sizes = spark.range(11).select(
        F.expr("shiftleft(1L, CAST(id AS INT))")
        .cast("bigint")
        .alias("vocab_size")
    )
    return (
        sizes.join(
            F.broadcast(top), F.col("rn") <= F.col("vocab_size"),
            "left",
        )
        .crossJoin(F.broadcast(total))
        .groupBy("vocab_size")
        .agg(
            F.coalesce(F.sum("cnt"), F.lit(0))
            .cast("bigint")
            .alias("covered_tokens"),
            F.max("total_tokens").alias("total_tokens"),
        )
    )


# -- MMR diversity rerank -----------------------------------------------------
# The retrieval second stage the similarity family lacked: after the
# exact cosine cut, Maximal Marginal Relevance greedily trades
# relevance against redundancy (lam*rel - (1-lam)*max-sim-to-
# selected). The greedy recurrence is inherently sequential but runs
# over a CONSTANT candidate set (top-20), so the engine computes the
# candidate scores and the pair matrix distributed and folds the
# selection driver-side, mirroring the oracle's unrolled-CTE float
# ops exactly (the events_attribution_markov driver-mirror pattern).

_MMR_NCAND, _MMR_K = 20, 10


def _mmr_oracle() -> str:
    from .queries_ext import _duck_cos

    head = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1),
cand AS MATERIALIZED (
    SELECT vec_id, v, round({_duck_cos('v', 'qv')}, 6) AS rel
    FROM e, q
    ORDER BY rel DESC, vec_id LIMIT {_MMR_NCAND}
),
sp AS MATERIALIZED (
    SELECT a.vec_id AS ia, b.vec_id AS ib,
           round({_duck_cos('a.v', 'b.v')}, 6) AS s
    FROM cand a JOIN cand b ON a.vec_id < b.vec_id
),
sym AS MATERIALIZED (
    SELECT ia, ib, s FROM sp UNION ALL SELECT ib, ia, s FROM sp
),
p1 AS MATERIALIZED (
    SELECT vec_id, rel, 0.7e0 * rel - 0.3e0 * 0e0 AS score
    FROM cand ORDER BY score DESC, vec_id LIMIT 1
),
sel1 AS MATERIALIZED (SELECT vec_id FROM p1)"""
    blocks, finals = [], [
        "SELECT CAST(1 AS BIGINT) AS mmr_rank, vec_id, "
        "rel AS relevance, CAST(FLOOR(score * 1000000.0) AS BIGINT) "
        "AS mmr_score_micro FROM p1"
    ]
    for i in range(2, _MMR_K + 1):
        prev = i - 1
        blocks.append(f"""
p{i} AS MATERIALIZED (
    SELECT c.vec_id, c.rel,
           0.7e0 * c.rel - 0.3e0 * COALESCE(mx.m, 0e0) AS score
    FROM cand c
    LEFT JOIN (
        SELECT sym.ia AS vid, MAX(sym.s) AS m
        FROM sym JOIN sel{prev} ON sym.ib = sel{prev}.vec_id
        GROUP BY 1
    ) mx ON mx.vid = c.vec_id
    WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{prev})
    ORDER BY score DESC, c.vec_id LIMIT 1
),
sel{i} AS MATERIALIZED (
    SELECT vec_id FROM sel{prev}
    UNION ALL SELECT vec_id FROM p{i}
)""")
        finals.append(
            f"SELECT CAST({i} AS BIGINT), vec_id, rel, "
            f"CAST(FLOOR(score * 1000000.0) AS BIGINT) FROM p{i}"
        )
    return (
        head
        + ","
        + ",".join(blocks)
        + "\n"
        + "\nUNION ALL\n".join(finals)
    )


@query("sim_mmr_rerank", _mmr_oracle())
def q_sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein):
    greedy top-10 from the exact cosine top-20, score = 0.7*rel -
    0.3*max-sim-to-selected → (mmr_rank, vec_id, relevance,
    mmr_score_micro). The diversity-aware second stage that keeps a
    result page from being ten copies of the same near-duplicate —
    the retrieval family's missing post-cut step (sim_topk →
    THIS → the result page).

    Determinism: relevance and pair similarities snap to round-6
    doubles (the sim_topk precedent), so the greedy fold is a pure
    function of snapped values; scores floor-quantize to micro-units.
    Scale shape: one corpus scan for the top-20 cut
    (TakeOrderedAndProject), a constant 190-row pair matrix off the
    checkpointed candidate relation, and a driver-side greedy fold
    over that BOUNDED artifact — corpus size never touches the
    sequential part. Oracle: the identical recurrence as 10 unrolled
    CTE steps."""
    from ..operators import similarity

    from .queries_ext import _emb

    return similarity.mmr_rerank(
        _emb(spark, sf_dir), n_cand=_MMR_NCAND, k=_MMR_K
    )


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
    from ..streaming import jobs as stream_jobs

    return stream_jobs.dq_constraints_stream(spark, sf_dir)


# -- kNN leave-one-out label accuracy -----------------------------------------
# Embedding-quality eval: if the embedding space is any good, a
# vector's nearest neighbors share its label. Leave-one-out 5-NN
# majority vote over the labeled relation, accuracy per label — the
# standard representation-quality probe run on the (bounded) labeled
# eval set, and the acceptance metric for the retrieval stack: ANN
# recall means nothing if exact neighbors don't agree on labels.

_KNN_K = 5


def _knn_prelude(keep_cosine: bool = False) -> str:
    """Shared CTE chain: quantized vectors -> all-pairs quantized
    cosine -> per-query rank (the knn/mutual-knn oracle prelude)."""
    cos_col = (
        ",\n               floor(\n"
        "                   CAST(list_reduce(\n"
        "                        list_transform(range(64),\n"
        "                                       i -> a.q[i+1] * b.q[i+1]),\n"
        "                        (x,y) -> x+y) AS DOUBLE)\n"
        "                   / (a.nrm * b.nrm) * 1000000.0 + 0.5)\n"
        "                   / 1000000.0 AS cosine"
        if keep_cosine
        else ""
    )
    return f"""
WITH e AS MATERIALIZED (
    SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
qv AS MATERIALIZED (
    SELECT vec_id, label,
           list_transform(v, x -> CAST(floor(
               x / sqrt(list_reduce(list_transform(v, y -> y*y),
                                    (a,b) -> a+b)) * 1048576.0 + 0.5
           ) AS BIGINT)) AS q
    FROM e
),
nq AS MATERIALIZED (
    SELECT vec_id, label, q,
           sqrt(CAST(list_reduce(list_transform(q, x -> x*x),
                                 (a,b) -> a+b) AS DOUBLE)) AS nrm
    FROM qv
),
nn AS MATERIALIZED (
    SELECT * FROM (
        SELECT a.vec_id AS qid, a.label AS qlabel,
               b.vec_id AS nid, b.label AS nlabel{cos_col},
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY floor(
                       CAST(list_reduce(
                            list_transform(range(64),
                                           i -> a.q[i+1] * b.q[i+1]),
                            (x,y) -> x+y) AS DOUBLE)
                       / (a.nrm * b.nrm) * 1000000.0 + 0.5)
                       / 1000000.0 DESC,
                            b.vec_id
               ) AS rn
        FROM nq a JOIN nq b ON a.vec_id <> b.vec_id
    ) WHERE rn <= {_KNN_K}
)"""


def _knn_oracle() -> str:
    return _knn_prelude() + """,
votes AS (
    SELECT qid, qlabel, nlabel, COUNT(*) AS c
    FROM nn GROUP BY 1, 2, 3
),
pred AS (
    SELECT qid, qlabel, nlabel AS plabel FROM (
        SELECT qid, qlabel, nlabel,
               row_number() OVER (
                   PARTITION BY qid ORDER BY c DESC, nlabel
               ) AS rv
        FROM votes
    ) WHERE rv = 1
)
SELECT CAST(qlabel AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END)
           AS BIGINT) AS n_correct
FROM pred
GROUP BY 1
"""


@query("emb_knn_label_accuracy", _knn_oracle())
def q_emb_knn_label_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leave-one-out 5-NN label accuracy over the labeled embedding
    relation: each vector's 5 nearest neighbors (round-6 cosine,
    vec_id tiebreak) vote; majority (smallest label on vote ties)
    vs the vector's own label → (label, n, n_correct). The
    representation-quality probe every embedding pipeline publishes —
    and the semantic acceptance test behind the ANN family: recall@k
    against exact neighbors only matters if those neighbors agree on
    labels. (On the synthetic corpus the labels are independent of
    the geometry, so the honest reading is chance-level accuracy —
    asserted as such in tests/test_round12.py; the metric's own
    correctness is what the oracle checks.)

    Scale shape: the O(n^2) scoring runs INSIDE the blocked int64
    matmul kernels (dedup.embedding_near_dup's scheme: B(B+1)/2
    independent block-pair tasks, each holding <= 2/B of the
    relation); only each vector's B local top-k lists ever
    materialize as rows (LINEAR), reduced by one qid-keyed
    WindowGroupLimit. Cosine is the family's quantized-int64
    half-up value, mirrored verbatim in the oracle. Votes,
    predictions, and the per-label rollup are integer-exact."""
    from ..operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    cand = similarity.knn_block_topk(emb, k=_KNN_K)
    wn = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("nid")
    )
    lab = emb.select("vec_id", "label")
    nn = (
        cand.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") <= _KNN_K)
        .join(
            lab.select(
                F.col("vec_id").alias("qid"),
                F.col("label").alias("qlabel"),
            ),
            "qid",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("nid"),
                F.col("label").alias("nlabel"),
            ),
            "nid",
        )
        .select("qid", "qlabel", "nlabel")
    )
    votes = nn.groupBy("qid", "qlabel", "nlabel").agg(
        F.count("*").alias("c")
    )
    wv = Window.partitionBy("qid").orderBy(
        F.col("c").desc(), F.col("nlabel")
    )
    pred = (
        votes.withColumn("rv", F.row_number().over(wv))
        .filter(F.col("rv") == 1)
        .select("qid", "qlabel", F.col("nlabel").alias("plabel"))
    )
    return pred.groupBy(
        F.col("qlabel").cast("bigint").alias("label")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("plabel") == F.col("qlabel"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_correct"),
    )


# -- Degree assortativity of the co-purchase graph ----------------------------
# Network-science structure metric the graph family lacked: do
# high-degree parts co-purchase with other high-degree parts
# (assortative, r>0) or with the periphery (disassortative, r<0)?
# Over the symmetric directed edge list, r = (M*Sjk - Sj^2) /
# (M*Sj2 - Sj^2) — every sum an exact int64, ONE double division,
# micro-floored (int64 holds the products through ~sf100 of this
# graph's density; the raise-don't-wrap audit is the CAST itself).

_ASSORT_ORACLE = """
WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
    SELECT a.l_partkey AS src, b.l_partkey AS dst
    FROM basket a JOIN basket b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
und AS (
    SELECT src AS u, dst AS v FROM e
    UNION ALL SELECT dst, src FROM e
),
deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY 1),
ed AS (
    SELECT da.d AS j, db.d AS k
    FROM und JOIN deg da ON da.u = und.u
    JOIN deg db ON db.u = und.v
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m,
           CAST(SUM(j) AS BIGINT) AS sj,
           CAST(SUM(j * k) AS BIGINT) AS sjk,
           CAST(SUM(j * j) AS BIGINT) AS sj2
    FROM ed
)
SELECT m AS m_directed, sj, sjk, sj2,
       CAST(FLOOR(CAST(m * sjk - sj * sj AS DOUBLE)
           / CAST(m * sj2 - sj * sj AS DOUBLE)
           * 1000000.0) AS BIGINT) AS r_micro
FROM s
"""


@query("graph_assortativity", _ASSORT_ORACLE)
def q_graph_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity coefficient of the weight>=2 co-purchase
    graph → (m_directed, sj, sjk, sj2, r_micro): the Pearson
    correlation of endpoint degrees over edges, in Newman's
    symmetric-edge-list simplification r = (M*Sjk - Sj^2)/(M*Sj2 -
    Sj^2). Positive r = hubs prefer hubs (assortative mixing),
    negative = hub-and-spoke. All four power sums are exact int64
    aggregates; the numerator/denominator products stay in int64 and
    the single double division is micro-floored.

    Scale shape: degrees = one node-keyed count over the stored edge
    relation; attaching both endpoint degrees = two key-shuffled
    joins; the moment rollup is one map-side-combined aggregate to a
    1-row relation. Nothing holds more than (edge, j, k) rows."""
    from .queries_analytics import _copurchase_edge_index

    e = _copurchase_edge_index(spark, sf_dir).filter(
        (F.col("weight") >= 2) & (F.col("src") < F.col("dst"))
    ).select("src", "dst")
    und = e.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionAll(
        e.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    ed = (
        und.join(deg.select(F.col("u"), F.col("d").alias("j")), "u")
        .join(
            deg.select(
                F.col("u").alias("v"), F.col("d").alias("k")
            ),
            "v",
        )
        .select("j", "k")
    )
    s = ed.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("j").cast("bigint").alias("sj"),
        F.sum(F.col("j") * F.col("k")).cast("bigint").alias("sjk"),
        F.sum(F.col("j") * F.col("j")).cast("bigint").alias("sj2"),
    )
    return s.select(
        F.col("m").alias("m_directed"),
        "sj",
        "sjk",
        "sj2",
        F.floor(
            (
                F.col("m") * F.col("sjk")
                - F.col("sj") * F.col("sj")
            ).cast("double")
            / (
                F.col("m") * F.col("sj2")
                - F.col("sj") * F.col("sj")
            ).cast("double")
            * F.lit(1000000.0)
        )
        .cast("bigint")
        .alias("r_micro"),
    )


# -- Benford first-digit audit ------------------------------------------------
# The forensic-accounting / data-quality classic: naturally-occurring
# multi-scale amounts follow log10(1 + 1/d) first-digit frequencies;
# fabricated or range-clamped data does not. The audit publishes
# per-digit observed counts vs the Benford expectation and the chi^2
# contribution — on TPC-H's uniform-ish totalprice the deviation is
# ENORMOUS, which is exactly what the audit should say about
# synthetic amounts. Expected shares are shared literals (never a
# computed log10), so both engines use bit-identical constants.

_BENFORD_P = (
    (1, 0.3010299956639812),
    (2, 0.17609125905568124),
    (3, 0.12493873660829992),
    (4, 0.09691001300805642),
    (5, 0.07918124604762482),
    (6, 0.06694678963061322),
    (7, 0.05799194697768673),
    (8, 0.05115252244738129),
    (9, 0.04575749056067514),
)


def _benford_oracle() -> str:
    vals = ",\n                   ".join(
        f"({d}, {p!r}e0)" for d, p in _BENFORD_P
    )
    return f"""
WITH d AS (
    SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
        AS VARCHAR), 1, 1) AS BIGINT) AS digit
    FROM orders
),
cnt AS (
    SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM d GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM cnt),
bf(digit, p) AS (VALUES {vals})
SELECT CAST(bf.digit AS BIGINT) AS digit,
       COALESCE(cnt.n_obs, 0) AS n_obs,
       CAST(FLOOR(CAST(tot.n AS DOUBLE) * bf.p * 1000000.0)
           AS BIGINT) AS expected_micro,
       CAST(FLOOR(
           (CAST(COALESCE(cnt.n_obs, 0) AS DOUBLE)
            - CAST(tot.n AS DOUBLE) * bf.p)
           * (CAST(COALESCE(cnt.n_obs, 0) AS DOUBLE)
              - CAST(tot.n AS DOUBLE) * bf.p)
           / (CAST(tot.n AS DOUBLE) * bf.p) * 1000000.0)
           AS BIGINT) AS chi2_micro
FROM bf LEFT JOIN cnt USING (digit) CROSS JOIN tot
"""


@query("orders_benford_audit", _benford_oracle())
def q_orders_benford_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benford's-law first-digit audit of order amounts → one row per
    digit 1-9: (digit, n_obs, expected_micro, chi2_micro). The
    forensic-accounting screen: amounts spanning scales follow
    log10(1+1/d); range-clamped or fabricated figures don't, and the
    per-digit chi^2 contribution says WHERE the distribution breaks.
    First digit extracted via integer-floor -> string (deterministic
    in both engines — never a float log10 of the value); expected
    shares are shared literal doubles; the two float outputs are
    floor-quantized micro-units of identical expression trees.

    Scale shape: one map-side-combined 9-key count aggregate over the
    scan; the Benford table is a 9-row literal relation. Nothing else
    moves."""
    o = _orders(spark, sf_dir)
    d = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast(
                "string"
            ),
            1,
            1,
        )
        .cast("bigint")
        .alias("digit")
    )
    cnt = d.groupBy("digit").agg(
        F.count("*").cast("bigint").alias("n_obs")
    )
    tot = cnt.agg(F.sum("n_obs").cast("bigint").alias("n"))
    bf = F.array(
        *[
            F.struct(
                F.lit(dd).cast("bigint").alias("digit"),
                F.lit(pp).alias("p"),
            )
            for dd, pp in _BENFORD_P
        ]
    )
    bft = (
        o.sparkSession.range(1)
        .select(F.explode(bf).alias("b"))
        .select(F.col("b.digit").alias("digit"), F.col("b.p").alias("p"))
    )
    g = (
        bft.join(cnt, "digit", "left")
        .withColumn("n_obs", F.coalesce(F.col("n_obs"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    dev = F.col("n_obs").cast("double") - F.col("n").cast(
        "double"
    ) * F.col("p")
    return g.select(
        "digit",
        "n_obs",
        F.floor(
            F.col("n").cast("double") * F.col("p") * F.lit(1000000.0)
        )
        .cast("bigint")
        .alias("expected_micro"),
        F.floor(
            dev
            * dev
            / (F.col("n").cast("double") * F.col("p"))
            * F.lit(1000000.0)
        )
        .cast("bigint")
        .alias("chi2_micro"),
    )


# -- Wald-Wolfowitz runs test on daily revenue --------------------------------
# Randomness diagnostic for the forecasting family: is the sign of
# the day-over-day revenue change a random sequence, or does it
# trend/oscillate? R runs among n+ ups and n- downs; z compares R to
# its null mean 2*n+*n-/(n)+1. Counts and the runs total are exact
# integers; mu/sigma/z is ONE mirrored double expression,
# micro-floored.

_RUNS_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
               AS BIGINT) AS rc
    FROM orders GROUP BY 1
),
diffs AS (
    SELECT day, rc - lag(rc) OVER (ORDER BY day) AS d FROM daily
),
signs AS (
    SELECT day, CASE WHEN d > 0 THEN 1 ELSE -1 END AS s
    FROM diffs WHERE d IS NOT NULL AND d <> 0
),
flips AS (
    SELECT s, CASE WHEN lag(s) OVER (ORDER BY day) IS NOT NULL
                        AND s <> lag(s) OVER (ORDER BY day)
              THEN 1 ELSE 0 END AS flip
    FROM signs
),
agg AS (
    SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_plus,
           CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_minus,
           CAST(1 + SUM(flip) AS BIGINT) AS n_runs
    FROM flips
)
SELECT n_plus, n_minus, n_runs,
       CAST(FLOOR(
           (CAST(n_runs AS DOUBLE)
            - (2e0 * n_plus * n_minus
               / CAST(n_plus + n_minus AS DOUBLE) + 1e0))
           / sqrt(
               (2e0 * n_plus * n_minus
                / CAST(n_plus + n_minus AS DOUBLE))
               * (2e0 * n_plus * n_minus
                  / CAST(n_plus + n_minus AS DOUBLE) - 1e0)
               / CAST(n_plus + n_minus - 1 AS DOUBLE))
           * 1000000.0) AS BIGINT) AS z_micro
FROM agg
"""


@query("orders_runs_test", _RUNS_ORACLE)
def q_orders_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the signs of day-over-day revenue
    changes → (n_plus, n_minus, n_runs, z_micro). z far below 0 means
    fewer runs than chance (trending/persistent days), far above
    means oscillation — the randomness sanity check to run BEFORE
    fitting the Holt/Holt-Winters family. Ties (zero deltas) drop,
    the standard convention. Counts and runs are exact integers off
    decimal-exact daily revenue; mu, sigma, z evaluate as ONE
    identically-bracketed double expression, micro-floored.

    Scale shape: one day-keyed decimal aggregate, then every window
    (lag of revenue, lag of sign) runs over the CALENDAR-bounded
    daily relation — the theil_sen/seasonal_decompose shape."""
    o = _orders(spark, sf_dir)
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("rc")
    )
    wd = Window.orderBy("day")
    diffs = daily.select(
        "day", (F.col("rc") - F.lag("rc").over(wd)).alias("d")
    )
    signs = diffs.filter(
        F.col("d").isNotNull() & (F.col("d") != 0)
    ).select(
        "day",
        F.when(F.col("d") > 0, 1).otherwise(-1).alias("s"),
    )
    flips = signs.select(
        "s",
        F.when(
            F.lag("s").over(wd).isNotNull()
            & (F.col("s") != F.lag("s").over(wd)),
            1,
        )
        .otherwise(0)
        .alias("flip"),
    )
    agg = flips.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_plus"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_minus"),
        (1 + F.sum("flip")).cast("bigint").alias("n_runs"),
    )
    np_, nm, nr = F.col("n_plus"), F.col("n_minus"), F.col("n_runs")
    denom = (np_ + nm).cast("double")
    mu_term = F.lit(2.0) * np_ * nm / denom
    return agg.select(
        "n_plus",
        "n_minus",
        "n_runs",
        F.floor(
            (nr.cast("double") - (mu_term + F.lit(1.0)))
            / F.sqrt(
                mu_term
                * (mu_term - F.lit(1.0))
                / (np_ + nm - 1).cast("double")
            )
            * F.lit(1000000.0)
        )
        .cast("bigint")
        .alias("z_micro"),
    )


# -- Modularity of the LPA communities ----------------------------------------
# The quality number for graph_communities_lpa's partition: Newman
# modularity Q = sum_c [ din_c/(2m) - (D_c/(2m))^2 ] over the same
# weight>=2 co-purchase graph (unit edge weights, directed-symmetric
# edge list). Scaled by (2m)^2 everything is integer: Q_num =
# sum_c (din_c * 2m - D_c^2), Q_den = (2m)^2 — the oracle reuses the
# LPA CTE chain verbatim (same 5 supersteps) and the engine reuses
# the same label_propagation operator, so the partition is
# bit-identical by construction.


def _modularity_oracle() -> str:
    from .queries_analytics import _LPA_ORACLE

    prelude = _LPA_ORACLE.rsplit("SELECT label,", 1)[0]
    assert prelude.rstrip().endswith(")")  # splice point contract
    return (
        prelude
        + """,
lab AS MATERIALIZED (SELECT node, label FROM l5),
m2 AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM e),
din AS MATERIALIZED (
    SELECT la.label, CAST(COUNT(*) AS BIGINT) AS din
    FROM e JOIN lab la ON e.src = la.node
    JOIN lab lb ON e.dst = lb.node
    WHERE la.label = lb.label
    GROUP BY 1
),
degc AS MATERIALIZED (
    SELECT la.label, CAST(COUNT(*) AS BIGINT) AS dc
    FROM e JOIN lab la ON e.src = la.node
    GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       MAX(m2.m2) AS m_directed,
       CAST(SUM(COALESCE(din.din, 0) * m2.m2 - degc.dc * degc.dc)
           AS BIGINT) AS q_num,
       CAST(MAX(m2.m2) * MAX(m2.m2) AS BIGINT) AS q_den
FROM degc LEFT JOIN din USING (label) CROSS JOIN m2
"""
    )


@query("graph_modularity", _modularity_oracle())
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA community partition on the
    weight>=2 co-purchase graph → (n_communities, m_directed, q_num,
    q_den) with Q = q_num/q_den. The acceptance metric for
    graph_communities_lpa: Q near 0 means the partition explains no
    more intra-community mass than a degree-preserving random graph;
    the integer scaling by (2m)^2 keeps the entire computation exact
    (no float enters the query).

    Scale shape: the partition comes from the same 5-superstep
    label_propagation over the stored edge index (hash-exact since
    round 8); modularity itself is two label-keyed joins of the edge
    relation onto the label map (intra-edge count + community degree
    mass) and a rollup over the <=|communities| relation."""
    from ..operators import graph
    from .queries_analytics import _copurchase_edge_index

    edges = _copurchase_edge_index(spark, sf_dir).filter(
        F.col("weight") >= 2
    )
    lab = graph.label_propagation(edges).select("node", "label")
    lab = lab.localCheckpoint(eager=False)
    e = edges.select("src", "dst")
    m2 = e.agg(F.count("*").cast("bigint").alias("m2"))
    la = lab.select(
        F.col("node").alias("src"), F.col("label").alias("la")
    )
    lb = lab.select(
        F.col("node").alias("dst"), F.col("label").alias("lb")
    )
    din = (
        e.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count("*").cast("bigint").alias("din"))
    )
    degc = (
        e.join(la, "src")
        .groupBy(F.col("la").alias("label"))
        .agg(F.count("*").cast("bigint").alias("dc"))
    )
    g = (
        degc.join(din, "label", "left")
        .withColumn("din", F.coalesce(F.col("din"), F.lit(0)))
        .crossJoin(F.broadcast(m2))
    )
    return g.agg(
        F.count("*").cast("bigint").alias("n_communities"),
        F.max("m2").alias("m_directed"),
        F.sum(
            F.col("din") * F.col("m2") - F.col("dc") * F.col("dc")
        )
        .cast("bigint")
        .alias("q_num"),
        (F.max("m2") * F.max("m2")).cast("bigint").alias("q_den"),
    )


# -- Reciprocal (mutual) kNN pairs --------------------------------------------
# The high-precision neighbor filter: a pair survives only if each
# vector sits in the OTHER's top-k — the reciprocal-NN criterion
# image-dedup and re-ranking stacks use to kill hubness (a hub vector
# appears in everyone's top-k; almost nobody appears in the hub's).
# Pure composition: the same blocked-kernel candidate relation as
# emb_knn_label_accuracy, intersected with its own transpose.


def _mutual_knn_oracle() -> str:
    return _knn_prelude(keep_cosine=True) + """
SELECT n1.qid AS vec_id_a, n1.nid AS vec_id_b, n1.cosine
FROM nn n1 JOIN nn n2 ON n1.qid = n2.nid AND n1.nid = n2.qid
WHERE n1.qid < n1.nid
"""


@query("emb_mutual_knn", _mutual_knn_oracle())
def q_emb_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal 5-NN pairs: (vec_id_a, vec_id_b, cosine) where each
    vector is in the other's top-5 — the mutual-NN criterion that
    suppresses hub vectors (in everyone's top-k, reciprocated by
    almost nobody) and is the standard high-precision candidate
    filter before expensive pairwise verification. Cosine is the
    family's quantized-int64 half-up value (symmetric, so one value
    per pair).

    Scale shape: the candidate relation is the same LINEAR
    per-block-local-top-k output as emb_knn_label_accuracy (quadratic
    work stays inside the blocked matmul kernels); the reciprocity
    check is ONE self-equi-join of that k·B-rows-per-vector relation
    on the swapped key pair. No new scoring pass."""
    from ..operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    cand = similarity.knn_block_topk(emb, k=_KNN_K)
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
    o = _orders(spark, sf_dir)
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


# -- Dedup method-overlap matrix (the dedup-matrix capstone) ------------------
# The engine ships three text near-dup detectors (exact hash, MinHash
# +LSH verified Jaccard >= 0.8, SimHash hamming <= 3). Which docs does
# each actually flag, and how much do they agree? The UpSet-style
# overlap matrix — one row per (exact, minhash, simhash) flag combo —
# is the report a curation owner reads before picking the production
# detector stack, and the cross-method consistency check the three
# families have not had in one relation.


def _overlap_oracle() -> str:
    from .queries_ext import _MINHASH_ORACLE, _SIMHASH_ORACLE

    return f"""
WITH mp AS (
{_MINHASH_ORACLE}
),
sfp AS (
{_SIMHASH_ORACLE}
),
sbands AS (
    SELECT doc_id, simhash, b AS band,
           (simhash >> (8 * b)) & 255 AS bv
    FROM sfp, (SELECT unnest(range(4)) AS b)
),
sp AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sbands a
    JOIN sbands b ON a.band = b.band AND a.bv = b.bv
                 AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
),
ex AS (
    SELECT doc_id FROM (
        SELECT doc_id,
               COUNT(*) OVER (PARTITION BY lower(trim(text))) AS c
        FROM documents WHERE text IS NOT NULL
    ) WHERE c >= 2
),
mflag AS (
    SELECT doc_a AS doc_id FROM mp
    UNION SELECT doc_b FROM mp
),
sflag AS (
    SELECT doc_a AS doc_id FROM sp
    UNION SELECT doc_b FROM sp
)
SELECT CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END
           AS exact_dup,
       CASE WHEN mflag.doc_id IS NOT NULL THEN 1 ELSE 0 END
           AS minhash_dup,
       CASE WHEN sflag.doc_id IS NOT NULL THEN 1 ELSE 0 END
           AS simhash_dup,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents d
LEFT JOIN ex ON ex.doc_id = d.doc_id
LEFT JOIN mflag ON mflag.doc_id = d.doc_id
LEFT JOIN sflag ON sflag.doc_id = d.doc_id
GROUP BY 1, 2, 3
"""


@query("dedup_method_overlap", _overlap_oracle())
def q_dedup_method_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup method-overlap matrix: per (exact_dup, minhash_dup,
    simhash_dup) flag combination, how many documents land there →
    up to 8 rows including the all-zero "clean" row. Exact = shares a
    normalized content hash with another doc; MinHash = member of a
    verified Jaccard >= 0.8 pair; SimHash = member of a hamming <= 3
    banded pair. The cross-method consistency report the three dedup
    families feed: exact ⊆ minhash ⊆ (roughly) simhash is the
    expected nesting, and the off-diagonal cells are where the
    detectors genuinely disagree.

    Scale shape: all three flag relations come from the STORED
    indexes the individual queries already maintain (content-hash
    groupBy, verified-pairs index, fingerprint index) — the matrix
    adds three doc-keyed LEFT joins and an 8-key rollup; no detector
    recomputes anything."""
    from .queries_ext import (
        _minhash_pairs_index,
        _simhash_fp_index,
    )
    from ..operators import dedup
    from ..operators.dedup import _content_hash

    docs = _docs(spark, sf_dir)
    # NULL-text docs are excluded from the exact-dup relation on BOTH
    # sides (here and the oracle's ex CTE): sha2(NULL) is NULL and
    # never equi-joins, while the oracle's window partition would
    # group NULLs together — the one NULL-semantics gap between the
    # two formulations (r12-advisory fix; safe today, data-dependent).
    ch = _content_hash(docs).filter(F.col("text_hash").isNotNull())
    dup_hashes = (
        ch.groupBy("text_hash")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("text_hash")
    )
    ex = ch.join(dup_hashes, "text_hash").select("doc_id")
    mp = _minhash_pairs_index(spark, sf_dir).filter(
        F.col("jaccard") >= 0.8
    )
    mflag = (
        mp.select(F.col("doc_a").alias("doc_id"))
        .union(mp.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # simhash flag WITHOUT the pair-level distinct: the banded
    # candidate stream on this near-dup-rich corpus is ~n^2-ish, and
    # dedup_simhash_pairs' DISTINCT(doc_a, doc_b) shuffles all of it;
    # for the matrix only doc membership matters, so both endpoints
    # stream straight into a doc-keyed distinct (the post-filter
    # stream is a fraction of the candidates, and the distinct state
    # is <= n docs, not <= n^2 pairs).
    fp = _simhash_fp_index(spark, sf_dir)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 8 * k).bitwiseAND(
                        F.lit(255)
                    )
                    for k in range(dedup.SIMHASH_BANDS)
                ]
            )
        ).alias("band", "bv"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.bit_count(xor) <= 3)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    sflag = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    flag = lambda rel, name: rel.withColumn(name, F.lit(1))
    j = (
        docs.select("doc_id")
        .join(flag(ex, "e"), "doc_id", "left")
        .join(flag(mflag, "m"), "doc_id", "left")
        .join(flag(sflag, "s"), "doc_id", "left")
    )
    return j.groupBy(
        F.coalesce(F.col("e"), F.lit(0)).alias("exact_dup"),
        F.coalesce(F.col("m"), F.lit(0)).alias("minhash_dup"),
        F.coalesce(F.col("s"), F.lit(0)).alias("simhash_dup"),
    ).agg(F.count("*").cast("bigint").alias("n_docs"))


# -- Point-in-time customer feature snapshot ----------------------------------
# The feature-store materialization every training pipeline runs:
# as-of a cutoff date (90 days before the data edge, so post-cutoff
# activity exists and leakage is testable), per-customer activity
# windows, monetary totals, recency and tenure — computed in ONE
# conditional-aggregation pass with no post-cutoff row ever entering
# (the point-in-time-correctness discipline of a feature store; the
# as-of join family covers the per-event variant).

_FEATURE_ORACLE = """
WITH horizon AS (
    SELECT CAST(MAX(o_orderdate) AS DATE) - INTERVAL 90 DAY AS c
    FROM orders
),
pit AS (
    SELECT o.o_custkey, CAST(o.o_orderdate AS DATE) AS d,
           CAST(o.o_totalprice AS DECIMAL(18,2)) AS p, h.c
    FROM orders o CROSS JOIN horizon h
    WHERE CAST(o.o_orderdate AS DATE) <= h.c
)
SELECT o_custkey AS customer_id,
       CAST(SUM(CASE WHEN d > c - INTERVAL 30 DAY
                THEN 1 ELSE 0 END) AS BIGINT) AS n_orders_30d,
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
FROM pit
GROUP BY 1
"""


@query("customer_feature_snapshot", _FEATURE_ORACLE)
def q_customer_feature_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point-in-time feature-store snapshot: per customer, as of a
    cutoff 90 days before the data edge — order counts over 30/90/365
    day windows, 90-day revenue in exact cents, recency and tenure in
    days, lifetime order count. No post-cutoff row enters the
    aggregate (the leakage discipline; tests assert post-cutoff
    activity exists and is excluded). Every feature is an integer or
    decimal-exact cent value — nothing to quantize.

    Scale shape: ONE customer-keyed conditional-aggregation pass over
    the date-filtered scan (all windows are CASE arms of the same
    aggregate, not separate scans); the cutoff is a 1-row broadcast.
    This is the map-side-combine-friendly shape a 100 TB feature
    materialization needs — a filter and one shuffle."""
    o = _orders(spark, sf_dir)
    horizon = o.agg(
        F.date_sub(
            F.max(F.col("o_orderdate").cast("date")), 90
        ).alias("c")
    )
    pit = (
        o.crossJoin(F.broadcast(horizon))
        .withColumn("d", F.col("o_orderdate").cast("date"))
        .filter(F.col("d") <= F.col("c"))
        .select(
            "o_custkey",
            "d",
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
            "c",
        )
    )
    win = lambda days: F.sum(
        F.when(
            F.col("d") > F.date_sub(F.col("c"), days), 1
        ).otherwise(0)
    ).cast("bigint")
    return pit.groupBy(
        F.col("o_custkey").alias("customer_id")
    ).agg(
        win(30).alias("n_orders_30d"),
        win(90).alias("n_orders_90d"),
        win(365).alias("n_orders_365d"),
        (
            F.sum(
                F.when(
                    F.col("d") > F.date_sub(F.col("c"), 90),
                    F.col("p"),
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
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
    from ..streaming import jobs as stream_jobs

    return stream_jobs.feature_snapshot_stream(spark, sf_dir)
