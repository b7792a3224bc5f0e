"""Corpus-curation queries over ``documents``: quality filters
(Gopher, CCNet, perplexity), sampling and splits, mixture weights,
sequence packing, curricula, decontamination against eval sets and
the corpus-level duplication diagnostics that drive them
(SURVEY.md §2.11).

Every computed column is aliased the same in the Spark plan and the
DuckDB oracle; counts CAST to BIGINT on both sides; float aggregation
goes through int64 quantization so cross-partition sums are exact in
any order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, spread_scan
from ..functions import text as TX
from ..operators import (
    aggregate,
    decontaminate,
    dedup,
    mixture,
    packing,
    sampling,
    textdup,
    textstats,
)
from ..operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P
from ..operators.textdup import oracle_level_ctes
from ..operators.window import global_rank
from ..scratch import stored_index
from ..streaming.jobs import CURR_PHASES
from .queries_text import _SHINGLES, _TOKS
from .registry import query


@query(
    "docs_cap_per_source",
    """
SELECT doc_id, source FROM (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS rn
    FROM documents
) WHERE rn <= 20
""",
)
def q_docs_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain capping: keep at most 20 docs per source, chosen by
    deterministic md5 order (a reproducible "random" cap — the
    crawl-curation step that stops one domain from dominating the
    corpus). Rank-limited window → WindowGroupLimit per-partition
    heaps before the source exchange; no RNG, no count pass."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "source")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "source")
    )


_JACCARD_TAIL = r"""
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)"""


# Per-stratum sampling rates: downsample dominant English, keep the
# tail (permille, shared with the oracle below).
_SAMPLE_RATES = {"en": 100, "zh": 500}


_SAMPLE_DEFAULT = 300


@query(
    "docs_sample_stratified",
    f"""
SELECT doc_id, lang, source FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000
      < CASE WHEN lang = 'en' THEN {_SAMPLE_RATES['en']}
             WHEN lang = 'zh' THEN {_SAMPLE_RATES['zh']}
             ELSE {_SAMPLE_DEFAULT} END
""",
)
def q_docs_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-gated stratified sample (rebalance by
    language) — map-only, reproducible, no RNG."""
    return sampling.stratified_sample(
        load_table(spark, sf_dir, "documents"), _SAMPLE_RATES, _SAMPLE_DEFAULT
    )


# Mirror of operators/dedup.py's universal-hash MinHash family: same
# base hash (15 hex digits of md5 → BIGINT mod p) and the same affine
# constants, emitted as literals.
def _minhash_oracle() -> str:
    bands, rows = 4, 2
    slot_mins = ",\n           ".join(
        f"MIN(({MINHASH_A[b * rows + r]} * h + {MINHASH_B[b * rows + r]})"
        f" % {MINHASH_P}) AS mh_{b}_{r}"
        for b in range(bands)
        for r in range(rows)
    )
    band_keys = "\n    UNION ALL ".join(
        "SELECT doc_id, concat_ws('|', '"
        + str(b)
        + "', "
        + ", ".join(f"mh_{b}_{r}" for r in range(rows))
        + ") AS band_key FROM slots"
        for b in range(bands)
    )
    return f"""
WITH {_TOKS}, {_SHINGLES},
base AS (
    SELECT doc_id,
           ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {MINHASH_P} AS h
    FROM sh
),
slots AS (
    SELECT doc_id,
           {slot_mins}
    FROM base GROUP BY 1
),
bk AS (
    {band_keys}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bk a JOIN bk b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
{_JACCARD_TAIL.lstrip()}
SELECT i.doc_a, i.doc_b,
       CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
FROM inter i
JOIN cand USING (doc_a, doc_b)
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
"""


_MINHASH_ORACLE = _minhash_oracle()


def _minhash_pairs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED verified MinHash candidate-pair relation for
    ``sf_dir``'s corpus: ``minhash_dedup(threshold=0.0)`` — every
    band-admitted pair with its EXACT Jaccard — materialized to
    scratch parquet once per (sf_dir, documents mtime). The banding
    is threshold-independent and the threshold only filters, so this
    one write-once artifact serves the whole family: dedup_minhash
    and the dup-rate/crosstab diagnostics read it at j ≥ 0.8, the
    threshold-tuning histogram reads it unfiltered. Same
    stale-on-mtime rebuild contract as _minhash_corpus_index /
    _simhash_fp_index (scratch.stored_index)."""
    return stored_index(
        spark,
        sf_dir,
        "documents",
        "minhash_pairs_index",
        "pairs.parquet",
        lambda: dedup.minhash_dedup(load_table(spark, sf_dir, "documents"), threshold=0.0),
    )


def _jaccard_pairs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED exact-Jaccard pair relation (j ≥ 0.8) for
    ``sf_dir``'s corpus — ground truth the clustering / election /
    dedup-impact family all consume. Five queries previously
    recomputed the full shingle equi-join each run; near-dup pairs
    are a write-once function of the corpus, so they materialize once
    per (sf_dir, documents mtime) like the band / fingerprint /
    verified-pairs indexes, and each consumer starts from the tiny
    pair relation."""
    return stored_index(
        spark,
        sf_dir,
        "documents",
        "jaccard_pairs_index",
        "pairs.parquet",
        lambda: dedup.jaccard_pairs(
            dedup.doc_shingles(load_table(spark, sf_dir, "documents")), None, 0.8
        ),
    )


# -- curation composite ----------------------------------------------------


@query(
    "docs_curation_pipeline",
    rf"""
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
               / len(w) AS mean_token_len,
           CAST(len(list_filter(w,
                tok -> tok IN ('the','a','and','of','to','in'))) AS DOUBLE)
               / len(w) AS stopword_ratio
    FROM t
),
q AS (
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens FROM m
    WHERE n >= 10 AND mean_token_len >= 2.0 AND mean_token_len <= 12.0
      AND stopword_ratio >= 0.01
),
surv AS (
    SELECT MIN(doc_id) AS doc_id FROM documents
    GROUP BY sha256(lower(trim(text)))
),
samp AS (
    SELECT doc_id, lang FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000
          < CASE WHEN lang = 'en' THEN {_SAMPLE_RATES['en']}
                 WHEN lang = 'zh' THEN {_SAMPLE_RATES['zh']}
                 ELSE {_SAMPLE_DEFAULT} END
)
SELECT d.doc_id, samp.lang, q.n_tokens
FROM documents d
JOIN q ON q.doc_id = d.doc_id
JOIN surv ON surv.doc_id = d.doc_id
JOIN samp ON samp.doc_id = d.doc_id
""",
)
def q_docs_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composite — quality gate ∧ exact-dedup
    survivor ∧ stratified-sample gate, composed from the SAME operators
    registered individually (the realistic pre-training data path:
    filter → dedup → rebalance in one DAG). Every join is keyed by
    doc_id, so the composition costs one co-partitioned shuffle chain,
    and the map-side gates (quality, sample) prune before the dedup
    exchange."""
    docs = load_table(spark, sf_dir, "documents")
    quality = (
        textstats.quality_scores(docs)
        .filter(F.col("is_quality"))
        .select("doc_id", "n_tokens")
    )
    survivors = dedup.exact_dedup(docs).select("doc_id")
    sample = sampling.stratified_sample(
        docs, _SAMPLE_RATES, _SAMPLE_DEFAULT
    ).select("doc_id", "lang")
    return (
        sample.join(quality, "doc_id")
        .join(survivors, "doc_id", "left_semi")
        .select("doc_id", "lang", "n_tokens")
    )


@query(
    "docs_curation_incremental",
    rf"""
WITH batch AS (SELECT * FROM documents WHERE source = 'src0'),
inc AS (
    SELECT MIN(doc_id) AS doc_id
    FROM batch b
    WHERE NOT EXISTS (
        SELECT 1 FROM documents d
        WHERE d.source <> 'src0'
          AND sha256(lower(trim(d.text))) = sha256(lower(trim(b.text)))
    )
    GROUP BY sha256(lower(trim(text)))
),
t AS (
    SELECT doc_id, text,
           regexp_split_to_array(trim(text), '\s+') AS w,
           length(trim(text)) AS charlen
    FROM batch
),
m AS (
    SELECT doc_id,
           len(w) AS n,
           CAST(list_sum(list_transform(w, tok -> length(tok))) AS DOUBLE)
               / len(w) AS mean_token_len,
           CAST(len(list_filter(w,
                tok -> tok IN ('the','a','and','of','to','in'))) AS DOUBLE)
               / len(w) AS stopword_ratio
    FROM t
),
q AS (
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens FROM m
    WHERE n >= 10 AND mean_token_len >= 2.0 AND mean_token_len <= 12.0
      AND stopword_ratio >= 0.01
),
samp AS (
    SELECT doc_id, lang FROM batch
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000
          < CASE WHEN lang = 'en' THEN {_SAMPLE_RATES['en']}
                 WHEN lang = 'zh' THEN {_SAMPLE_RATES['zh']}
                 ELSE {_SAMPLE_DEFAULT} END
)
SELECT samp.doc_id, samp.lang, q.n_tokens
FROM samp
JOIN q ON q.doc_id = samp.doc_id
JOIN inc ON inc.doc_id = samp.doc_id
""",
)
def q_docs_curation_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest curation path: only the NEW batch
    (source='src0') is gated and deduped — exact content hashes
    anti-join the standing corpus (which projects to its bare hash
    column, never rescanning text downstream), then in-batch dedup,
    quality gate, and the stratified rebalance. The batch-sized side
    drives every join; corpus cost is one hash projection + the
    anti-join exchange, the shape that stays cheap when corpus ≫
    batch."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    inc = dedup.incremental_dedup(batch, corpus).select("doc_id")
    quality = (
        textstats.quality_scores(batch)
        .filter(F.col("is_quality"))
        .select("doc_id", "n_tokens")
    )
    sample = sampling.stratified_sample(
        batch, _SAMPLE_RATES, _SAMPLE_DEFAULT
    ).select("doc_id", "lang")
    return (
        sample.join(quality, "doc_id")
        .join(inc, "doc_id", "left_semi")
        .select("doc_id", "lang", "n_tokens")
    )


# -- packing ---------------------------------------------------------------


@query(
    "docs_pack_sequences",
    r"""
WITH t AS (
    SELECT doc_id,
           COALESCE(CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    AS BIGINT), 0) AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, n_tokens,
           SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
    FROM t
)
SELECT doc_id, n_tokens,
       CAST(cum_before // 512 AS BIGINT) AS seq_id,
       CAST(cum_before % 512 AS BIGINT) AS seq_offset
FROM c
""",
)
def q_docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk sequence packing: each doc's (seq_id,
    seq_offset) in the fixed-512-token training window stream, via the
    distributed prefix-sum idiom (bucketed running totals + tiny
    prefix-summed bucket offsets — never a global single-partition
    sort)."""
    return packing.pack_sequences(load_table(spark, sf_dir, "documents"))


@query(
    "docs_pack_manifest",
    r"""
WITH t AS (
    SELECT doc_id,
           COALESCE(CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    AS BIGINT), 0) AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, n_tokens,
           SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
    FROM t
),
spans AS (
    SELECT doc_id, n_tokens, cum_before,
           unnest(range(CAST(cum_before // 512 AS BIGINT),
                        CAST((cum_before + n_tokens - 1) // 512 + 1
                             AS BIGINT))) AS seq_id
    FROM c WHERE n_tokens > 0
)
SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
       CAST(greatest(seq_id * 512, cum_before) - cum_before AS BIGINT)
           AS doc_offset,
       CAST(greatest(seq_id * 512, cum_before) - seq_id * 512 AS BIGINT)
           AS seq_offset,
       CAST(least((seq_id + 1) * 512, cum_before + n_tokens)
            - greatest(seq_id * 512, cum_before) AS BIGINT) AS len
FROM spans
""",
)
def q_docs_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reader-side packing manifest: every (sequence window, doc
    slice) intersection with doc/seq offsets and slice length — what
    a trainer's loader consumes to assemble window seq_id
    (operators/packing.py: pack_manifest)."""
    return packing.pack_manifest(load_table(spark, sf_dir, "documents"))


_DECON_NGRAM = "w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]"


_DECON_NGRAM_ORACLE = rf"""
WITH w AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
),
ng AS (
    SELECT DISTINCT doc_id, {_DECON_NGRAM} AS ngram
    FROM w, unnest(range(1, len(w) - 2)) AS t(i)
),
ev AS (SELECT DISTINCT ngram FROM ng WHERE doc_id % 97 = 0)
SELECT doc_id, COUNT(*) AS n_hits
FROM ng JOIN ev USING (ngram)
WHERE doc_id % 97 <> 0
GROUP BY doc_id
"""


@query("decontaminate_ngram", _DECON_NGRAM_ORACLE)
def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing ≥1 word
    4-gram with the (deterministic doc_id%97) eval split, with the
    distinct-overlap count. Eval n-gram set is broadcast — the corpus
    side never shuffles on the n-gram key."""
    return decontaminate.flag_contaminated(load_table(spark, sf_dir, "documents"))


_MIX_WEIGHTS = {"src0": 2500, "src1": 1300, "src2": 300}


_MIX_DEFAULT = 700


@query(
    "dataset_mixture",
    f"""
WITH w AS (
    SELECT doc_id, source,
           CASE WHEN source = 'src0' THEN {_MIX_WEIGHTS["src0"]}
                WHEN source = 'src1' THEN {_MIX_WEIGHTS["src1"]}
                WHEN source = 'src2' THEN {_MIX_WEIGHTS["src2"]}
                ELSE {_MIX_DEFAULT} END AS wt,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 1000 AS gate
    FROM documents
)
SELECT doc_id, source, CAST(e AS INTEGER) AS epoch
FROM w, unnest(range(0, wt // 1000 +
                        CASE WHEN gate < wt % 1000 THEN 1 ELSE 0 END))
         AS t(e)
""",
)
def q_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted multi-epoch dataset mixing (src0×2.5, src1×1.3,
    src2×0.3, rest ×0.7): floor-epochs explode + md5 permille gate
    for the fraction — map-only, no shuffle, reproducible."""
    return mixture.mix_sources(
        load_table(spark, sf_dir, "documents"), _MIX_WEIGHTS, _MIX_DEFAULT
    )


@query(
    "docs_split_train_val",
    """
SELECT doc_id,
       CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 1000 < 900 THEN 'train'
            WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 1000 < 950 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def q_docs_split_train_val(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by md5 permille
    (operators/sampling.py) — membership is a pure function of doc_id,
    stable under corpus growth. Map-only."""
    return sampling.train_val_test_split(
        load_table(spark, sf_dir, "documents"), val_permille=50, test_permille=50
    )


@query(
    "docs_sample_weighted",
    """
SELECT doc_id, source, n_chars FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000
      < least(n_chars * 2, 1000)
""",
)
def q_docs_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted deterministic Bernoulli sample
    (operators/sampling.py weighted_sample): keep probability ∝
    n_chars via an integer hash gate. Map-only, no RNG."""
    return sampling.weighted_sample(
        load_table(spark, sf_dir, "documents"), scale_permille_per_kchar=2
    )


@query(
    "docs_shuffle_shard",
    """
WITH d AS (
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS mkey,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 16 AS shard
    FROM documents
)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY mkey, doc_id) AS pos
FROM d
""",
)
def q_docs_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into 16 dataloader shards
    (operators/sampling.py shuffle_shard): md5 is the permutation,
    per-shard rank is the within-shard order. 16-way parallel windows,
    no global sort."""
    return sampling.shuffle_shard(load_table(spark, sf_dir, "documents"), n_shards=16)


_TOKEN_BUDGET = 5000


@query(
    "docs_token_budget_select",
    rf"""
WITH t AS (
    SELECT doc_id,
           COALESCE(CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    AS BIGINT), 0) AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, n_tokens,
           SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
    FROM t
)
SELECT doc_id, n_tokens, CAST(cum_before AS BIGINT) AS cum_before
FROM c WHERE cum_before < {_TOKEN_BUDGET}
""",
)
def q_docs_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget fill in quality order (longest-first):
    every doc that starts under the token quota, with its position in
    the admitted stream (operators/sampling.py: token_budget_select —
    two-level repartitionByRange prefix scan, never a
    single-partition window)."""
    return sampling.token_budget_select(load_table(spark, sf_dir, "documents"), _TOKEN_BUDGET)


_CCNET_ORACLE = r"""
WITH tok AS (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
    FROM documents
),
freq AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
score AS (
    SELECT doc_id,
           CAST(floor(1000000000.0 * SUM(cnt) / COUNT(*)) AS BIGINT)
               AS commonness
    FROM tok JOIN freq USING (tok)
    GROUP BY doc_id
),
cuts AS (
    SELECT quantile_cont(commonness, 1.0/3) AS t1,
           quantile_cont(commonness, 2.0/3) AS t2
    FROM score
)
SELECT doc_id, commonness,
       CASE WHEN commonness < t1 THEN 'tail'
            WHEN commonness < t2 THEN 'middle'
            ELSE 'head' END AS bucket
FROM score, cuts
"""


@query("docs_ccnet_buckets", _CCNET_ORACLE)
def q_docs_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus split: docs ranked by a vocabulary
    commonness score (mean corpus frequency of their tokens, the
    log-free stand-in for LM perplexity — text_rarity_score's signal
    scaled to an exact integer), cut at global terciles into
    head / middle / tail. (doc_id, commonness, bucket).

    Scale shape: the score is the wordcount-join (token explode →
    token-keyed counts → doc rollup); the tercile cutoffs come from
    bucket_refine_quantiles with keys=[] — the bounded-memory global
    quantile, no full sort — and broadcast back over a narrow CASE.
    Exactly the head/middle/tail gate a CCNet-style curation pipeline
    applies before choosing what to train on.
    """
    # (r15: a spread_scan head was A/B-measured at 2.41->2.48 s — the
    # cost here is the token-frequency join, not the explode — and
    # reverted; see OPTIMIZATION_r15.md.)
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    score = (
        tok.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.floor(
                F.lit(1000000000.0) * F.sum("cnt") / F.count("*")
            )
            .cast("bigint")
            .alias("commonness")
        )
    )
    score = score.localCheckpoint(eager=False)
    cuts = aggregate.bucket_refine_quantiles(
        score, [], "commonness", {"t1": 1.0 / 3, "t2": 2.0 / 3},
        materialize=False,
    )
    return score.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "commonness",
        F.when(F.col("commonness") < F.col("t1"), "tail")
        .when(F.col("commonness") < F.col("t2"), "middle")
        .otherwise("head")
        .alias("bucket"),
    )


_GOPHER_ORACLE = r"""
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
               / len(w) AS mean_word_len,
           CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE)
               / len(w) AS symbol_ratio,
           CAST(len(list_filter(w, tok -> regexp_matches(tok, '[a-zA-Z]')))
                AS DOUBLE) / len(w) AS alpha_word_frac,
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
SELECT doc_id, CAST(n AS BIGINT) AS n_words, mean_word_len, symbol_ratio,
       alpha_word_frac, CAST(stop_hits AS BIGINT) AS stop_hits,
       (n >= 50 AND n <= 100000) AS r_word_count,
       (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_mean_len,
       (symbol_ratio <= 0.1) AS r_symbol,
       (alpha_word_frac >= 0.8) AS r_alpha,
       (stop_hits >= 2) AS r_stop,
       (n >= 50 AND n <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8
        AND stop_hits >= 2) AS gopher_pass
FROM m
"""


@query("docs_gopher_quality", _GOPHER_ORACLE)
def q_docs_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher/MassiveText rule table (one boolean per published
    rule + conjunction) — the production big brother of
    ``text_quality``'s 4-signal summary."""
    return textstats.gopher_quality(load_table(spark, sf_dir, "documents"))


def _substring_stats_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED per-doc substring-duplication score relation
    (doc_id, n_windows, n_dup_windows, dup_frac) for ``sf_dir``'s
    corpus — the write-once scoring artifact both the diagnostic
    query and the curation funnel threshold on, materialized once per
    (sf_dir, documents mtime) like the other dedup indexes (the two
    window-digest shuffles are the cost; the score table is tiny)."""
    return stored_index(
        spark,
        sf_dir,
        "documents",
        "substring_stats_index",
        "stats.parquet",
        lambda: dedup.substring_dup_stats(load_table(spark, sf_dir, "documents"), 10),
    )


@query(
    "docs_chunk_overlap",
    r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
)
SELECT doc_id, CAST((i - 1) / 25 AS BIGINT) AS chunk_id,
       list_aggregate(w[i:least(i + 49, len(w))], 'string_agg', ' ')
           AS chunk_text,
       CAST(least(i + 49, len(w)) - i + 1 AS BIGINT) AS n_tokens
FROM toks, unnest(range(1, len(w) + 1, 25)) AS t(i)
WHERE i = 1 OR i + 49 <= len(w) + 24
""",
)
def q_docs_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep chunking: split every document into 50-token windows
    with 25-token stride (50% overlap) → (doc_id, chunk_id,
    chunk_text, n_tokens). Map-only: the token array slices per-row
    with higher-order functions (zero Exchange — the chunk stream
    partitions exactly like its source, ready for partitioned
    parquet or an embedding pass downstream). Stride math is all
    integer, so the oracle hashes identically."""
    stride, size = 25, 50
    toks = TX.tokens("text")
    n = F.size(toks)
    starts = F.sequence(F.lit(1), n, F.lit(stride))
    chunks = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("start"),
            ((i - 1) / stride).cast("bigint").alias("chunk_id"),
            F.array_join(
                F.slice(toks, i, F.least(i + size - 1, n) - i + 1), " "
            ).alias("chunk_text"),
            (F.least(i + size - 1, n) - i + 1)
            .cast("bigint")
            .alias("n_tokens"),
        ),
    )
    # drop tail starts already fully covered by the previous chunk:
    # keep i==1 or i + size-1 <= n + (stride-1)  (mirrors the oracle)
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(toks).alias("_n"), F.explode(chunks).alias("c"))
        .filter(
            (F.col("c.start") == 1)
            | (F.col("c.start") + (size - 1) <= F.col("_n") + (stride - 1))
        )
        .select("doc_id", "c.chunk_id", "c.chunk_text", "c.n_tokens")
    )


@query(
    "docs_curation_funnel",
    r"""
WITH t AS (
    SELECT doc_id, text,
           regexp_split_to_array(trim(text), '\s+') AS w,
           length(trim(text)) AS charlen
    FROM documents
),
g AS (
    SELECT doc_id FROM (
        SELECT doc_id,
               len(w) AS n,
               CAST(list_sum(list_transform(w, tok -> length(tok))) AS DOUBLE)
               / len(w) AS mwl,
               CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE)
                   / len(w) AS sr,
               CAST(len(list_filter(w,
                    tok -> regexp_matches(tok, '[a-zA-Z]'))) AS DOUBLE)
                   / len(w) AS awf,
               CAST(list_contains(w, 'the') AS INT)
               + CAST(list_contains(w, 'a') AS INT)
               + CAST(list_contains(w, 'to') AS INT)
               + CAST(list_contains(w, 'of') AS INT)
               + CAST(list_contains(w, 'and') AS INT)
               + CAST(list_contains(w, 'that') AS INT)
               + CAST(list_contains(w, 'in') AS INT)
               + CAST(list_contains(w, 'with') AS INT) AS sh
        FROM t
    ) WHERE n >= 50 AND n <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
        AND sr <= 0.1 AND awf >= 0.8 AND sh >= 2
),
wins AS (
    SELECT DISTINCT doc_id,
           md5(list_aggregate(w[i:i+9], 'string_agg', ' ')) AS wh
    FROM t, unnest(range(1, len(w) - 8)) AS u(i)
    WHERE len(w) >= 10
),
dup AS (SELECT wh FROM wins GROUP BY wh HAVING COUNT(*) > 1),
frac AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN wh IN (SELECT wh FROM dup)
                         THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS dup_frac
    FROM wins GROUP BY 1
),
clean AS (
    SELECT g.doc_id FROM g LEFT JOIN frac USING (doc_id)
    WHERE COALESCE(dup_frac, 0.0) < 0.5
)
SELECT (SELECT COUNT(*) FROM documents) AS n_total,
       (SELECT COUNT(*) FROM g) AS n_quality,
       (SELECT COUNT(*) FROM clean) AS n_clean,
       CAST((SELECT COUNT(*) FROM clean) AS DOUBLE)
           / (SELECT COUNT(*) FROM documents) AS retention_rate
""",
)
def q_docs_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel in one row: corpus size → Gopher-quality
    survivors → survivors whose duplicated-substring coverage is
    under 50% — the attrition report every dataset build publishes
    beside its final corpus (composes docs_gopher_quality and
    dedup_substring_windows; hash-checked). Scale: each stage is the
    underlying operator's linear shape; the three counts are 1-row
    aggregates joined by literal keys."""
    docs = load_table(spark, sf_dir, "documents")
    quality = (
        textstats.gopher_quality(docs).filter(F.col("gopher_pass")).select("doc_id")
    )
    frac = _substring_stats_index(spark, sf_dir).select(
        "doc_id", "dup_frac"
    )
    clean = quality.join(frac, "doc_id", "left").filter(
        F.coalesce("dup_frac", F.lit(0.0)) < 0.5
    )
    n_total = docs.agg(F.count("*").alias("n_total")).withColumn(
        "_k", F.lit(1)
    )
    n_quality = quality.agg(F.count("*").alias("n_quality")).withColumn(
        "_k", F.lit(1)
    )
    n_clean = clean.agg(F.count("*").alias("n_clean")).withColumn(
        "_k", F.lit(1)
    )
    return (
        n_total.join(n_quality, "_k")
        .join(n_clean, "_k")
        .select(
            "n_total",
            "n_quality",
            "n_clean",
            (
                F.col("n_clean").cast("double") / F.col("n_total")
            ).alias("retention_rate"),
        )
    )


@query(
    "docs_source_quality",
    r"""
WITH t AS (
    SELECT doc_id, source, text,
           regexp_split_to_array(trim(text), '\s+') AS w,
           length(trim(text)) AS charlen
    FROM documents
),
m AS (
    SELECT source,
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
           + CAST(list_contains(w, 'with') AS INT) AS sh
    FROM t
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n >= 50 AND n <= 100000
                      AND mwl >= 3.0 AND mwl <= 10.0
                      AND sr <= 0.1 AND awf >= 0.8 AND sh >= 2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(SUM(CASE WHEN n >= 50 AND n <= 100000
                      AND mwl >= 3.0 AND mwl <= 10.0
                      AND sr <= 0.1 AND awf >= 0.8 AND sh >= 2
                     THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS pass_rate
FROM m GROUP BY 1 ORDER BY source
""",
)
def q_docs_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher pass-rate per source — the signal that drives
    per-source sampling caps (docs_cap_per_source) and mixture
    weights: a source whose pass rate collapses gets down-weighted
    before training. One map-only scoring pass + one source-keyed
    aggregate; exact counts, one division. Hash-checked."""
    docs = load_table(spark, sf_dir, "documents")
    scored = textstats.gopher_quality(docs).select("doc_id", "gopher_pass")
    per = docs.select("doc_id", "source").join(scored, "doc_id")
    return (
        per.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("gopher_pass").cast("int"))
            .cast("bigint")
            .alias("n_pass"),
        )
        .select(
            "source",
            "n_docs",
            "n_pass",
            (F.col("n_pass").cast("double") / F.col("n_docs")).alias(
                "pass_rate"
            ),
        )
        .orderBy("source")
    )


@query(
    "docs_length_percentiles_by_source",
    r"""
WITH n AS (
    SELECT source,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_words
    FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       quantile_cont(n_words, 0.25) AS p25,
       quantile_cont(n_words, 0.5) AS p50,
       quantile_cont(n_words, 0.75) AS p75
FROM n GROUP BY 1 ORDER BY source
""",
)
def q_docs_length_percentiles_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source document-length quartiles (the curation profiling
    read before setting length filters or packing windows — a source
    whose p50 shifts signals a scrape change). Integer word counts
    make all three quantiles dyadic rationals → hash-exact; the
    exact `percentile` buffers one value per DOC per source, fine
    for per-source profiling (corpus-wide exact quantiles at 100 TB
    use bucket_refine_quantiles instead — both paths are in-repo)."""
    n = load_table(spark, sf_dir, "documents").select(
        "source", F.size(TX.tokens("text")).alias("n_words")
    )
    return (
        n.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.percentile("n_words", F.lit(0.25)).alias("p25"),
            F.percentile("n_words", F.lit(0.5)).alias("p50"),
            F.percentile("n_words", F.lit(0.75)).alias("p75"),
        )
        .orderBy("source")
    )


_BOILERPLATE_ORACLE = r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
           w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                || ' ' || w[i+4] AS ngram
    FROM toks, unnest(range(1, len(w) - 3)) AS t(i)
),
df AS (SELECT ngram, COUNT(*) AS df FROM sh GROUP BY 1),
nd AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT ngram, CAST(df AS BIGINT) AS df,
       CAST(df AS DOUBLE) / CAST(n_docs AS DOUBLE) AS doc_frac
FROM (
    SELECT ngram, df, ROW_NUMBER() OVER (ORDER BY df DESC, ngram) AS rn
    FROM df WHERE df >= 3
), nd
WHERE rn <= 100
"""


@query("docs_boilerplate_ngrams", _BOILERPLATE_ORACLE)
def q_docs_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection: word 5-grams appearing in
    ≥3 DISTINCT documents, top-100 by document frequency — the
    removal feed for template headers/footers/disclaimers (the n-gram
    analog of C4's line-level cross-doc rule; line splitting is
    degenerate on single-line corpora).

    Scale shape: per-doc DISTINCT shingles (array_distinct before the
    explode — in-doc repetition never inflates df), ONE count shuffle
    on the shingle key, and a TakeOrderedAndProject top-100; the
    corpus size rides in as a broadcast 1-row scalar. Exact integer
    df; doc_frac is one double division."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(TX.word_shingles(TX.tokens("text"), 5))
        ).alias("ngram"),
    ).distinct()
    df = sh.groupBy("ngram").agg(F.count("*").alias("df"))
    nd = docs.agg(F.count("*").alias("n_docs"))
    return (
        df.filter(F.col("df") >= 3)
        .orderBy(F.desc("df"), F.asc("ngram"))
        .limit(100)
        .crossJoin(F.broadcast(nd))
        .select(
            "ngram",
            "df",
            (
                F.col("df").cast("double") / F.col("n_docs").cast("double")
            ).alias("doc_frac"),
        )
    )


_ND_BY_SOURCE_ORACLE = f"""
WITH pairs AS (
{_MINHASH_ORACLE}
),
lab AS (
    SELECT least(da.source, db.source) AS source_x,
           greatest(da.source, db.source) AS source_y
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
)
SELECT source_x, source_y, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM lab GROUP BY 1, 2
"""


@query("docs_near_dup_rate_by_source", _ND_BY_SOURCE_ORACLE)
def q_docs_near_dup_rate_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source near-dup contamination matrix: verified MinHash
    pairs (Jaccard ≥ 0.8) rolled up by UNORDERED source pair —
    (source_x, source_y, n_pairs). The provenance diagnostic behind
    "is src3 re-scraping src1": a hot off-diagonal cell means two
    feeds ship the same content and one should be dropped before
    training. Scale shape: the pair list is already candidate-bounded
    (band-admitted and verified — see minhash_dedup); the two
    doc→source lookups join the TINY pair relation against the
    pruned 2-column doc projection, and the matrix aggregate is
    |sources|² rows. Pairs come from the stored verified-pairs
    index."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash_pairs_index(spark, sf_dir).filter(
        F.col("jaccard") >= 0.8
    )
    src = docs.select("doc_id", "source")
    lab = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("sa"),
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("sb"),
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
        )
    )
    return lab.groupBy("source_x", "source_y").agg(
        F.count("*").alias("n_pairs")
    )


_VOCAB_GROWTH_ORACLE = r"""
WITH nd AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
tok AS (
    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
           doc_id
    FROM documents
),
first_seen AS (SELECT tok, MIN(doc_id) AS fid FROM tok GROUP BY 1),
dec AS (
    SELECT CAST(fid * 10 // n AS BIGINT) AS decile,
           COUNT(*) AS n_new
    FROM first_seen, nd GROUP BY 1
)
SELECT decile, CAST(n_new AS BIGINT) AS n_new_tokens,
       CAST(SUM(n_new) OVER (
           ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS vocab_cum
FROM dec
"""


@query("docs_vocab_growth", _VOCAB_GROWTH_ORACLE)
def q_docs_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve: distinct-token vocabulary
    size after each decile of the corpus (by ingestion order =
    doc_id), via FIRST OCCURRENCE — each token contributes to the
    decile of its min doc_id, and one 10-row running sum rebuilds the
    cumulative curve. The "is this crawl still finding new language"
    saturation signal mix planners watch.

    Scale shape: ONE token explode + min-aggregate (map-side combine
    collapses to |vocab| rows) — NOT ten distinct-counts over ten
    prefixes (which would scan the corpus ten times); the decile
    bucketing is exact integer math (fid·10 // n) and the window runs
    over exactly 10 rows."""
    docs = load_table(spark, sf_dir, "documents")
    nd = docs.agg((F.max("doc_id") + 1).alias("n"))
    first_seen = (
        docs.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("fid"))
    )
    dec = (
        first_seen.crossJoin(F.broadcast(nd))
        .select(
            ((F.col("fid") * 10).cast("bigint") / F.col("n"))
            .cast("bigint")
            .alias("decile")
        )
        .groupBy("decile")
        .agg(F.count("*").alias("n_new_tokens"))
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return dec.select(
        "decile",
        "n_new_tokens",
        F.sum("n_new_tokens").over(w).alias("vocab_cum"),
    )


_LEN_HISTO_ORACLE = r"""
WITH n AS (
    SELECT source,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_words
    FROM documents
),
b AS (
    SELECT source, length(bin(n_words)) - 1 AS k FROM n WHERE n_words >= 1
)
SELECT source,
       CAST(1 << k AS BIGINT) AS bucket_lo,
       CAST((1 << (k + 1)) - 1 AS BIGINT) AS bucket_hi,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM b GROUP BY source, k
"""


@query("docs_length_histogram_pow2", _LEN_HISTO_ORACLE)
def q_docs_length_histogram_pow2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source document-length histogram on power-of-two buckets
    ([2^k, 2^(k+1))) — the standard long-tail length profile for
    context-window planning and truncation-loss estimates. The bucket
    index is floor(log2) computed as BIT LENGTH (length(bin(n)) − 1):
    pure integer math, immune to the log2(2^k) ≈ k−ε boundary
    misbucketing a float log risks on either engine. One narrow map +
    one |sources|·~20-row aggregate."""
    n = load_table(spark, sf_dir, "documents").select(
        "source", F.size(TX.tokens("text")).alias("n_words")
    )
    b = n.filter(F.col("n_words") >= 1).select(
        "source",
        (F.length(F.expr("bin(n_words)")) - 1).alias("k"),
    )
    return b.groupBy("source", "k").agg(
        F.count("*").alias("n_docs")
    ).select(
        "source",
        F.expr("cast(shiftleft(1, k) as bigint)").alias("bucket_lo"),
        F.expr("cast(shiftleft(1, k + 1) - 1 as bigint)").alias(
            "bucket_hi"
        ),
        "n_docs",
    )


_QUALITY_DUP_ORACLE = rf"""
WITH pairs AS (
{_MINHASH_ORACLE}
),
dup AS (
    SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs
    )
),
t AS (
    SELECT doc_id, text,
           regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
),
g AS (
    SELECT doc_id,
           (len(w) >= 50 AND len(w) <= 100000
            AND CAST(list_sum(list_transform(w, tok -> length(tok)))
                     AS DOUBLE) / len(w) >= 3.0
            AND CAST(list_sum(list_transform(w, tok -> length(tok)))
                     AS DOUBLE) / len(w) <= 10.0
            AND CAST(len(regexp_extract_all(text, '#|\.\.\.|…'))
                     AS DOUBLE) / len(w) <= 0.1
            AND CAST(len(list_filter(w, tok ->
                         regexp_matches(tok, '[a-zA-Z]')))
                     AS DOUBLE) / len(w) >= 0.8
            AND CAST(list_contains(w, 'the') AS INT)
                + CAST(list_contains(w, 'a') AS INT)
                + CAST(list_contains(w, 'to') AS INT)
                + CAST(list_contains(w, 'of') AS INT)
                + CAST(list_contains(w, 'and') AS INT)
                + CAST(list_contains(w, 'that') AS INT)
                + CAST(list_contains(w, 'in') AS INT)
                + CAST(list_contains(w, 'with') AS INT) >= 2
           ) AS gopher_pass
    FROM t
)
SELECT g.gopher_pass, dup.doc_id IS NOT NULL AS is_near_dup,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM g LEFT JOIN dup ON dup.doc_id = g.doc_id
GROUP BY 1, 2
"""


@query("docs_quality_dup_crosstab", _QUALITY_DUP_ORACLE)
def q_docs_quality_dup_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality × duplication contingency table: every document
    bucketed by (gopher_pass, is_near_dup), where is_near_dup = the
    doc appears in any verified MinHash pair — the one-look answer to
    "are our duplicates disproportionately low-quality?", which
    decides whether dedup should run before or after the quality
    gate at 100 TB (filter the cheaper predicate first).

    Scale shape: the Gopher rule table is map-only; the dup-id set is
    candidate-bounded (band-admitted, verified) and joins as a tiny
    broadcast; output is ≤4 rows."""
    docs = load_table(spark, sf_dir, "documents")
    g = textstats.gopher_quality(docs).select("doc_id", "gopher_pass")
    pairs = _minhash_pairs_index(spark, sf_dir).filter(
        F.col("jaccard") >= 0.8
    )
    dup = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("_d", F.lit(1))
    )
    return (
        g.join(F.broadcast(dup), "doc_id", "left")
        .select(
            "gopher_pass", F.col("_d").isNotNull().alias("is_near_dup")
        )
        .groupBy("gopher_pass", "is_near_dup")
        .agg(F.count("*").alias("n_docs"))
    )


_MIX_TEMP_ORACLE = r"""
WITH n AS (
    SELECT source,
           SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS n_tokens
    FROM documents GROUP BY 1
),
wts AS (SELECT source, sqrt(CAST(n_tokens AS DOUBLE)) AS w FROM n),
tot AS (
    SELECT list_reduce(list(w ORDER BY source), (a, b) -> a + b) AS wsum
    FROM wts
)
SELECT n.source, CAST(n.n_tokens AS BIGINT) AS n_tokens,
       w / wsum AS mix_frac,
       CAST(FLOOR(1000000e0 * w / wsum) AS BIGINT) AS alloc_tokens,
       CAST(FLOOR(1000000e0 * w / wsum) AS DOUBLE)
           / CAST(n.n_tokens AS DOUBLE) AS upsample
FROM n JOIN wts USING (source), tot
"""


@query("docs_mix_temperature_alloc", _MIX_TEMP_ORACLE)
def q_docs_mix_temperature_alloc(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaled source mixing (τ = 1/2): per-source token
    budget allocation w_s ∝ n_s^(1/2), the standard upsampling rule
    that keeps small high-quality sources from drowning under a raw
    proportional mix (the Pile / LLaMA-style α-sampling, at the one
    exponent whose power is an exact IEEE sqrt — general τ needs
    pow(), whose cross-engine rounding is NOT pinned).
    (source, n_tokens, mix_frac, alloc_tokens, upsample) against a
    1M-token budget.

    Exactness: exact int64 token counts → sqrt (correctly-rounded
    IEEE) → the |sources|-term weight total folds IN SOURCE ORDER
    (sorted-list fold ≡ DuckDB list_reduce), then per-source one
    division / one floor. Scale shape: one map-side-combined count
    shuffle to |sources| rows; everything after is tiny."""
    n = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(F.size(TX.tokens("text"))).alias("n_tokens"))
    )
    wts = n.select(
        "source", F.sqrt(F.col("n_tokens").cast("double")).alias("w")
    )
    tot = (
        wts.select(F.struct("source", "w").alias("s"))
        .agg(F.array_sort(F.collect_list("s")).alias("a"))
        .select(
            F.aggregate(
                F.transform("a", lambda s: s["w"]),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("wsum")
        )
    )
    alloc = F.floor(F.lit(1000000.0) * F.col("w") / F.col("wsum"))
    return (
        n.join(wts, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            (F.col("w") / F.col("wsum")).alias("mix_frac"),
            alloc.cast("bigint").alias("alloc_tokens"),
            (
                alloc.cast("double") / F.col("n_tokens").cast("double")
            ).alias("upsample"),
        )
    )


_DEDUP_IMPACT_ORACLE = rf"""
WITH RECURSIVE {_TOKS.lstrip()}, {_SHINGLES.lstrip()},
{_JACCARD_TAIL.lstrip()},
pairs AS (
    SELECT doc_a, doc_b
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(doc, lab) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.doc
),
labels AS (
    SELECT doc AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY doc
),
kept AS (
    SELECT doc_id FROM (
        SELECT l.doc_id,
               row_number() OVER (
                   PARTITION BY l.cluster_id
                   ORDER BY d.n_chars DESC, l.doc_id
               ) AS rn
        FROM labels l JOIN documents d USING (doc_id)
    ) WHERE rn = 1
),
removed AS (
    SELECT l.doc_id
    FROM labels l LEFT JOIN kept k ON k.doc_id = l.doc_id
    WHERE k.doc_id IS NULL
),
tok AS (
    SELECT doc_id, source,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
    FROM documents
)
SELECT source,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN n_tok ELSE 0 END)
            AS BIGINT) AS removed_tokens,
       CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN n_tok ELSE 0 END)
            AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE) AS removed_frac
FROM tok LEFT JOIN removed r USING (doc_id)
GROUP BY 1
"""


@query("docs_dedup_impact_tokens", _DEDUP_IMPACT_ORACLE)
def q_docs_dedup_impact_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The question every dedup run gets asked: HOW MANY TRAINING
    TOKENS does it cost, and from which sources? Per source:
    (total_tokens, removed_tokens, removed_frac), where removed =
    near-dup cluster members that lost the keep-best election
    (longest text wins, doc_id tiebreak — same policy as
    dedup_cluster_keep_best).

    Scale shape: clustering + election run over the pair-bounded
    near-dup subgraph only; the removed-id set is tiny and broadcasts
    onto the one linear token-count pass; exact int64 token sums,
    one division per source. Pairs from the stored exact-pairs
    index."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pairs_index(spark, sf_dir)
    labels = dedup.dedup_clusters(pairs)
    kept = (
        labels.join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.max_by(
                "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")))
            ).alias("doc_id")
        )
        .select("doc_id")
    )
    removed = labels.select("doc_id").join(kept, "doc_id", "left_anti")
    tok = docs.select(
        "doc_id", "source", F.size(TX.tokens("text")).alias("n_tok")
    )
    flagged = tok.join(
        F.broadcast(removed.withColumn("_r", F.lit(1))), "doc_id", "left"
    )
    rm = F.when(F.col("_r").isNotNull(), F.col("n_tok")).otherwise(F.lit(0))
    return flagged.groupBy("source").agg(
        F.sum("n_tok").alias("total_tokens"),
        F.sum(rm).alias("removed_tokens"),
        (
            F.sum(rm).cast("double") / F.sum("n_tok").cast("double")
        ).alias("removed_frac"),
    )


_QUALITY_DRIFT_ORACLE = r"""
WITH nd AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
t AS (
    SELECT doc_id, text,
           regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
),
g AS (
    SELECT doc_id,
           (len(w) >= 50 AND len(w) <= 100000
            AND CAST(list_sum(list_transform(w, tok -> length(tok)))
                     AS DOUBLE) / len(w) >= 3.0
            AND CAST(list_sum(list_transform(w, tok -> length(tok)))
                     AS DOUBLE) / len(w) <= 10.0
            AND CAST(len(regexp_extract_all(text, '#|\.\.\.|…'))
                     AS DOUBLE) / len(w) <= 0.1
            AND CAST(len(list_filter(w, tok ->
                         regexp_matches(tok, '[a-zA-Z]')))
                     AS DOUBLE) / len(w) >= 0.8
            AND CAST(list_contains(w, 'the') AS INT)
                + CAST(list_contains(w, 'a') AS INT)
                + CAST(list_contains(w, 'to') AS INT)
                + CAST(list_contains(w, 'of') AS INT)
                + CAST(list_contains(w, 'and') AS INT)
                + CAST(list_contains(w, 'that') AS INT)
                + CAST(list_contains(w, 'in') AS INT)
                + CAST(list_contains(w, 'with') AS INT) >= 2
           ) AS gopher_pass
    FROM t
)
SELECT CAST(g.doc_id * 10 // nd.n AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pass,
       CAST(SUM(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS pass_rate
FROM g, nd
GROUP BY 1
"""


@query("docs_quality_drift_by_decile", _QUALITY_DRIFT_ORACLE)
def q_docs_quality_drift_by_decile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gopher pass rate per ingestion decile (doc_id order) — the "is
    this crawl getting worse over time" monitor: a sagging tail
    decile means the feed degraded and the cutoff date matters.
    Map-only rule table + exact integer decile bucketing + a 10-row
    aggregate; one division per decile."""
    docs = load_table(spark, sf_dir, "documents")
    g = textstats.gopher_quality(docs).select("doc_id", "gopher_pass")
    nd = docs.agg((F.max("doc_id") + 1).alias("n"))
    npass = F.sum(F.when(F.col("gopher_pass"), 1).otherwise(0))
    return (
        g.crossJoin(F.broadcast(nd))
        .select(
            ((F.col("doc_id") * 10).cast("bigint") / F.col("n"))
            .cast("bigint")
            .alias("decile"),
            "gopher_pass",
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            npass.cast("bigint").alias("n_pass"),
            (
                npass.cast("double") / F.count("*").cast("double")
            ).alias("pass_rate"),
        )
    )


# -- Packing fragmentation report ------------------------------------------

_PACK_FRAG_ORACLE = r"""
WITH t AS (
    SELECT doc_id,
           COALESCE(CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    AS BIGINT), 0) AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, n_tokens,
           SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
    FROM t
),
spans AS (
    SELECT doc_id,
           ((cum_before + n_tokens - 1) // 512 - cum_before // 512 + 1)
               AS n_spans
    FROM c WHERE n_tokens > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (n_spans > 1) AS BIGINT) AS n_split_docs,
       CAST(COUNT(*) FILTER (n_spans > 1) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS split_frac,
       CAST(SUM(n_spans) AS BIGINT) AS total_spans,
       CAST(SUM(n_spans) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS mean_spans_per_doc
FROM spans
"""


@query("docs_pack_fragmentation", _PACK_FRAG_ORACLE)
def q_docs_pack_fragmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-quality report over the concatenate-and-chunk layout
    (docs_pack_sequences, L=512): how many documents straddle a
    sequence boundary — (n_docs, n_split_docs, split_frac,
    total_spans, mean_spans_per_doc). Fragmentation is the quality
    cost of dense packing (a split doc trains with truncated
    context); this one-row report is the dial watched when choosing L
    or switching to best-fit packing.

    Shape: reuses the distributed prefix-sum placement, then pure
    span arithmetic per doc and ONE map-side-combined global
    aggregate — no new shuffle beyond the packing pass itself."""
    placed = packing.pack_sequences(load_table(spark, sf_dir, "documents"))
    spans = placed.filter(F.col("n_tokens") > 0).select(
        (
            (
                (
                    F.col("seq_id") * 512
                    + F.col("seq_offset")
                    + F.col("n_tokens")
                    - 1
                )
                / 512
            ).cast("bigint")
            - F.col("seq_id")
            + 1
        ).alias("n_spans")
    )
    split = F.sum(
        F.when(F.col("n_spans") > 1, 1).otherwise(0)
    ).cast("bigint")
    return spans.agg(
        F.count("*").alias("n_docs"),
        split.alias("n_split_docs"),
        (split.cast("double") / F.count("*").cast("double")).alias(
            "split_frac"
        ),
        F.sum("n_spans").cast("bigint").alias("total_spans"),
        (
            F.sum("n_spans").cast("double")
            / F.count("*").cast("double")
        ).alias("mean_spans_per_doc"),
    )


# -- Shingle novelty -------------------------------------------------------

_NOVELTY_ORACLE = r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM toks, unnest(range(1, len(w) - 1)) AS t(i)
),
first AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty_frac
FROM sh JOIN first USING (shingle)
GROUP BY sh.doc_id
"""


@query("docs_shingle_novelty", _NOVELTY_ORACLE)
def q_docs_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct word
    3-shingles whose FIRST occurrence (min doc_id, the ingestion
    order proxy) is this doc → (doc_id, n_shingles, n_novel,
    novelty_frac). The marginal-value curve of continued crawling —
    the doc-level companion of docs_vocab_growth's corpus curve: a
    feed whose new docs trend toward zero novelty is re-serving
    content and should be down-weighted or cut.

    Shape: one distinct-shingle shuffle (set semantics), one
    shingle-keyed min aggregate, one shingle-keyed join back, one
    doc-keyed aggregate — all linear in total shingle volume; exact
    ints with ONE division."""
    sh = dedup.doc_shingles(load_table(spark, sf_dir, "documents"), 3)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("bigint")
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            novel.alias("n_novel"),
            (
                novel.cast("double") / F.count("*").cast("double")
            ).alias("novelty_frac"),
        )
    )


# -- Compression-ratio quality signal --------------------------------------


@query("docs_compression_ratio")  # zlib kernel -> rows-only
def q_docs_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression ratio per document — the classic cheap
    complexity signal modern curation stacks run next to entropy
    (highly compressible text = templated/repetitive boilerplate;
    ratio near 1 = already-compressed or random garbage):
    (doc_id, raw_bytes, compressed_bytes, compression_ratio,
    low_complexity). Complements text_char_entropy: entropy sees the
    unigram character distribution, DEFLATE's LZ77 window also sees
    repeated SUBSTRINGS, so a doc of shuffled repeated sentences
    fools entropy but not the ratio.

    Python is unavoidable (no JVM zlib expression), so the hop is an
    Arrow-batched mapInPandas over a pruned 2-column projection —
    the repo's UDF policy (no row-at-a-time udfs); memory bounded by
    arrow.maxRecordsPerBatch. Rows-only check; kernel equivalence
    vs direct zlib is pytest-gated (tests/test_round9.py)."""

    def score(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            raw = pdf["text"].fillna("").str.encode("utf-8")
            rb = raw.str.len().astype("int64")
            cb = raw.map(
                lambda b: len(zlib.compress(b, 6))
            ).astype("int64")
            ratio = rb / cb.where(cb > 0, 1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "raw_bytes": rb,
                    "compressed_bytes": cb,
                    "compression_ratio": ratio.astype("float64"),
                    "low_complexity": ratio > 4.0,
                }
            )

    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .mapInPandas(
            score,
            "doc_id bigint, raw_bytes bigint, compressed_bytes bigint,"
            " compression_ratio double, low_complexity boolean",
        )
    )


# -- DSIR importance weights -------------------------------------------------
# Data Selection with Importance Resampling (hashed n-gram variant):
# score raw docs by the log-likelihood ratio of a TARGET (high-quality
# /in-domain) unigram-bucket distribution vs the RAW corpus
# distribution. Target = the deterministic doc_id % 97 split (the same
# eval-split idiom decontaminate_ngram uses as its stand-in corpus).

_DSIR_BUCKETS = 256


_DSIR_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\s+')) AS t
    FROM documents
),
b AS (
    SELECT doc_id,
           ('0x' || substr(md5(t), 1, 4))::BIGINT % {_DSIR_BUCKETS} AS bk
    FROM tok
),
tgt AS (
    SELECT bk, COUNT(*) AS c FROM b WHERE doc_id % 97 = 0 GROUP BY 1
),
raw AS (
    SELECT bk, COUNT(*) AS c FROM b WHERE doc_id % 97 <> 0 GROUP BY 1
),
tt AS (SELECT SUM(c) AS n FROM tgt),
tr AS (SELECT SUM(c) AS n FROM raw),
buckets AS (SELECT unnest(range({_DSIR_BUCKETS})) AS bk),
lq AS (
    SELECT buckets.bk,
           CAST(floor(log2(
               (CAST(COALESCE(tgt.c, 0) + 1 AS DOUBLE)
                / CAST(tt.n + {_DSIR_BUCKETS} AS DOUBLE))
               / (CAST(COALESCE(raw.c, 0) + 1 AS DOUBLE)
                  / CAST(tr.n + {_DSIR_BUCKETS} AS DOUBLE))
           ) * 1000000.0 + 0.5) AS BIGINT) AS lq
    FROM buckets
    LEFT JOIN tgt ON tgt.bk = buckets.bk
    LEFT JOIN raw ON raw.bk = buckets.bk, tt, tr
)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(lq.lq) AS DOUBLE) / 1000000.0 AS dsir_logweight
FROM b JOIN lq ON lq.bk = b.bk
WHERE b.doc_id % 97 <> 0
GROUP BY 1
"""


@query("docs_dsir_weights", _DSIR_ORACLE)
def q_docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling" — the hashed n-gram
    variant): every raw doc scored by sum over its tokens of
    log2 p_target(bucket)/p_raw(bucket), where tokens hash into 256
    md5 buckets and both distributions are add-one smoothed →
    (doc_id, n_tokens, dsir_logweight). The weight feeds Gumbel
    top-k / weighted sampling (docs_sample_weighted) to select raw
    data that looks like the target domain — the modern
    quality-targeting alternative to hand-written rule filters.

    Determinism: per-bucket log-ratios quantized to int64 micro-bits
    before the doc sum (order-free exact adds); hashing is the md5
    idiom both engines share bit-for-bit. Scale: two bucket-count
    aggregates (256 rows — broadcastable), one bucket-keyed join onto
    the token stream, one doc-keyed aggregate; the per-token state is
    ONE int64. At 100 TB the target distribution is a 256-row
    broadcast literal refreshed offline."""
    # r15: spread the single-row-group scan before the per-token md5
    # bucketing (guide §2.5; no-op at scale — see catalog.spread_scan).
    docs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = docs.select(
        "doc_id", F.explode(TX.tokens("text")).alias("t")
    )
    bk = F.conv(F.substring(F.md5(F.col("t")), 1, 4), 16, 10).cast(
        "bigint"
    ) % _DSIR_BUCKETS
    b = tok.select("doc_id", bk.alias("bk"))
    is_tgt = F.col("doc_id") % 97 == 0
    counts = b.groupBy("bk").agg(
        F.sum(is_tgt.cast("bigint")).alias("ct"),
        F.sum((~is_tgt).cast("bigint")).alias("cr"),
    )
    tot = counts.agg(
        F.sum("ct").alias("nt"), F.sum("cr").alias("nr")
    )
    buckets = spark.range(_DSIR_BUCKETS).select(
        F.col("id").alias("bk")
    )
    sm = F.lit(_DSIR_BUCKETS)
    lq = (
        buckets.join(F.broadcast(counts), "bk", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bk",
            F.floor(
                F.log2(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast(
                            "double"
                        )
                        / (F.col("nt") + sm).cast("double")
                    )
                    / (
                        (F.coalesce(F.col("cr"), F.lit(0)) + 1).cast(
                            "double"
                        )
                        / (F.col("nr") + sm).cast("double")
                    )
                )
                * F.lit(1_000_000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lq"),
        )
    )
    return (
        b.filter(~is_tgt)
        .join(F.broadcast(lq), "bk")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (
                F.sum("lq").cast("double") / F.lit(1_000_000.0)
            ).alias("dsir_logweight"),
        )
    )


# -- Gopher rule ablation ---------------------------------------------------


def _gopher_ablation_oracle() -> str:
    g = _GOPHER_ORACLE.strip().rstrip()
    return f"""
WITH g AS ({g}),
g2 AS (
    SELECT *,
           CAST(NOT r_word_count AS INT) + CAST(NOT r_mean_len AS INT)
           + CAST(NOT r_symbol AS INT) + CAST(NOT r_alpha AS INT)
           + CAST(NOT r_stop AS INT) AS failcnt
    FROM g
),
tot AS (SELECT COUNT(*) AS t FROM g2),
u AS (
    SELECT 'r_word_count' AS rule,
           COUNT(*) FILTER (NOT r_word_count) AS n_fail,
           COUNT(*) FILTER (NOT r_word_count AND failcnt = 1)
               AS n_sole_fail
    FROM g2
    UNION ALL
    SELECT 'r_mean_len', COUNT(*) FILTER (NOT r_mean_len),
           COUNT(*) FILTER (NOT r_mean_len AND failcnt = 1) FROM g2
    UNION ALL
    SELECT 'r_symbol', COUNT(*) FILTER (NOT r_symbol),
           COUNT(*) FILTER (NOT r_symbol AND failcnt = 1) FROM g2
    UNION ALL
    SELECT 'r_alpha', COUNT(*) FILTER (NOT r_alpha),
           COUNT(*) FILTER (NOT r_alpha AND failcnt = 1) FROM g2
    UNION ALL
    SELECT 'r_stop', COUNT(*) FILTER (NOT r_stop),
           COUNT(*) FILTER (NOT r_stop AND failcnt = 1) FROM g2
)
SELECT rule, CAST(n_fail AS BIGINT) AS n_fail,
       CAST(n_sole_fail AS BIGINT) AS n_sole_fail,
       CAST(n_sole_fail AS DOUBLE) / CAST(t AS DOUBLE)
           AS marginal_pass_gain
FROM u, tot
"""


@query("docs_gopher_rule_ablation", _gopher_ablation_oracle())
def q_docs_gopher_rule_ablation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-rule ablation of the Gopher quality gate: for each of the
    five published rules, how many docs fail it at all (n_fail) and
    how many fail ONLY it (n_sole_fail — the docs the corpus would
    regain if the rule were dropped, as marginal_pass_gain). THE
    tuning readout for a rule filter: a rule with large n_fail but
    near-zero sole-fail is redundant with the others; a rule with a
    large sole-fail share is the binding constraint and deserves a
    threshold review before it deletes terabytes.

    Shape: one map-only rule pass (per-doc failed-rule count rides
    along), a 5-way stack() unpivot, and one map-side-combined
    aggregate to 5 rows; totals broadcast back."""
    g = textstats.gopher_quality(load_table(spark, sf_dir, "documents"))
    rules = ["r_word_count", "r_mean_len", "r_symbol", "r_alpha", "r_stop"]
    failcnt = sum(
        (~F.col(r)).cast("int") for r in rules
    )
    g2 = g.select(*rules).withColumn("failcnt", failcnt)
    stack_expr = "stack({}, {}) AS (rule, flag)".format(
        len(rules), ", ".join(f"'{r}', {r}" for r in rules)
    )
    u = g2.select(F.expr(stack_expr), "failcnt")
    agg = u.groupBy("rule").agg(
        F.sum((~F.col("flag")).cast("bigint")).alias("n_fail"),
        F.sum(
            ((~F.col("flag")) & (F.col("failcnt") == 1)).cast("bigint")
        ).alias("n_sole_fail"),
    )
    tot = g.agg(F.count("*").alias("t"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "rule",
        "n_fail",
        "n_sole_fail",
        (
            F.col("n_sole_fail").cast("double")
            / F.col("t").cast("double")
        ).alias("marginal_pass_gain"),
    )


# -- Naive Bayes source classifier -----------------------------------------
# The trained-classifier member of the curation stack (fastText-style
# quality/domain classifiers in CCNet/RedPajama pipelines): multinomial
# NB over token counts, trained on the md5-free deterministic split
# doc_id % 5 <> 0, scored on the held-out fifth, reported as a
# source-level confusion matrix. All log-probabilities are add-one
# smoothed and int64-quantized before any aggregation.

# Shared CTE prelude: model training + per-(test doc, class) int64
# micro-bit scores. Consumed by the confusion-matrix oracle and the
# margin-calibration oracle below.
_NB_PRELUDE = r"""
WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
test  AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
ttok AS (
    SELECT source,
           unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
    FROM train
),
cnt AS (SELECT source, tok, COUNT(*) AS c FROM ttok GROUP BY 1, 2),
nsrc AS (SELECT source, SUM(c) AS n_src FROM cnt GROUP BY 1),
vocab AS (SELECT DISTINCT tok FROM ttok),
v AS (SELECT COUNT(*) AS v FROM vocab),
model AS (
    SELECT s.source, t.tok,
           CAST(floor(log2(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)
                           / CAST(s.n_src + v.v AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) AS lq
    FROM nsrc s CROSS JOIN vocab t CROSS JOIN v
    LEFT JOIN cnt c ON c.source = s.source AND c.tok = t.tok
),
lq0 AS (
    SELECT s.source,
           CAST(floor(log2(1.0 / CAST(s.n_src + v.v AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) AS lq0
    FROM nsrc s CROSS JOIN v
),
prior AS (
    SELECT source,
           CAST(floor(log2(CAST(COUNT(*) AS DOUBLE)
                           / CAST((SELECT COUNT(*) FROM train) AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) AS pq
    FROM train GROUP BY 1
),
dtok AS (
    SELECT doc_id, source AS true_source,
           unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
    FROM test
),
tf AS (
    SELECT doc_id, true_source, tok, COUNT(*) AS tf
    FROM dtok GROUP BY 1, 2, 3
),
score AS (
    SELECT tf.doc_id, tf.true_source, p.source,
           p.pq + SUM(tf.tf * COALESCE(m.lq, z.lq0)) AS sq
    FROM tf
    CROSS JOIN prior p
    JOIN lq0 z ON z.source = p.source
    LEFT JOIN model m ON m.source = p.source AND m.tok = tf.tok
    GROUP BY 1, 2, 3, p.pq
)"""


_NB_ORACLE = _NB_PRELUDE + r""",
pred AS (
    SELECT doc_id, true_source, source AS pred_source,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY sq DESC, source) AS rk
    FROM score
)
SELECT true_source, pred_source, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred WHERE rk = 1
GROUP BY 1, 2
"""


def _nb_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared Naive Bayes scoring relation: every held-out test doc
    scored against every source class. Returns (doc_id, true_source,
    source, sq) with sq the int64 micro-bit log-posterior. Used by
    the confusion-matrix query and the margin-calibration QA query —
    same model, same quantization, one implementation."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)

    ttok = train.select(
        "source", F.explode(TX.tokens("text")).alias("tok")
    )
    # r15 (guide §2.4): cnt — the (source, tok, c) NB model counts,
    # model-sized (≤ classes × vocab rows) — feeds nsrc, vocab, v and
    # the model join; unpinned, every consumer re-embedded its own
    # train tokenize subtree (18 documents scans in the margin-
    # calibration plan). Pin it once; vocab is derived from cnt
    # (distinct tok present in train — the identical set ttok's
    # distinct produced) so the train corpus is tokenized exactly
    # once at any scale.
    cnt = (
        ttok.groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    nsrc = cnt.groupBy("source").agg(F.sum("c").alias("n_src"))
    vocab = cnt.select("tok").distinct()
    v = vocab.agg(F.count("*").alias("v"))

    def q_log2(num, den):
        return (
            F.floor(F.log2(num / den) * F.lit(1e6) + F.lit(0.5))
            .cast("bigint")
        )

    model = (
        nsrc.crossJoin(F.broadcast(v))
        .crossJoin(vocab)
        .join(cnt, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            q_log2(
                (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double"),
                (F.col("n_src") + F.col("v")).cast("double"),
            ).alias("lq"),
        )
    )
    lq0 = nsrc.crossJoin(F.broadcast(v)).select(
        "source",
        q_log2(
            F.lit(1.0), (F.col("n_src") + F.col("v")).cast("double")
        ).alias("lq0"),
    )
    n_train = train.agg(F.count("*").alias("n_train"))
    prior = (
        train.groupBy("source")
        .agg(F.count("*").alias("nd"))
        .crossJoin(F.broadcast(n_train))
        .select(
            "source",
            q_log2(
                F.col("nd").cast("double"),
                F.col("n_train").cast("double"),
            ).alias("pq"),
        )
    )

    tf = (
        test.select(
            "doc_id",
            F.col("source").alias("true_source"),
            F.explode(TX.tokens("text")).alias("tok"),
        )
        .groupBy("doc_id", "true_source", "tok")
        .agg(F.count("*").alias("tf"))
    )
    return (
        tf.crossJoin(F.broadcast(prior))
        .join(F.broadcast(lq0), "source")
        .join(F.broadcast(model), ["source", "tok"], "left")
        .groupBy("doc_id", "true_source", "source", "pq")
        .agg(
            F.sum(
                F.col("tf") * F.coalesce(F.col("lq"), F.col("lq0"))
            ).alias("s1")
        )
        .select(
            "doc_id",
            "true_source",
            "source",
            (F.col("pq") + F.col("s1")).alias("sq"),
        )
    )


@query("docs_naive_bayes_source", _NB_ORACLE)
def q_docs_naive_bayes_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes source classifier, trained on 4/5 of
    the corpus (doc_id % 5 <> 0) and evaluated on the held-out fifth:
    add-one smoothed token log-likelihoods + class prior, argmax over
    sources, reported as the (true_source, pred_source, n_docs)
    confusion matrix. The shape of every fastText-style
    quality/domain classifier in a curation pipeline — train token
    stats, broadcast the model, score in one linear pass.

    Determinism: every log2 probability is quantized to int64
    micro-bits BEFORE aggregation (floor(log2(p)*1e6+0.5)); document
    scores are exact integer sums in any partition order; argmax ties
    break by source name. (On this signal-free synthetic corpus the
    matrix reads chance-level — exactly what a classifier-QA gate
    should report for it.) Scale: the model is vocab x classes — the
    standard NB model size, built with token-key shuffles and joined
    BROADCAST onto the test token stream; the test corpus never
    shuffles on anything but (doc, token); confusion output is
    classes^2 rows."""
    score = _nb_scores(spark, sf_dir)

    wk = Window.partitionBy("doc_id").orderBy(
        F.desc("sq"), F.asc("source")
    )
    pred = score.select(
        "doc_id",
        "true_source",
        F.col("source").alias("pred_source"),
        F.row_number().over(wk).alias("rk"),
    ).filter(F.col("rk") == 1)
    return pred.groupBy("true_source", "pred_source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )


# -- Winnowing fingerprints -------------------------------------------------
# Winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the MOSS
# algorithm): hash every k-gram (k=3 word shingles here), slide a
# window of w=4 consecutive hashes, and select the minimum hash of
# each window, rightmost position on ties. The selected set is the
# document's fingerprint; any shared substring of length >= k+w-1
# tokens is GUARANTEED to produce at least one shared fingerprint.
# Hash = first 10 md5 hex digits (40-bit int); the tie rule is packed
# into one int64 key (hash * 2^20 + (2^20-1-pos)), so a single MIN
# implements "smallest hash, rightmost on ties" in both engines.
# (The 2^20 position budget bounds docs at ~1M tokens — far above
# this corpus; a production build would widen to 2^24.)

_WIN_TOPK = 20


_WIN_ORACLE = r"""
WITH ts AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
    FROM documents
),
sh AS (
    SELECT doc_id, i AS pos,
           t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS s
    FROM ts, unnest(range(1, len(t) - 1)) AS r(i)
),
h AS (
    SELECT doc_id, pos,
           ('0x' || substr(md5(s), 1, 10))::BIGINT * 1048576
               + (1048575 - pos) AS k
    FROM sh
),
m AS (SELECT doc_id, MAX(pos) AS m FROM h GROUP BY 1),
w AS (
    SELECT doc_id, unnest(range(1, greatest(m - 3, 1) + 1)) AS j
    FROM m
),
win AS (
    SELECT w.doc_id, w.j, MIN(h.k) AS sel
    FROM w
    JOIN h ON h.doc_id = w.doc_id
          AND h.pos >= w.j AND h.pos <= w.j + 3
    GROUP BY 1, 2
),
sel AS (SELECT DISTINCT doc_id, sel AS k FROM win)
SELECT k // 1048576 AS fingerprint,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_picks
FROM sel
GROUP BY 1
ORDER BY n_docs DESC, n_picks DESC, fingerprint
LIMIT 20
"""


@query("docs_winnowing_fingerprints", _WIN_ORACLE)
def q_docs_winnowing_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS plagiarism-detector
    selection rule) over 3-word shingles with window w=4: the top-20
    fingerprints shared by the most documents, with total pick
    counts. In a dedup stack this is the guaranteed-recall substring
    detector — any shared run of >= 6 tokens yields a shared
    fingerprint, at ~2/(w+1) the storage of full shingling.

    Determinism: integer md5-derived hashes; the min-with-rightmost-
    tie rule is one packed-int64 MIN; dedup of selected (hash, pos)
    pairs is exact. Scale: the whole selection pipeline is array HOFs
    inside one projection — zero shuffles until the final
    fingerprint-key aggregation; per-doc cost is O(tokens * w)."""
    # r15: spread the single-row-group scan before the winnowing HOFs
    # (guide §2.5; no-op at scale — see catalog.spread_scan).
    docs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    base = docs.select(
        "doc_id", TX.tokens("text").alias("t")
    ).select(
        "doc_id", TX.word_shingles(F.col("t"), 3).alias("sh")
    )
    hashed = base.filter(F.size("sh") > 0).select(
        "doc_id",
        F.expr(
            "transform(sh, s -> cast(conv(substring(md5(s), 1, 10),"
            " 16, 10) as bigint))"
        ).alias("hs"),
    )
    keyed = hashed.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, size(hs)), i ->"
            " hs[i - 1] * 1048576 + (1048575 - i))"
        ).alias("ks"),
    )
    sel = keyed.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform("
                    " sequence(1, greatest(size(ks) - 3, 1)),"
                    " j -> array_min(slice(ks, j,"
                    "   least(4, size(ks) - j + 1))))"
                )
            )
        ).alias("k"),
    )
    return (
        sel.select("doc_id", F.expr("k div 1048576").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_picks"),
        )
        .orderBy(
            F.desc("n_docs"), F.desc("n_picks"), F.asc("fingerprint")
        )
        .limit(_WIN_TOPK)
    )


# -- NB margin calibration --------------------------------------------------

_NBCAL_ORACLE = _NB_PRELUDE + r""",
r2 AS (
    SELECT doc_id, true_source, source, sq,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY sq DESC, source) AS rk
    FROM score
),
doc AS (
    SELECT a.doc_id,
           CASE WHEN a.source = a.true_source THEN 1 ELSE 0 END
               AS correct,
           a.sq - b.sq AS margin
    FROM r2 a
    JOIN r2 b ON a.doc_id = b.doc_id AND b.rk = 2
    WHERE a.rk = 1
),
binned AS (
    SELECT correct, margin,
           CAST(ntile(5) OVER (ORDER BY margin, doc_id) AS BIGINT)
               AS margin_bin
    FROM doc
)
SELECT margin_bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(correct) AS BIGINT) AS n_correct,
       CAST(SUM(correct) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS accuracy,
       CAST(MIN(margin) AS BIGINT) AS min_margin,
       CAST(MAX(margin) AS BIGINT) AS max_margin
FROM binned
GROUP BY 1
"""


@query("docs_nb_margin_calibration", _NBCAL_ORACLE)
def q_docs_nb_margin_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calibration QA for the Naive Bayes source classifier: test
    docs are bucketed into margin quintiles (margin = top-1 minus
    top-2 log-posterior in micro-bits) and each bucket reports its
    empirical accuracy — the classifier-confidence reliability table
    every curation gate should publish before its scores are used as
    filtering thresholds. A calibrated classifier shows accuracy
    rising with margin; chance-level flat rows mean the scores carry
    no signal (the expected reading on this synthetic corpus).

    Determinism: margins are exact int64 differences of quantized
    scores; quintile assignment is ntile(5) under the total order
    (margin, doc_id); accuracy is one IEEE division of exact counts.
    Scale: reuses the NB scoring relation (broadcast model, linear
    token pass); the top-2 extraction is a per-doc window; the only
    global step is the ntile over the EVAL-SET-sized doc relation —
    bounded state by design (eval sets are small by construction,
    the corpus itself never enters the quintile window)."""

    score = _nb_scores(spark, sf_dir)
    wk = Window.partitionBy("doc_id").orderBy(
        F.desc("sq"), F.asc("source")
    )
    r2 = score.select(
        "doc_id",
        "true_source",
        "source",
        "sq",
        F.row_number().over(wk).alias("rk"),
    )
    top1 = r2.filter(F.col("rk") == 1).select(
        "doc_id",
        F.when(F.col("source") == F.col("true_source"), 1)
        .otherwise(0)
        .alias("correct"),
        F.col("sq").alias("sq1"),
    )
    top2 = r2.filter(F.col("rk") == 2).select(
        "doc_id", F.col("sq").alias("sq2")
    )
    doc = top1.join(top2, "doc_id").select(
        "doc_id", "correct", (F.col("sq1") - F.col("sq2")).alias("margin")
    )
    wq = Window.orderBy("margin", "doc_id")
    binned = doc.select(
        "correct",
        "margin",
        F.ntile(5).over(wq).cast("bigint").alias("margin_bin"),
    )
    return binned.groupBy("margin_bin").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("correct").cast("bigint").alias("n_correct"),
        (
            F.sum("correct").cast("double")
            / F.count("*").cast("double")
        ).alias("accuracy"),
        F.min("margin").cast("bigint").alias("min_margin"),
        F.max("margin").cast("bigint").alias("max_margin"),
    )


# -- N-gram novelty curve -----------------------------------------------------
# Dataset redundancy growth curve: sweeping the corpus in ingest order
# (doc_id), what fraction of each slice's 3-gram shingles has never
# appeared in ANY earlier document? Falling novelty across buckets is
# the canonical "we are re-crawling the same web" signal and the
# standard pre-training argument for dedup budget (docs_vocab_growth
# tracks the VOCABULARY curve; this tracks phrase-level redundancy,
# which saturates far earlier). Reference scope: the reference has no
# text analytics; this extends its profiling family per SURVEY §2.13.

_NOVELTY_BUCKETS = 10


_NOVELTY_CURVE_ORACLE = r"""
WITH ts AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
           ('0x' || substr(md5(t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]),
                           1, 15))::BIGINT AS h
    FROM ts, unnest(range(1, len(t) - 1)) AS r(i)
),
firsts AS (SELECT h, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
bounds AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
per_doc AS (
    SELECT s.doc_id,
           COUNT(*) AS n_sh,
           SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS n_new
    FROM sh s JOIN firsts f ON s.h = f.h
    GROUP BY 1
)
SELECT CAST(((p.doc_id - b.mn) * 10) // (b.mx - b.mn + 1) AS BIGINT)
           AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
       CAST(SUM(n_new) AS BIGINT) AS n_novel,
       CAST((SUM(n_new) * 1000000) // SUM(n_sh) AS BIGINT) AS novelty_ppm,
       CAST(CAST((SUM(n_new) * 1000000) // SUM(n_sh) AS BIGINT) AS DOUBLE)
           / 1000000e0 AS novel_frac
FROM per_doc p, bounds b
GROUP BY 1
ORDER BY bucket
"""


@query("docs_ngram_novelty_curve", _NOVELTY_CURVE_ORACLE)
def q_docs_ngram_novelty_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-corpus-decile 3-gram novelty: bucket documents into 10
    slices of the doc_id (ingest-order) range and report, per slice,
    the fraction of its distinct shingles whose FIRST corpus
    occurrence is in that slice's documents. The redundancy growth
    curve every crawl-heavy training corpus should publish — a
    phrase-level saturation signal that falls long before
    docs_vocab_growth's vocabulary curve flattens. Aggregates the
    same first-occurrence signal as docs_shingle_novelty (the per-doc
    table) to a fixed 10-row corpus-position summary.

    Determinism: shingles are set-deduped per doc; first occurrence is
    an integer MIN over doc_id; all bucket math is integer DIV over a
    broadcast (min, max) scalar — no floats until one final exact
    int-to-double division. Docs with < 3 tokens carry no shingles and
    are excluded (stated contract). Scale: shingles are 60-bit md5
    ints, so the two shuffle keys are fixed-width — the groupBy(h) and
    the join back on h share one hash partitioning; per-doc and
    per-bucket aggs are map-side-combinable; nothing is quadratic and
    nothing sorts globally (buckets come from the id RANGE, not a
    global ntile)."""
    # r15: spread the single-row-group scan before the per-shingle md5
    # work (guide §2.5; no-op at scale — see catalog.spread_scan).
    docs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    sh = (
        docs.select("doc_id", TX.tokens("text").alias("t"))
        .select("doc_id", TX.word_shingles(F.col("t"), 3).alias("sh"))
        .select("doc_id", F.explode("sh").alias("s"))
        .select(
            "doc_id",
            F.expr(
                "cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)"
            ).alias("h"),
        )
        .distinct()
    )
    firsts = sh.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_new"),
        )
    )
    bounds = docs.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    return (
        per_doc.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(
                f"cast(((doc_id - mn) * {_NOVELTY_BUCKETS})"
                " div (mx - mn + 1) as bigint)"
            ).alias("bucket"),
            "n_sh",
            "n_new",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_sh").cast("bigint").alias("n_shingles"),
            F.sum("n_new").cast("bigint").alias("n_novel"),
            F.expr(
                "cast((sum(n_new) * 1000000) div sum(n_sh) as bigint)"
            ).alias("novelty_ppm"),
        )
        .select(
            "bucket",
            "n_docs",
            "n_shingles",
            "n_novel",
            "novelty_ppm",
            (F.col("novelty_ppm").cast("double") / F.lit(1e6)).alias(
                "novel_frac"
            ),
        )
        .orderBy("bucket")
    )


# -- Multi-round BPE trainer -------------------------------------------------
# bpe_pair_merges materializes round 1's merge-candidate table;
# training a tokenizer runs the loop: argmax pair -> merge everywhere
# -> recount. Three unrolled supersteps, hash-checked end-to-end (the
# applied merges feed the next round's counts, so a single misplaced
# merge anywhere in the corpus changes the later rounds' winners).
#
# Greedy left-to-right non-overlapping merge without a sequential
# scan: a position i merges iff it matches the pair AND its distance
# from its run start is even. Run starts come from one bounded window
# per doc (last non-match position + 1) — overlap chains only happen
# for a==b pairs, and parity over match-runs resolves them exactly
# like the sequential greedy scan.

_BPE_ROUNDS = 3


def _bpe_round_sql(k: int) -> str:
    """CTE chain for one oracle merge round: counts -> top-1 pair ->
    positional explode -> greedy-merge flags -> rebuilt sequences.
    Every per-round CTE that later rounds re-reference is
    MATERIALIZED (DuckDB inlines plain CTEs; 3 rounds of ~3x fan-out
    would re-plan the base scan 3^rounds times)."""
    return f""",
c{k} AS (
    SELECT w[i] AS w1, w[i+1] AS w2, COUNT(*) AS n
    FROM r{k}, unnest(range(1, len(w))) AS t(i) GROUP BY 1, 2
),
top{k} AS MATERIALIZED (
    SELECT w1, w2, n FROM c{k} ORDER BY n DESC, w1, w2 LIMIT 1
),
e{k} AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos, w[i] AS tok
    FROM r{k}, unnest(range(1, len(w) + 1)) AS t(i)
),
w{k} AS (
    SELECT doc_id, pos, tok,
           lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS ltok
    FROM e{k}
),
m{k} AS (
    SELECT doc_id, pos, tok, ltok,
           COALESCE(tok = (SELECT w1 FROM top{k})
                    AND ltok = (SELECT w2 FROM top{k}), FALSE) AS mt
    FROM w{k}
),
g{k} AS (
    SELECT *, COALESCE(MAX(CASE WHEN NOT mt THEN pos END)
                  OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) + 1, 1) AS rs
    FROM m{k}
),
f{k} AS (
    SELECT *, mt AND ((pos - rs) % 2 = 0) AS mg,
           COALESCE(LAG(mt AND ((pos - rs) % 2 = 0))
                  OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS pm
    FROM g{k}
),
r{k + 1} AS MATERIALIZED (
    SELECT doc_id,
           list(CASE WHEN mg THEN tok || ltok ELSE tok END
                ORDER BY pos) AS w
    FROM f{k} WHERE NOT pm GROUP BY doc_id
)"""


_BPE_TRAIN_ORACLE = (
    r"""
WITH r1 AS MATERIALIZED (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
)"""
    + "".join(_bpe_round_sql(k) for k in range(1, _BPE_ROUNDS + 1))
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_round, "
        f"w1 || ' ' || w2 AS pair, CAST(n AS BIGINT) AS n FROM top{k}"
        for k in range(1, _BPE_ROUNDS + 1)
    )
)


def _bpe_top_pair(seqs: DataFrame) -> DataFrame:
    """Most frequent adjacent pair of a (doc_id, toks) relation —
    deterministic argmax (n DESC, w1, w2): map-side-combined count
    shuffle + TakeOrderedAndProject(1)."""
    toks = F.col("toks")
    cnt = F.size(toks) - 1
    z = F.arrays_zip(F.slice(toks, 1, cnt), F.slice(toks, 2, cnt))
    return (
        seqs.select(F.explode(z).alias("s"))
        .select(F.col("s")["0"].alias("w1"), F.col("s")["1"].alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "w1", "w2")
        .limit(1)
    )


def _bpe_apply(seqs: DataFrame, top: DataFrame) -> DataFrame:
    """Apply one merge corpus-wide: greedy left-to-right
    non-overlapping replacement of the top pair in every sequence.

    All windows are PARTITIONED BY doc_id (documents are bounded
    length — no global window); the 1-row top pair rides a broadcast
    crossJoin; the rebuild groupBy reuses the window's doc_id hash
    partitioning (no extra exchange)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    t = (
        seqs.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
        .crossJoin(F.broadcast(top.select("w1", "w2")))
        .withColumn("ltok", F.lead("tok").over(w))
        .withColumn(
            "mt",
            F.coalesce(
                (F.col("tok") == F.col("w1"))
                & (F.col("ltok") == F.col("w2")),
                F.lit(False),
            ),
        )
    )
    # run start = last non-match position + 1 (0-based explode ⇒
    # default 0); merge at even offsets from the run start — exactly
    # the sequential greedy scan, but one bounded window instead
    g = t.withColumn(
        "rs",
        F.coalesce(
            F.max(F.when(~F.col("mt"), F.col("pos"))).over(w_run) + 1,
            F.lit(0),
        ),
    ).withColumn(
        "mg", F.col("mt") & ((F.col("pos") - F.col("rs")) % 2 == 0)
    )
    kept = g.withColumn(
        "pm", F.coalesce(F.lag("mg").over(w), F.lit(False))
    ).filter(~F.col("pm"))
    return kept.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "pos",
                        F.when(
                            F.col("mg"),
                            F.concat(F.col("tok"), F.col("ltok")),
                        )
                        .otherwise(F.col("tok"))
                        .alias("newtok"),
                    )
                )
            ),
            lambda s: s["newtok"],
        ).alias("toks")
    )


@query("docs_bpe_train_merges", _BPE_TRAIN_ORACLE)
def q_docs_bpe_train_merges(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """3-round BPE trainer over the corpus: each round counts adjacent
    token pairs, picks the single most frequent (n DESC, pair ASC
    tie-break), and MERGES it everywhere before the next count →
    (merge_round, pair, n). Completes the tokenizer-prep story that
    bpe_pair_merges (round 1's candidate table only) opens; a single
    misplaced merge anywhere in the corpus changes later rounds'
    winners, so the hash check covers the apply step, not just the
    counts.

    Scale shape: 3 unrolled supersteps; per round one explode + one
    map-side-combined pair-count shuffle + TakeOrderedAndProject(1) +
    doc_id-partitioned windows (bounded by document length, never
    global) + a rebuild groupBy that reuses the window's hash
    partitioning. The winning pair is a 1-row broadcast. Linear in
    corpus size per round; rounds are a fixed constant (real trainers
    run this loop to vocab size — the shape per round is identical).
    """
    # r15: spread the single-row-group scan so round 1's explode +
    # pair count is not one task (guide §2.5; later rounds are already
    # doc_id-partitioned by the rebuild windows).
    seqs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", TX.tokens("text").alias("toks")
    )
    outs = []
    for k in range(1, _BPE_ROUNDS + 1):
        top = _bpe_top_pair(seqs)
        outs.append(
            top.select(
                F.lit(k).cast("bigint").alias("merge_round"),
                F.concat_ws(" ", "w1", "w2").alias("pair"),
                F.col("n").cast("bigint").alias("n"),
            )
        )
        if k < _BPE_ROUNDS:
            # pin each rebuilt corpus: without the lineage cut, round
            # k's pair count AND round k+1's rebuild would each replay
            # every earlier round's windows (the recompute grows with
            # round depth — the superstep checkpoint idiom of
            # operators/graph.py)
            seqs = _bpe_apply(seqs, top).localCheckpoint(eager=False)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# -- URL-canonicalization dedup + per-domain caps ----------------------------
# The crawl-curation step between raw fetch and content dedup: the
# same page is fetched under tracking params / fragments / case
# variants; canonicalize, keep ONE doc per canonical URL, then cap
# each domain's contribution (boilerplate farms otherwise dominate
# the mixture). documents has no url column, so one is SYNTHESIZED
# deterministically (host from source, path from md5(text) — coarse
# 2-hex-char paths so canonical collisions actually occur at test
# scale, variant decoration from doc_id % 4).

_URL_CAP = 5


_URL_DEDUP_ORACLE = f"""
WITH u AS (
    SELECT doc_id, n_chars,
           CASE doc_id % 4
             WHEN 0 THEN 'https://www.' || source || '.com/'
                         || substr(md5(text), 1, 2)
             WHEN 1 THEN 'https://www.' || source || '.com/'
                         || substr(md5(text), 1, 2) || '?utm_source=feed'
             WHEN 2 THEN 'https://www.' || source || '.com/'
                         || substr(md5(text), 1, 2) || '#section-2'
             ELSE 'HTTPS://WWW.' || upper(source) || '.COM/'
                  || substr(md5(text), 1, 2) || '/'
           END AS raw_url
    FROM documents
),
n AS (
    SELECT doc_id, n_chars,
           regexp_replace(
               regexp_replace(
                   regexp_replace(lower(raw_url), '[?#].*$', ''),
                   '/$', ''),
               '^https://www\\.', 'https://') AS norm_url
    FROM u
),
d AS (
    SELECT doc_id, n_chars, norm_url,
           regexp_extract(norm_url, '^https://([^/]+)', 1) AS domain
    FROM n
),
kept_url AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY norm_url ORDER BY doc_id) AS rn
        FROM d
    ) WHERE rn = 1
),
capped AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY domain
            ORDER BY n_chars DESC, doc_id) AS rk
        FROM kept_url
    ) WHERE rk <= {_URL_CAP}
),
raw_agg AS (
    SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(COUNT(DISTINCT norm_url) AS BIGINT) AS n_urls
    FROM d GROUP BY 1
),
cap_agg AS (
    SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum
    FROM capped GROUP BY 1
)
SELECT domain, n_raw, n_urls, n_kept, kept_id_sum
FROM raw_agg JOIN cap_agg USING (domain)
"""


@query("docs_url_dedup_cap", _URL_DEDUP_ORACLE)
def q_docs_url_dedup_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup + per-domain cap funnel:
    (domain, n_raw, n_urls, n_kept, kept_id_sum). Canonicalization
    lower-cases, strips query/fragment, trailing slash, and the
    'www.' host prefix; one survivor per canonical URL (min doc_id —
    the crawl's canonical fetch); then each domain contributes at
    most 5 docs ranked by length (n_chars DESC, doc_id
    tie-break). kept_id_sum pins the EXACT survivor set in the hash,
    not just its size.

    Scale shape: two key shuffles (canonical URL, then domain); both
    row_number windows are PARTITIONED (URL groups are variant-bounded,
    domain top-k compiles to WindowGroupLimit pre-shuffle heaps);
    COUNT(DISTINCT) is two-phase partial aggregation. Linear; no
    global window, no collect.
    """
    d0 = load_table(spark, sf_dir, "documents")
    path = F.substring(F.md5(F.col("text")), 1, 2)
    base = F.concat(
        F.lit("https://www."), F.col("source"), F.lit(".com/"), path
    )
    raw = (
        F.when(F.col("doc_id") % 4 == 0, base)
        .when(F.col("doc_id") % 4 == 1,
              F.concat(base, F.lit("?utm_source=feed")))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(base, F.lit("#section-2")))
        .otherwise(
            F.concat(
                F.lit("HTTPS://WWW."),
                F.upper(F.col("source")),
                F.lit(".COM/"),
                path,
                F.lit("/"),
            )
        )
    )
    norm = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(raw), r"[?#].*$", ""), r"/$", ""
        ),
        r"^https://www\.",
        "https://",
    )
    d = d0.select(
        "doc_id",
        "n_chars",
        norm.alias("norm_url"),
    ).withColumn(
        "domain", F.regexp_extract("norm_url", r"^https://([^/]+)", 1)
    )
    w_url = Window.partitionBy("norm_url").orderBy("doc_id")
    kept_url = (
        d.withColumn("rn", F.row_number().over(w_url))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    w_dom = Window.partitionBy("domain").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    capped = (
        kept_url.withColumn("rk", F.row_number().over(w_dom))
        .filter(F.col("rk") <= _URL_CAP)
    )
    raw_agg = d.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("n_raw"),
        F.countDistinct("norm_url").cast("bigint").alias("n_urls"),
    )
    cap_agg = capped.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
    )
    return raw_agg.join(cap_agg, "domain")


# -- Cross-snapshot incremental curation diff --------------------------------
# table_diff_audit proves a merge applied cleanly at row level; the
# curation counterpart answers "what did the refresh do to my TRAINING
# SET": which docs entered/left the corpus between two snapshots, and
# how did the quality gate's verdict move for docs whose content
# changed. Snapshots derive deterministically from the one documents
# table (old: doc_id % 10 != 3; new: doc_id % 10 != 7 with %10==1 docs
# re-crawled, i.e. text appended).

_SNAP_GATE_LEN = 200


_SNAP_GATE_WC = 30


_SNAP_DIFF_ORACLE = rf"""
WITH old AS (
    SELECT doc_id, source, text FROM documents WHERE doc_id % 10 <> 3
),
new AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 10 = 1
                THEN text || ' updated after recrawl'
                ELSE text END AS text
    FROM documents WHERE doc_id % 10 <> 7
),
og AS (
    SELECT doc_id, source, text,
           CAST(length(text) >= {_SNAP_GATE_LEN}
                AND len(regexp_split_to_array(trim(text), '\s+'))
                    >= {_SNAP_GATE_WC} AS INT) AS old_pass
    FROM old
),
ng AS (
    SELECT doc_id, source, text,
           CAST(length(text) >= {_SNAP_GATE_LEN}
                AND len(regexp_split_to_array(trim(text), '\s+'))
                    >= {_SNAP_GATE_WC} AS INT) AS new_pass
    FROM new
),
j AS (
    SELECT COALESCE(og.source, ng.source) AS source,
           CASE WHEN og.doc_id IS NULL THEN 'added'
                WHEN ng.doc_id IS NULL THEN 'removed'
                WHEN og.text <> ng.text THEN 'changed'
                ELSE 'same' END AS change_type,
           og.old_pass, ng.new_pass
    FROM og FULL OUTER JOIN ng USING (doc_id)
)
SELECT source, change_type, old_pass, new_pass,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM j GROUP BY 1, 2, 3, 4
"""


@query("docs_snapshot_curation_diff", _SNAP_DIFF_ORACLE)
def q_docs_snapshot_curation_diff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-snapshot curation diff: per (source, change_type,
    old_pass, new_pass) document counts between two corpus snapshots,
    where change_type ∈ added/removed/changed/same and the pass flags
    are a deterministic quality gate (length >= 200 chars AND >= 30
    tokens) evaluated on each snapshot's own text. The refresh-audit a
    training pipeline runs before re-mixing: how many docs entered,
    left, and — for re-crawled content — flipped quality verdicts.

    Scale shape: ONE full-outer sort-merge join co-partitioned on
    doc_id (both gate projections are map-only), then one
    map-side-combined groupBy over a bounded key space (sources ×
    4 change types × 3x3 pass states). Linear; the gate never
    shuffles text.
    """
    d0 = load_table(spark, sf_dir, "documents")

    def gate(tcol):
        return (
            (F.length(tcol) >= _SNAP_GATE_LEN)
            & (F.size(F.split(F.trim(tcol), r"\s+")) >= _SNAP_GATE_WC)
        ).cast("int")

    old = d0.filter(F.col("doc_id") % 10 != 3).select(
        "doc_id",
        F.col("source").alias("o_source"),
        F.col("text").alias("o_text"),
        gate(F.col("text")).alias("old_pass"),
    )
    ntext = F.when(
        F.col("doc_id") % 10 == 1,
        F.concat(F.col("text"), F.lit(" updated after recrawl")),
    ).otherwise(F.col("text"))
    new = d0.filter(F.col("doc_id") % 10 != 7).select(
        "doc_id",
        F.col("source").alias("n_source"),
        ntext.alias("n_text"),
        gate(ntext).alias("new_pass"),
    )
    j = old.join(new, "doc_id", "full_outer").select(
        F.coalesce("o_source", "n_source").alias("source"),
        F.when(F.col("o_text").isNull(), F.lit("added"))
        .when(F.col("n_text").isNull(), F.lit("removed"))
        .when(F.col("o_text") != F.col("n_text"), F.lit("changed"))
        .otherwise(F.lit("same"))
        .alias("change_type"),
        "old_pass",
        "new_pass",
    )
    return j.groupBy(
        "source", "change_type", "old_pass", "new_pass"
    ).agg(F.count("*").cast("bigint").alias("n_docs"))


# -- CCNet perplexity buckets ------------------------------------------------
# docs_ccnet_buckets cuts on a log-free unigram commonness score; the
# actual CCNet criterion (Wenzek et al. 2020) buckets documents by the
# perplexity of an LM TRAINED ON A REFERENCE CORPUS (Wikipedia). Here
# the reference split is deterministic (doc_id % 11 == 0, the wiki
# proxy), the LM is a Laplace-smoothed bigram model, and every held-out
# doc is scored with the standard backoff for unseen events:
#   seen (w1,w2):  P = (cnt+1) / (lcnt+V)
#   seen w1 only:  P = 1 / (lcnt+V)
#   unseen w1:     P = 1 / V          (uniform over the LM vocab)
# Per-bigram log2 P quantizes to int64 micro-bits BEFORE aggregation
# (order-free exact sums — the text_unigram/bigram_logprob pattern);
# the tercile cutoffs come from the bounded-memory global quantile.

_PPL_REF_MOD = 11


_PPL_BUCKET_ORACLE = r"""
WITH w AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
),
rbg AS (
    SELECT w[i] AS w1, w[i+1] AS w2, COUNT(*) AS cnt
    FROM w, unnest(range(1, len(w))) AS t(i)
    WHERE doc_id % 11 = 0
    GROUP BY 1, 2
),
rl AS (SELECT w1, SUM(cnt) AS lcnt FROM rbg GROUP BY 1),
rv AS (
    SELECT COUNT(DISTINCT tok) AS v
    FROM (SELECT unnest(w) AS tok FROM w WHERE doc_id % 11 = 0)
),
hb AS (
    SELECT doc_id, w[i] AS w1, w[i+1] AS w2, COUNT(*) AS tf
    FROM w, unnest(range(1, len(w))) AS t(i)
    WHERE doc_id % 11 <> 0
    GROUP BY 1, 2, 3
),
lq AS (
    SELECT hb.doc_id, hb.tf,
           CAST(floor(log2(
               CASE WHEN rbg.cnt IS NOT NULL THEN
                        (CAST(rbg.cnt AS DOUBLE) + 1.0)
                        / (CAST(rl.lcnt AS DOUBLE) + CAST(rv.v AS DOUBLE))
                    WHEN rl.lcnt IS NOT NULL THEN
                        1.0 / (CAST(rl.lcnt AS DOUBLE) + CAST(rv.v AS DOUBLE))
                    ELSE 1.0 / CAST(rv.v AS DOUBLE) END
           ) * 1000000.0 + 0.5) AS BIGINT) AS lq
    FROM hb
    LEFT JOIN rbg USING (w1, w2)
    LEFT JOIN rl USING (w1)
    CROSS JOIN rv
),
sc AS (
    SELECT doc_id,
           CAST(floor(CAST(SUM(tf * lq) AS DOUBLE)
                      / CAST(SUM(tf) AS DOUBLE)) AS BIGINT) AS score
    FROM lq GROUP BY 1
),
cuts AS (
    SELECT quantile_cont(score, 1.0/3) AS t1,
           quantile_cont(score, 2.0/3) AS t2
    FROM sc
)
SELECT doc_id, score,
       CASE WHEN score < t1 THEN 'tail'
            WHEN score < t2 THEN 'middle'
            ELSE 'head' END AS bucket
FROM sc, cuts
"""


@query("docs_perplexity_bucket", _PPL_BUCKET_ORACLE)
def q_docs_perplexity_bucket(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet perplexity buckets proper (Wenzek et al. 2020): a
    Laplace-smoothed bigram LM is trained on the deterministic
    reference split (doc_id % 11 == 0 — the Wikipedia proxy), every
    held-out doc is scored by mean log2 P(w2|w1) with the standard
    unseen-event backoff (uniform 1/V for unseen contexts), and the
    corpus is cut at global terciles into head / middle / tail →
    (doc_id, score, bucket). Complements docs_ccnet_buckets, whose
    commonness score is the log-free stand-in.

    Determinism: per-bigram smoothed log-probs quantize to int64
    micro-bits before any aggregation; the per-doc mean is ONE double
    division floored back to int64; tercile cutoffs reproduce DuckDB's
    quantile_cont bit-for-bit via bucket_refine_quantiles.

    Scale shape: the LM is vocab-bounded (bigram-keyed aggregates,
    never collected); scoring is two key-shuffled joins on (w1,w2)
    and (w1); V is a 1-row broadcast; terciles are bounded-memory
    (no global sort). Linear in corpus size.
    """
    # (r15: a spread_scan head was A/B-measured at 2.97->3.25 s —
    # docs feeds three filtered branches, so the added exchange can
    # execute per branch — and reverted; see OPTIMIZATION_r15.md.)
    docs = load_table(spark, sf_dir, "documents")
    is_ref = F.col("doc_id") % _PPL_REF_MOD == 0

    def bigrams(df: DataFrame) -> DataFrame:
        toks = TX.tokens("text")
        cnt = F.size(toks) - 1
        z = F.arrays_zip(F.slice(toks, 1, cnt), F.slice(toks, 2, cnt))
        return df.select("doc_id", F.explode(z).alias("s")).select(
            "doc_id",
            F.col("s")["0"].alias("w1"),
            F.col("s")["1"].alias("w2"),
        )

    rbg = (
        bigrams(docs.filter(is_ref))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
    )
    rl = rbg.groupBy("w1").agg(F.sum("cnt").alias("lcnt"))
    rv = (
        docs.filter(is_ref)
        .select(F.explode(TX.tokens("text")).alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    hb = (
        bigrams(docs.filter(~is_ref))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("tf"))
    )
    denom = F.col("lcnt").cast("double") + F.col("v").cast("double")
    p = (
        F.when(
            F.col("cnt").isNotNull(),
            (F.col("cnt").cast("double") + F.lit(1.0)) / denom,
        )
        .when(F.col("lcnt").isNotNull(), F.lit(1.0) / denom)
        .otherwise(F.lit(1.0) / F.col("v").cast("double"))
    )
    lq = (
        hb.join(rbg, ["w1", "w2"], "left")
        .join(rl, ["w1"], "left")
        .crossJoin(F.broadcast(rv))
        .select(
            "doc_id",
            "tf",
            F.floor(F.log2(p) * F.lit(1_000_000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("lq"),
        )
    )
    sc = (
        lq.groupBy("doc_id")
        .agg(
            F.floor(
                F.sum(F.col("tf") * F.col("lq")).cast("double")
                / F.sum("tf").cast("double")
            )
            .cast("bigint")
            .alias("score")
        )
        .localCheckpoint(eager=False)
    )
    cuts = aggregate.bucket_refine_quantiles(
        sc, [], "score", {"t1": 1.0 / 3, "t2": 2.0 / 3},
        materialize=False,
    )
    return sc.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "score",
        F.when(F.col("score") < F.col("t1"), "tail")
        .when(F.col("score") < F.col("t2"), "middle")
        .otherwise("head")
        .alias("bucket"),
    )


# -- Graded decontamination: overlap fraction + severity band ----------------
# decontaminate_ngram is binary (≥1 shared 4-gram → flagged). Real
# decontamination policies grade: a doc sharing 1 of 500 n-grams is
# "touched" (keep, maybe down-weight); one sharing 30% is contaminated
# (drop). This query emits the per-doc overlap fraction and band.

_OVERLAP_FRAC_ORACLE = r"""
WITH w AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
),
ng AS (
    SELECT DISTINCT doc_id,
           w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3] AS ngram
    FROM w, unnest(range(1, len(w) - 2)) AS t(i)
),
ev AS (SELECT DISTINCT ngram FROM ng WHERE doc_id % 97 = 0),
tr AS (
    SELECT ng.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_ngrams,
           CAST(SUM(CASE WHEN ev.ngram IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits
    FROM ng LEFT JOIN ev USING (ngram)
    WHERE ng.doc_id % 97 <> 0
    GROUP BY 1
)
SELECT doc_id, n_ngrams, n_hits,
       CAST(floor(1000.0 * CAST(n_hits AS DOUBLE)
                  / CAST(n_ngrams AS DOUBLE)) AS BIGINT) AS permille,
       CASE WHEN n_hits = 0 THEN 'clean'
            WHEN 1000.0 * CAST(n_hits AS DOUBLE)
                 / CAST(n_ngrams AS DOUBLE) < 100.0 THEN 'touched'
            ELSE 'contaminated' END AS band
FROM tr
"""


@query("decontaminate_overlap_frac", _OVERLAP_FRAC_ORACLE)
def q_decontaminate_overlap_frac(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Graded benchmark decontamination: per training doc, the
    DISTINCT word-4-gram count, how many of those appear in the
    (deterministic doc_id%97) eval split, the overlap permille, and a
    severity band (clean / touched <10% / contaminated ≥10%) →
    (doc_id, n_ngrams, n_hits, permille, band). The policy knob
    decontaminate_ngram's binary flag can't express.

    Scale shape: the per-doc distinct n-gram count needs NO shuffle at
    all — array_distinct over the row's own shingle array (the per-doc
    dedup is row-local by construction). Only eval-admitted n-grams
    ever reach an exchange: the exploded distinct stream is cut by the
    broadcast eval set FIRST, then one doc_id-keyed count. The
    full corpus n-gram relation never shuffles (the
    operators/decontaminate.py invariant, kept).
    """
    # r15: spread the single-row-group scan before the per-doc shingle
    # HOFs (guide §2.5; no-op at scale — see catalog.spread_scan).
    docs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    is_eval = F.col("doc_id") % 97 == 0
    ev = (
        decontaminate.raw_ngrams(docs.filter(is_eval), 4)
        .select("ngram")
        .distinct()
    )
    sh = docs.filter(~is_eval).select(
        "doc_id",
        F.array_distinct(TX.word_shingles(TX.tokens("text"), 4)).alias(
            "sh"
        ),
    )
    base = sh.select(
        "doc_id", F.size("sh").cast("bigint").alias("n_ngrams")
    ).filter(F.col("n_ngrams") > 0)
    hits = (
        sh.select("doc_id", F.explode("sh").alias("ngram"))
        .join(F.broadcast(ev), "ngram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    j = base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_ngrams",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias(
            "n_hits"
        ),
    )
    frac = (
        F.lit(1000.0)
        * F.col("n_hits").cast("double")
        / F.col("n_ngrams").cast("double")
    )
    return j.select(
        "doc_id",
        "n_ngrams",
        "n_hits",
        F.floor(frac).cast("bigint").alias("permille"),
        F.when(F.col("n_hits") == 0, "clean")
        .when(frac < 100.0, "touched")
        .otherwise("contaminated")
        .alias("band"),
    )


# -- Multi-benchmark decontamination ------------------------------------------
# Production decontamination screens against MANY benchmarks at once
# (GPT-3 appendix C sweeps dozens). Scanning the corpus once per
# benchmark is the naive shape; the right one is a single pass against
# the UNION of tagged benchmark n-gram sets. Three deterministic eval
# splits stand in for three benchmarks.

_MB_SPLITS = (("b0", 97), ("b1", 89), ("b2", 83))


def _mb_oracle() -> str:
    ev_union = "\n    UNION ALL ".join(
        f"SELECT '{tag}' AS bench, ngram FROM ng WHERE doc_id % {m} = 0"
        for tag, m in _MB_SPLITS
    )
    not_eval = " AND ".join(f"doc_id % {m} <> 0" for _, m in _MB_SPLITS)
    hit_cols = ",\n       ".join(
        f"CAST(SUM(CASE WHEN bench = '{tag}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS hits_{tag}"
        for tag, _ in _MB_SPLITS
    )
    return f"""
WITH w AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
    FROM documents
),
ng AS (
    SELECT DISTINCT doc_id,
           w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3] AS ngram
    FROM w, unnest(range(1, len(w) - 2)) AS t(i)
),
ev AS (
    SELECT DISTINCT bench, ngram FROM (
    {ev_union}
    )
),
hits AS (
    SELECT ng.doc_id, ev.bench, ev.ngram
    FROM ng JOIN ev USING (ngram)
    WHERE {not_eval}
)
SELECT doc_id,
       {hit_cols},
       CAST(COUNT(DISTINCT bench) AS BIGINT) AS n_benchmarks_hit
FROM hits GROUP BY doc_id
"""


@query("decontaminate_multi_benchmark", _mb_oracle())
def q_decontaminate_multi_benchmark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Single-pass decontamination against THREE benchmarks (the
    deterministic doc_id % 97/89/83 eval splits): per training doc,
    the distinct overlapping 4-gram count per benchmark and how many
    benchmarks it touches → (doc_id, hits_b0, hits_b1, hits_b2,
    n_benchmarks_hit). The one-scan screening shape for a benchmark
    battery — never one corpus pass per benchmark.

    Scale shape: the tagged benchmark n-gram sets UNION into one
    broadcast relation (eval sets are tiny by definition); the corpus
    n-gram stream — per-doc deduped row-locally via array_distinct,
    no shuffle — is filtered by that broadcast FIRST, so the only
    exchange carries (doc, bench, admitted-ngram) rows. Adding a
    benchmark grows the broadcast, not the corpus-side cost.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh4 = F.array_distinct(TX.word_shingles(TX.tokens("text"), 4))
    ng = docs.select("doc_id", F.explode(sh4).alias("ngram"))
    ev = None
    for tag, m in _MB_SPLITS:
        e = (
            ng.filter(F.col("doc_id") % m == 0)
            .select(F.lit(tag).alias("bench"), "ngram")
            .distinct()
        )
        ev = e if ev is None else ev.unionByName(e)
    train = ng
    for _, m in _MB_SPLITS:
        train = train.filter(F.col("doc_id") % m != 0)
    hits = train.join(F.broadcast(ev), "ngram")
    aggs = [
        F.sum(F.when(F.col("bench") == tag, 1).otherwise(0))
        .cast("bigint")
        .alias(f"hits_{tag}")
        for tag, _ in _MB_SPLITS
    ]
    return hits.groupBy("doc_id").agg(
        *aggs,
        F.count_distinct("bench").cast("bigint").alias(
            "n_benchmarks_hit"
        ),
    )


# -- Cross-source duplication matrix ------------------------------------------
# Which sources mirror each other? Shared 10-word blocks (the
# dedup_paragraph unit — whole-doc exact dups are too rare to profile
# at small SF) broken down into source-pair co-occurrence counts —
# computed ARITHMETICALLY from per-block per-source tallies (c_a*c_b
# across sources, C(c,2) within), never by exploding pairs, so a
# million-copy boilerplate block costs one row per source it
# appears in.

_DUP_MATRIX_ORACLE = r"""
WITH tk AS (
    SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
),
blk AS (
    SELECT source,
           md5(array_to_string(list_slice(w, i*10 + 1, i*10 + 10), ' '))
               AS h
    FROM tk,
         unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS t(i)
),
g AS (
    SELECT h, source, CAST(COUNT(*) AS BIGINT) AS c
    FROM blk GROUP BY 1, 2
),
p AS (
    SELECT a.source AS source_a, b.source AS source_b,
           SUM(CASE WHEN a.source = b.source
                    THEN (a.c * (a.c - 1)) // 2
                    ELSE a.c * b.c END) AS n_pairs
    FROM g a JOIN g b
      ON a.h = b.h AND a.source <= b.source
    GROUP BY 1, 2
)
SELECT source_a, source_b, CAST(n_pairs AS BIGINT) AS n_pairs
FROM p WHERE n_pairs > 0
"""


@query("docs_dup_source_matrix", _DUP_MATRIX_ORACLE)
def q_docs_dup_source_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, the
    number of duplicated 10-word-block pairs (same block md5, the
    dedup_paragraph unit) spanning them — C(c,2) within a source,
    c_a*c_b across → (source_a, source_b, n_pairs). The provenance
    diagnostic behind per-source dedup policy: a hot off-diagonal
    cell means one source mirrors another's boilerplate and dedup
    survivorship should prefer the canonical one.

    Scale shape: one (block-hash, source) groupBy tallies copies; the
    per-hash self-join fans out at most |sources| rows per hash (never
    copies^2 — pair counts are closed-form from the tallies); the
    final groupBy is over a bounded |sources|^2 key space. The sort
    key is the fixed-width md5 digest, never the block text.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    nblk = F.ceil(F.size(toks) / F.lit(10)).cast("int")
    blocks = F.transform(
        F.sequence(F.lit(0), nblk - 1),
        lambda i: F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
    )
    blk = docs.select(
        "source", F.explode(blocks).alias("blk")
    ).select("source", F.md5("blk").alias("h"))
    g = blk.groupBy("h", "source").agg(
        F.count("*").cast("bigint").alias("c")
    )
    a = g.select(
        "h", F.col("source").alias("source_a"), F.col("c").alias("ca")
    )
    b = g.select(
        "h", F.col("source").alias("source_b"), F.col("c").alias("cb")
    )
    pairs = a.join(b, "h").filter(
        F.col("source_a") <= F.col("source_b")
    )
    # integer DIV, not float `/`: long/long in Spark (and DuckDB) is
    # double division, exact only below 2^53 — a block with ~1.35e8
    # within-source copies would silently round (r11-advisory fix)
    n = F.when(
        F.col("source_a") == F.col("source_b"),
        F.expr("(ca * (ca - 1)) DIV 2"),
    ).otherwise(F.col("ca") * F.col("cb"))
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.sum(n).cast("bigint").alias("n_pairs"))
        .filter(F.col("n_pairs") > 0)
    )


# -- DSIR Gumbel top-k selection ----------------------------------------------
# docs_dsir_weights scores; this SELECTS — the importance-resampling
# step of DSIR (Xie et al.): Gumbel top-k over the log-weights draws
# a without-replacement sample proportional to importance. The Gumbel
# noise is md5-derived (u = 52 md5 bits of doc_id / 2^52, G =
# -ln(-ln u)), so the draw is reproducible and oracle-checkable; keys
# are floor-quantized to micro-units before the rank cut so a sub-ulp
# libm divergence cannot flip the selection.

_GUMBEL_K = 64


_LN2 = "0.6931471805599453"  # ln 2 as a shared literal, never computed


_U_DENOM = "4503599627370496"  # 2^52


def _gumbel_oracle() -> str:

    head, tail = _DSIR_ORACLE.rsplit("SELECT b.doc_id,", 1)
    assert "GROUP BY 1" in tail  # splice point contract
    return (
        head
        + ", dw AS (\nSELECT b.doc_id,"
        + tail
        + f"""
),
g AS (
    SELECT doc_id, n_tokens,
           CAST(floor((dsir_logweight * {_LN2}e0
               - ln(-ln(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                        1, 13))::BIGINT
                        / {_U_DENOM}e0))) * 1000000.0) AS BIGINT)
               AS gumbel_key
    FROM dw
)
SELECT doc_id, n_tokens, gumbel_key
FROM g ORDER BY gumbel_key DESC, doc_id LIMIT {_GUMBEL_K}
"""
    )


@query("docs_dsir_gumbel_select", _gumbel_oracle())
def q_docs_dsir_gumbel_select(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DSIR importance RESAMPLING: Gumbel top-64 over the
    docs_dsir_weights log-weights → (doc_id, n_tokens, gumbel_key) —
    the actual selection step the weights exist for. Gumbel-key
    sampling (w + G, G = -ln(-ln u)) draws a without-replacement
    sample with inclusion odds proportional to importance; here u is
    md5-derived from doc_id, so the draw is a pure function of the
    corpus and both engines select the identical set.

    Determinism: the log2 weights convert to nats via a shared ln-2
    LITERAL (never a computed ln(2)); keys floor-quantize to integer
    micro-units BEFORE the rank cut, which shrinks the cross-engine
    flip risk to values landing within one ulp of a micro-unit
    boundary (~1e-10 per doc — same residual-risk posture as the
    other quantized-float oracles, not an impossibility); ties break
    on doc_id. Scale: one map-side expression on the weights relation +
    TakeOrderedAndProject — selection adds nothing to the DSIR
    scoring cost.
    """

    dw = q_docs_dsir_weights(spark, sf_dir)
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13),
            16,
            10,
        ).cast("bigint")
        / F.lit(float(_U_DENOM))
    )
    key = (
        F.floor(
            (
                F.col("dsir_logweight") * F.lit(float(_LN2))
                - F.log(-F.log(u))
            )
            * F.lit(1_000_000.0)
        )
        .cast("bigint")
        .alias("gumbel_key")
    )
    return (
        dw.select("doc_id", "n_tokens", key)
        .orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
        .limit(_GUMBEL_K)
    )


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
    toks = load_table(spark, sf_dir, "documents").select(
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
    placed = packing.pack_sequences(load_table(spark, sf_dir, "documents")).filter(
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
        load_table(spark, sf_dir, "documents")
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
    cnt = (
        textdup.window_digests(load_table(spark, sf_dir, "documents"), _SPECTRUM_ROUNDS)
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
    wins = textdup.window_digests(load_table(spark, sf_dir, "documents"), _SPECTRUM_ROUNDS)
    w = Window.partitionBy("k", "ha", "hb")
    flags = (
        wins.withColumn("cnt", F.count("*").over(w))
        .filter(F.col("cnt") >= 2)
        .select("doc_id", "k")
    )
    all_docs = load_table(spark, sf_dir, "documents").select("doc_id")
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
    docs = load_table(spark, sf_dir, "documents")
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
    docs = load_table(spark, sf_dir, "documents")
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
    SELECT CAST(unnest(range(1, {CURR_PHASES + 1})) AS BIGINT)
        AS phase
),
targets AS (
    SELECT phase,
           SQRT(CAST(phase AS DOUBLE) / {CURR_PHASES}.0e0)
               AS competence,
           CAST(CEIL(SQRT(CAST(phase AS DOUBLE)
                / {CURR_PHASES}.0e0) * n) AS BIGINT) AS want
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
    docs = load_table(spark, sf_dir, "documents")
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
        F.col("phase").cast("double") / F.lit(float(CURR_PHASES))
    )
    targets = (
        spark.range(1, CURR_PHASES + 1)
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
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
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
