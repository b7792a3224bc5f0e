r"""Text analysis queries: token statistics, normalization, PII
scrubbing, language identification, BPE tokenizers, n-gram language
models, keyword extraction (RAKE, PMI, TextRank) and lexical
retrieval (BM25, inverted index).

Cross-engine determinism contract (why the oracles hash-match):
- tokens  = split(trim(text), '\s+')  ≡ duckdb regexp_split_to_array
- hashes  = lowercase-hex md5/sha256 strings, min-reduced
  lexicographically — identical bytes in both engines
- ratios  = a single exact-int division to double
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table, spread_scan
from ..functions import text as TX
from ..operators import graph, indexing, textclean, textstats
from .queries_graph import _PR_Q, _PR_STEP
from .registry import query


@query(
    "text_ngram_topk",
    r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
),
bg AS (
    SELECT w[i] || ' ' || w[i+1] AS bigram
    FROM toks, unnest(range(1, len(w))) AS t(i)
),
counts AS (SELECT bigram, COUNT(*) AS n FROM bg GROUP BY 1)
SELECT bigram, n FROM (
    SELECT bigram, n,
           row_number() OVER (ORDER BY n DESC, bigram) AS rnk
    FROM counts
) WHERE rnk <= 10
""",
)
def q_text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-10 word bigrams: one explode + count shuffle +
    ``orderBy().limit(10)`` → TakeOrderedAndProject (per-partition
    10-heaps, driver merges 10 rows per partition — the distinct-
    bigram relation never funnels through one partition; tie-broken
    lexicographically)."""
    docs = load_table(spark, sf_dir, "documents")
    bg = docs.select(
        F.explode(TX.word_shingles(TX.tokens("text"), 2)).alias("bigram")
    )
    counts = bg.groupBy("bigram").agg(F.count("*").alias("n"))
    return (
        counts.orderBy(F.desc("n"), F.asc("bigram"))
        .limit(10)
        .select("bigram", "n")
    )


# -- shared oracle SQL fragments ------------------------------------------

_TOKS = r"""
toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
)"""


_SHINGLES = r"""
sh AS (
    SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM toks, unnest(range(1, len(w) - 1)) AS t(i)
)"""


# -- text analysis ---------------------------------------------------------


@query(
    "text_stats",
    r"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
           AS total_tokens
FROM documents GROUP BY 1
""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats by declared language."""
    return textstats.text_stats(load_table(spark, sf_dir, "documents"))


@query(
    "token_count",
    r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
            AS BIGINT) AS bpe_tokens
FROM documents
""",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counts per doc."""
    return textstats.token_counts(load_table(spark, sf_dir, "documents"))


@query(
    "lang_id",
    r"""
WITH scores AS (
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '\b(the|and|of)\b'))  AS s_en,
           len(regexp_extract_all(lower(text), '\b(der|und|die)\b')) AS s_de,
           len(regexp_extract_all(lower(text), '\b(le|la|et)\b'))    AS s_fr,
           len(regexp_extract_all(lower(text), '\b(el|los|que)\b'))  AS s_es
    FROM documents
)
SELECT doc_id,
       CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
            WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
            WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
            ELSE 'es' END AS lang_pred,
       CAST(greatest(s_en, s_de, s_fr, s_es) AS BIGINT) AS lang_score
FROM scores
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-n-gram language ID, fixed-precedence argmax."""
    return textstats.lang_id(load_table(spark, sf_dir, "documents"))


@query(
    "text_quality",
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
               / len(w) AS mean_token_len,
           CAST(len(list_filter(w,
                tok -> tok IN ('the','a','and','of','to','in'))) AS DOUBLE)
               / len(w) AS stopword_ratio,
           CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) AS DOUBLE)
               / greatest(charlen, 1) AS punct_ratio
    FROM t
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, mean_token_len,
       stopword_ratio, punct_ratio,
       (n >= 10 AND mean_token_len >= 2.0 AND mean_token_len <= 12.0
        AND stopword_ratio >= 0.01) AS is_quality
FROM m
""",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality heuristics per doc."""
    return textstats.quality_scores(load_table(spark, sf_dir, "documents"))


@query(
    "doc_fingerprint",
    f"""
WITH {_TOKS}, {_SHINGLES},
fp AS (SELECT doc_id, MIN(md5(shingle)) AS fingerprint FROM sh GROUP BY 1)
SELECT d.doc_id, fp.fingerprint
FROM documents d LEFT JOIN fp ON fp.doc_id = d.doc_id
""",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: min rolling (md5) hash over word
    3-shingles."""
    return textstats.fingerprints(load_table(spark, sf_dir, "documents"))


# -- text cleaning / filtering --------------------------------------------


@query(
    "text_normalize",
    f"""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text),
            '{textclean.CTRL_RE}', ' ', 'g'), '{textclean.WS_RE}', ' ', 'g'))
           AS norm_text,
       CAST(length(trim(regexp_replace(regexp_replace(lower(text),
            '{textclean.CTRL_RE}', ' ', 'g'), '{textclean.WS_RE}', ' ', 'g')))
           AS BIGINT) AS n_chars_norm
FROM documents
""",
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text form: lower, strip control chars, collapse
    whitespace (C4-style cleanup pass)."""
    return textclean.normalize(load_table(spark, sf_dir, "documents"))


_PII_ORACLE = f"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
            '{textclean.EMAIL_RE}', '<EMAIL>', 'g'),
            '{textclean.IPV4_RE}', '<IP>', 'g'),
            '{textclean.PHONE_RE}', '<PHONE>', 'g') AS redacted,
       CAST(len(regexp_extract_all(text, '{textclean.EMAIL_RE}')) AS BIGINT)
           AS n_emails,
       CAST(len(regexp_extract_all(text, '{textclean.IPV4_RE}')) AS BIGINT)
           AS n_ips,
       CAST(len(regexp_extract_all(text, '{textclean.PHONE_RE}')) AS BIGINT)
           AS n_phones
FROM documents
"""


@query("pii_redact", _PII_ORACLE)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: email/IPv4/phone redaction + per-doc counts."""
    return textclean.pii_redact(load_table(spark, sf_dir, "documents"))


@query(
    "text_repetition_filter",
    f"""
WITH {_TOKS},
base AS (
    SELECT doc_id, len(w) AS n, len(list_distinct(w)) AS nd FROM toks
),
bg AS (
    SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
    FROM toks, unnest(range(1, len(w))) AS t(i)
),
cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
top AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_bg FROM cnt GROUP BY 1)
SELECT b.doc_id,
       CAST(b.n AS BIGINT) AS n_tokens,
       CASE WHEN b.n > 0 THEN CAST(b.nd AS DOUBLE) / b.n
            ELSE 0.0 END AS distinct_ratio,
       COALESCE(CAST(t.top_c AS DOUBLE) / t.n_bg, 0.0) AS top_bigram_frac,
       (CASE WHEN b.n > 0 THEN CAST(b.nd AS DOUBLE) / b.n
             ELSE 0.0 END >= {textclean.MIN_DISTINCT_RATIO}
        AND COALESCE(CAST(t.top_c AS DOUBLE) / t.n_bg, 0.0)
            <= {textclean.MAX_TOP_BIGRAM_FRAC}) AS keep
FROM base b LEFT JOIN top t USING (doc_id)
""",
)
def q_text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate: distinct-token ratio + top-bigram
    fraction per doc."""
    return textclean.repetition(load_table(spark, sf_dir, "documents"))


@query(
    "text_rarity_score",
    r"""
WITH tok AS (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
    FROM documents
),
freq AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
tot AS (SELECT COUNT(*) AS t FROM tok)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(cnt) AS DOUBLE) / (COUNT(*) * MAX(t)) AS mean_freq
FROM tok JOIN freq USING (tok), tot
GROUP BY doc_id
""",
)
def q_text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency rarity score per doc: the mean corpus
    frequency of a doc's tokens (low = rare vocabulary) — the
    KenLM-style quality signal without the engine-divergent log().
    Shape = the wordcount join: explode tokens once, count per token,
    join counts back on the token key, one doc-keyed aggregate. Every
    quantity is an exact integer until ONE final double division, so
    scores hash identically (log() is deliberately avoided — libm vs
    JVM last-ulp differences would leak into the hash)."""
    docs = load_table(spark, sf_dir, "documents")

    tok = docs.select(
        "doc_id", F.explode(TX.tokens("text")).alias("tok")
    )
    freq = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    tot = tok.agg(F.count("*").alias("t"))
    return (
        tok.join(freq, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (
                F.sum("cnt").cast("double")
                / (F.count("*") * F.max("t"))
            ).alias("mean_freq"),
        )
    )


@query(
    "text_tfidf_topterms",
    r"""
WITH tok AS (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
    FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT COUNT(*) AS nd FROM documents)
SELECT doc_id, term, score FROM (
    SELECT tf.doc_id, tf.tok AS term,
           CAST(tf.tf * nd.nd AS DOUBLE) / df.df AS score,
           row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY CAST(tf.tf * nd.nd AS DOUBLE) / df.df DESC,
                        tf.tok
           ) AS rn
    FROM tf JOIN df USING (tok), nd
) WHERE rn <= 3
""",
)
def q_text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 distinctive terms by the log-free TF-IDF
    surrogate ``tf · N / df`` — exact integers until ONE double
    division, so scores and the rank cut hash identically. Shape:
    explode once, tf per (doc, term), df per term, join back, rank-
    limited window (WindowGroupLimit pre-shuffle heaps)."""
    docs = load_table(spark, sf_dir, "documents")

    tok = docs.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_rel = tf.groupBy("tok").agg(F.count("*").alias("df"))
    nd = docs.agg(F.count("*").alias("nd"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        tf.join(df_rel, "tok")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            F.col("tok").alias("term"),
            (
                (F.col("tf") * F.col("nd")).cast("double") / F.col("df")
            ).alias("score"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "score")
    )


@query(
    "text_inverted_index",
    r"""
WITH t AS (
    SELECT DISTINCT doc_id,
           unnest(regexp_split_to_array(trim(text), '\s+')) AS term
    FROM documents
)
SELECT term, COUNT(*) AS df,
       array_to_string((list(doc_id ORDER BY doc_id))[1:5], ',') AS postings
FROM t GROUP BY 1
""",
)
def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-posting inverted index (operators/indexing.py):
    exact df + first-5 postings per term, rank-limit-pushed so
    stopword terms never materialize full posting lists. Postings are
    emitted as a comma-joined string — the driver's value-hasher
    cannot hash array cells."""
    idx = indexing.inverted_index(load_table(spark, sf_dir, "documents"), k_postings=5)
    return idx.withColumn(
        "postings", F.concat_ws(",", F.col("postings"))
    )


_VOCAB_ORACLE = r"""
WITH tok AS (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
    FROM documents
),
freq AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
vocab AS (
    SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok) AS rn
        FROM freq
    ) WHERE rn <= 1000
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       COUNT(*) - COUNT(v.tok) AS n_oov,
       CAST(COUNT(*) - COUNT(v.tok) AS DOUBLE) / COUNT(*) AS oov_rate
FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY t.doc_id
"""


@query("tokenizer_vocab_coverage", _VOCAB_ORACLE)
def q_tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training prep: corpus top-1000 vocabulary (by
    frequency, deterministic tiebreak) and each document's
    out-of-vocabulary rate under it. (doc_id, n_tokens, n_oov,
    oov_rate).

    Scale shape: ONE token-keyed partial-agg shuffle for frequencies;
    the vocab cut is TakeOrderedAndProject (per-partition top-V heaps,
    driver merge of V-row candidates — never a global sort); the vocab
    relation (V rows) broadcasts back onto the token stream, and the
    per-doc rollup is the only other exchange. OOV rate is an exact
    integer division → hash-stable double.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    vocab = (
        freq.orderBy(F.desc("cnt"), "tok")
        .limit(1000)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (F.count("*") - F.count("in_vocab")).alias("n_oov"),
            (
                (F.count("*") - F.count("in_vocab")).cast("double")
                / F.count("*")
            ).alias("oov_rate"),
        )
    )


_CHAR_ENTROPY_ORACLE = r"""
WITH c AS (
    SELECT doc_id, string_split(text, '') AS cs FROM documents
),
d AS (
    SELECT doc_id, cs, len(cs) AS n,
           list_sort(list_distinct(cs)) AS ds
    FROM c
),
e AS (
    SELECT doc_id, n, len(ds) AS ndc,
           list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(
                       list_transform(ds, ch -> CAST(
                           len(list_filter(cs, x -> x = ch)) AS DOUBLE)),
                       c -> -(c / CAST(n AS DOUBLE))
                            * log2(c / CAST(n AS DOUBLE)))),
               (a, b) -> a + b) AS h
    FROM d
)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars_split,
       CAST(ndc AS BIGINT) AS n_distinct_chars,
       round(h, 6) AS entropy_bits,
       round(h, 6) < 2.0 AS low_entropy
FROM e
"""


@query("text_char_entropy", _CHAR_ENTROPY_ORACLE)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per doc (bits/char) with the
    < 2.0-bit degenerate-repetition flag — the cheapest garbage
    detector in the curation stack (run it FIRST at 100 TB: map-only,
    zero shuffle, prunes before any tokenize/hash pass). Entropy fold
    runs over sorted distinct chars so both engines add in the same
    order; round-then-compare pins the flag boundary."""
    return textstats.char_entropy(load_table(spark, sf_dir, "documents"))


# log2-probability quantization: 1e6 ≈ 6 decimal digits, then every
# cross-partition sum is EXACT int64 (order-free) instead of a float
# reduction whose result depends on partial-agg ordering.
LOGP_SCALE = 1_000_000


_UNIGRAM_LOGPROB_ORACLE = r"""
WITH tok AS (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
    FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
lm AS (SELECT tok, SUM(tf) AS cnt FROM tf GROUP BY 1),
tot AS (SELECT SUM(cnt) AS n_total, COUNT(*) AS v FROM lm),
lq AS (
    SELECT tok,
           CAST(floor(log2(CAST(cnt + 1 AS DOUBLE)
                           / CAST(n_total + v AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) AS lq
    FROM lm, tot
),
agg AS (
    SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
           SUM(tf.tf * lq.lq) AS slq
    FROM tf JOIN lq USING (tok)
    GROUP BY 1
)
SELECT doc_id, n_tokens,
       CAST(slq AS DOUBLE)
       / (1000000.0 * CAST(n_tokens AS DOUBLE)) AS mean_logp,
       CAST(slq AS DOUBLE)
       / (1000000.0 * CAST(n_tokens AS DOUBLE)) < -11.0 AS low_prob
FROM agg
"""


@query("text_unigram_logprob", _UNIGRAM_LOGPROB_ORACLE)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document scoring — the shape of the CCNet/KenLM
    perplexity filter with the corpus itself as the LM: token
    probability = (count+1)/(N+V) (add-one smoothed), document score
    = mean log2 p over its token instances, ``low_prob`` flags the
    improbable-token tail (boilerplate IDs, hex dumps, mangled
    encodings score far below prose).

    Determinism: per-token log-probs are quantized to int64 micro-bits
    (floor(log2(p)·1e6 + 0.5)) BEFORE any aggregation, so doc sums are
    exact integer adds in any partition order; ONE double division at
    the end. Scale: one explode, two key shuffles (doc-tf, corpus-lm),
    one tok-keyed join — all linear; the LM never collects to the
    driver. A production swap-in replaces lm with a broadcast KenLM
    table; every downstream shape is unchanged."""
    docs = load_table(spark, sf_dir, "documents")

    tok = docs.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    lm = tf.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    tot = lm.agg(
        F.sum("cnt").alias("n_total"), F.count("*").alias("v")
    )
    lq = lm.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(
            F.log2(
                (F.col("cnt") + 1).cast("double")
                / (F.col("n_total") + F.col("v")).cast("double")
            )
            * F.lit(float(LOGP_SCALE))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("lq"),
    )
    mean_logp = F.col("slq").cast("double") / (
        F.lit(float(LOGP_SCALE)) * F.col("n_tokens").cast("double")
    )
    return (
        tf.join(lq, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("lq")).alias("slq"),
        )
        .select(
            "doc_id",
            "n_tokens",
            mean_logp.alias("mean_logp"),
            (mean_logp < -11.0).alias("low_prob"),
        )
    )


# Zipf-fit quantization: 1e4 keeps every OLS moment sum exactly
# representable in BOTH int64 and double (max |xq·yq| ≈ 1.8e10, 200
# terms → cross-moments ≤ ~4e12, n·Sxy ≤ ~8e14 < 2^53).
ZIPF_SCALE = 10_000


ZIPF_TOPK = 200


_ZIPF_FIT_ORACLE = r"""
WITH tok AS (
    SELECT source,
           unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
    FROM documents
),
tfs AS (SELECT source, tok, COUNT(*) AS freq FROM tok GROUP BY 1, 2),
ranked AS (
    SELECT source, freq,
           row_number() OVER (PARTITION BY source
                              ORDER BY freq DESC, tok ASC) AS rnk
    FROM tfs
),
q AS (
    SELECT source,
           CAST(floor(log2(CAST(rnk AS DOUBLE)) * 10000.0 + 0.5)
                AS BIGINT) AS xq,
           CAST(floor(log2(CAST(freq AS DOUBLE)) * 10000.0 + 0.5)
                AS BIGINT) AS yq
    FROM ranked WHERE rnk <= 200
),
m AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
           SUM(xq) AS sx, SUM(yq) AS sy,
           SUM(xq * yq) AS sxy, SUM(xq * xq) AS sxx,
           SUM(yq * yq) AS syy
    FROM q GROUP BY 1
),
fit AS (
    SELECT source, n,
           CAST(n * sxy - sx * sy AS DOUBLE) AS cov,
           CAST(n * sxx - sx * sx AS DOUBLE) AS varx,
           CAST(n * syy - sy * sy AS DOUBLE) AS vary,
           CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
    FROM m WHERE n >= 10
)
SELECT source, n AS n_terms,
       round(cov / varx, 6) AS slope,
       round((syd - (cov / varx) * sxd)
             / (10000.0 * CAST(n AS DOUBLE)), 6) AS intercept,
       round((cov * cov) / (varx * vary), 6) AS r2
FROM fit
"""


@query("text_zipf_fit", _ZIPF_FIT_ORACLE)
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf's-law fit: OLS of log2(freq) on log2(rank)
    over each source's top-200 terms → (slope, intercept, r2). The
    vocabulary-health gauge for corpus intake: natural language sits
    near slope −1 with r² ≳ 0.9; template/boilerplate sources go flat
    (slope ≈ 0, every page repeats the same terms equally) and
    machine-generated ID soup goes steep-and-ragged (low r²). Compare
    slopes ACROSS sources to spot the feed that changed generators.

    Determinism: log2(rank)/log2(freq) quantize to int64 ten-thousandths
    up front; all five OLS moment sums are exact integer adds sized to
    stay under 2^53 (see ZIPF_SCALE note), cast to double only for the
    final slope/r² arithmetic — identical IEEE sequence both engines,
    rounded to 6. Scale: tf shuffle on (source, tok), top-200 rank cut
    per source (WindowGroupLimit pre-shuffle heaps), then a ≤200-row
    aggregate per source."""
    docs = load_table(spark, sf_dir, "documents")

    tok = docs.select(
        "source", F.explode(TX.tokens("text")).alias("tok")
    )
    tfs = tok.groupBy("source", "tok").agg(F.count("*").alias("freq"))
    w = Window.partitionBy("source").orderBy(
        F.desc("freq"), F.asc("tok")
    )
    scale = F.lit(float(ZIPF_SCALE))
    q = (
        tfs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= ZIPF_TOPK)
        .select(
            "source",
            F.floor(
                F.log2(F.col("rnk").cast("double")) * scale + F.lit(0.5)
            )
            .cast("bigint")
            .alias("xq"),
            F.floor(
                F.log2(F.col("freq").cast("double")) * scale + F.lit(0.5)
            )
            .cast("bigint")
            .alias("yq"),
        )
    )
    m = q.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
        F.sum(F.col("yq") * F.col("yq")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cov = (n * F.col("sxy") - sx * sy).cast("double")
    varx = (n * F.col("sxx") - sx * sx).cast("double")
    vary = (n * F.col("syy") - sy * sy).cast("double")
    return m.filter(n >= 10).select(
        "source",
        n.alias("n_terms"),
        F.round(cov / varx, 6).alias("slope"),
        F.round(
            (sy.cast("double") - (cov / varx) * sx.cast("double"))
            / (scale * n.cast("double")),
            6,
        ).alias("intercept"),
        F.round((cov * cov) / (varx * vary), 6).alias("r2"),
    )


# -- BPE pair-merge statistics ---------------------------------------------

_BPE_PAIRS_ORACLE = r"""
WITH w AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
),
p AS (
    SELECT w[i] || ' ' || w[i+1] AS pair
    FROM w, unnest(range(1, len(w))) AS t(i)
),
c AS (SELECT pair, COUNT(*) AS n FROM p GROUP BY 1)
SELECT pair, CAST(n AS BIGINT) AS n
FROM c ORDER BY n DESC, pair LIMIT 50
"""


@query("bpe_pair_merges", _BPE_PAIRS_ORACLE)
def q_bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE training iteration over the corpus: frequency of
    every ADJACENT token pair, top 50 by count — the merge-candidate
    table a tokenizer-training pipeline materializes each round
    (extends tokenizer_vocab_coverage's static-vocab view with the
    vocab-GROWTH signal). One shingle explode + one map-side-combined
    count shuffle + TakeOrderedAndProject — never a full sort."""
    toks = TX.tokens("text")
    pairs = load_table(spark, sf_dir, "documents").select(
        F.explode(TX.word_shingles(toks, 2)).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(50)
    )


# -- Bigram-LM document scoring --------------------------------------------
# Extends text_unigram_logprob one conditioning token deeper: score =
# mean log2 P(w2|w1) (MLE — every scored bigram exists in the corpus
# LM, count >= 1, so no smoothing is needed and log2 stays finite).
# Same int64 micro-bit quantization before any aggregation.

_BIGRAM_LOGPROB_ORACLE = r"""
WITH w AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
),
bg AS (
    SELECT doc_id, w[i] AS w1, w[i+1] AS w2
    FROM w, unnest(range(1, len(w))) AS t(i)
),
tf AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3),
cb AS (SELECT w1, w2, SUM(tf) AS cnt FROM tf GROUP BY 1, 2),
cl AS (SELECT w1, SUM(cnt) AS lcnt FROM cb GROUP BY 1),
lq AS (
    SELECT w1, w2,
           CAST(floor(log2(CAST(cnt AS DOUBLE) / CAST(lcnt AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) AS lq
    FROM cb JOIN cl USING (w1)
),
agg AS (
    SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
           SUM(tf.tf * lq.lq) AS slq
    FROM tf JOIN lq USING (w1, w2)
    GROUP BY 1
)
SELECT doc_id, n_bigrams,
       CAST(slq AS DOUBLE)
       / (1000000.0 * CAST(n_bigrams AS DOUBLE)) AS mean_logp
FROM agg
"""


@query("text_bigram_logprob", _BIGRAM_LOGPROB_ORACLE)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document scoring: mean log2 P(w2|w1) per doc under
    the corpus's own MLE bigram model — one conditioning token deeper
    than text_unigram_logprob, separating locally-fluent text from
    bag-of-plausible-words garbage (scrambled word salad keeps its
    unigram score but collapses here).

    Determinism: per-bigram conditional log-probs quantize to int64
    micro-bits before aggregation (exact order-free sums); ONE double
    division at the end. Scale: one shingle explode, two key shuffles
    (doc-bigram tf, corpus LM), one bigram-keyed join — linear, LM
    never collected."""
    toks = TX.tokens("text")
    # split() never yields an empty array, so cnt >= 0 and slice/zip
    # produce an empty zip (row dropped by explode) on <2-token docs
    cnt = F.size(toks) - 1
    z = F.arrays_zip(F.slice(toks, 1, cnt), F.slice(toks, 2, cnt))
    bg = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(z).alias("s"))
        .select(
            "doc_id",
            F.col("s")["0"].alias("w1"),
            F.col("s")["1"].alias("w2"),
        )
    )
    # (r15: localCheckpoint pins on tf and/or cb were interleaved-
    # A/B-measured at 1.3→1.8 s and REVERTED — the lineage-cut
    # relation loses stats, flipping downstream broadcasts to wider
    # joins, and the pin adds job boundaries; runtime exchange reuse
    # already dedups the repeated subtrees here. See OPTIMIZATION_
    # r15.md §14.)
    tf = bg.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("tf"))
    cb = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("cnt"))
    cl = cb.groupBy("w1").agg(F.sum("cnt").alias("lcnt"))
    lq = cb.join(cl, "w1").select(
        "w1",
        "w2",
        F.floor(
            F.log2(
                F.col("cnt").cast("double") / F.col("lcnt").cast("double")
            )
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("lq"),
    )
    agg = (
        tf.join(lq, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("lq")).alias("slq"),
        )
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        (
            F.col("slq").cast("double")
            / (F.lit(1_000_000.0) * F.col("n_bigrams").cast("double"))
        ).alias("mean_logp"),
    )


# -- Language-ID confusion matrix ------------------------------------------

_LANG_CONFUSION_ORACLE = r"""
WITH scores AS (
    SELECT doc_id, lang,
           len(regexp_extract_all(lower(text), '\b(the|and|of)\b'))  AS s_en,
           len(regexp_extract_all(lower(text), '\b(der|und|die)\b')) AS s_de,
           len(regexp_extract_all(lower(text), '\b(le|la|et)\b'))    AS s_fr,
           len(regexp_extract_all(lower(text), '\b(el|los|que)\b'))  AS s_es
    FROM documents
),
pred AS (
    SELECT doc_id, lang,
           CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                ELSE 'es' END AS lang_pred
    FROM scores
),
cm AS (
    SELECT lang, lang_pred, COUNT(*) AS n_docs FROM pred GROUP BY 1, 2
),
tot AS (SELECT lang, SUM(n_docs) AS t FROM cm GROUP BY 1)
SELECT cm.lang, cm.lang_pred, CAST(cm.n_docs AS BIGINT) AS n_docs,
       CAST(cm.n_docs AS DOUBLE) / CAST(t AS DOUBLE) AS row_share
FROM cm JOIN tot USING (lang)
"""


@query("lang_id_confusion", _LANG_CONFUSION_ORACLE)
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the declared ``lang`` column vs the
    marker-n-gram classifier (lang_id): (lang, lang_pred, n_docs,
    row_share) — the classifier-QA readout that decides whether the
    cheap language gate is trustworthy enough to route 100 TB of
    curation (precision per declared language at one glance). Two
    map-side-combined count shuffles over a <= |langs|^2 relation."""
    docs = load_table(spark, sf_dir, "documents")
    pred = textstats.lang_id(docs).select("doc_id", "lang_pred")
    cm = (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )
    tot = cm.groupBy("lang").agg(F.sum("n_docs").alias("t"))
    return cm.join(F.broadcast(tot), "lang").select(
        "lang",
        "lang_pred",
        "n_docs",
        (
            F.col("n_docs").cast("double") / F.col("t").cast("double")
        ).alias("row_share"),
    )


# -- Kneser-Ney bigram scoring ----------------------------------------------
# The production-grade LM quality signal: absolute discounting (D=0.75)
# with CONTINUATION-probability backoff (Kneser & Ney '95). MLE
# (text_bigram_logprob) overrates memorized frequent pairs;
# KN's continuation term asks "in how many contexts does this word
# appear" — the score that separates genuinely fluent text from
# high-frequency-collocation stuffing. Every scored bigram exists in
# the corpus (cnt >= 1 > D), so probabilities stay finite with no max().

_KN_LOGPROB_ORACLE = r"""
WITH w AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
),
bg AS (
    SELECT doc_id, w[i] AS w1, w[i+1] AS w2
    FROM w, unnest(range(1, len(w))) AS t(i)
),
tf AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3),
cb AS (SELECT w1, w2, SUM(tf) AS cnt FROM tf GROUP BY 1, 2),
cl AS (SELECT w1, SUM(cnt) AS lcnt FROM cb GROUP BY 1),
n1f AS (SELECT w1, COUNT(*) AS nf FROM cb GROUP BY 1),
n1p AS (SELECT w2, COUNT(*) AS np FROM cb GROUP BY 1),
tot AS (SELECT COUNT(*) AS b FROM cb),
lq AS (
    SELECT cb.w1, cb.w2,
           CAST(floor(log2(
               (CAST(cnt AS DOUBLE) - 0.75e0) / CAST(lcnt AS DOUBLE)
               + 0.75e0 * CAST(nf AS DOUBLE) / CAST(lcnt AS DOUBLE)
                 * (CAST(np AS DOUBLE) / CAST(b AS DOUBLE))
           ) * 1000000.0 + 0.5) AS BIGINT) AS lq
    FROM cb
    JOIN cl USING (w1)
    JOIN n1f USING (w1)
    JOIN n1p USING (w2)
    CROSS JOIN tot
),
agg AS (
    SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
           SUM(tf.tf * lq.lq) AS slq
    FROM tf JOIN lq ON tf.w1 = lq.w1 AND tf.w2 = lq.w2
    GROUP BY 1
)
SELECT doc_id, n_bigrams,
       CAST(slq AS DOUBLE)
       / (1000000.0 * CAST(n_bigrams AS DOUBLE)) AS mean_kn_logp
FROM agg
"""


@query("text_bigram_kn_logprob", _KN_LOGPROB_ORACLE)
def q_text_bigram_kn_logprob(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kneser-Ney smoothed bigram document scoring: mean log2
    P_KN(w2|w1) per doc with D=0.75 absolute discounting and
    continuation-probability backoff → (doc_id, n_bigrams,
    mean_kn_logp). The serious LM-quality member of the text-signal
    family — MLE (text_bigram_logprob) overrates memorized frequent
    pairs; the continuation term scores how PROMISCUOUSLY a word
    combines, the classic fix.

    Determinism: the KN probability is one identically-bracketed
    double expression in both engines over exact integer counts
    (discount 0.75 and all divisions exact-input); per-bigram log2
    quantizes to int64 micro-bits BEFORE aggregation (order-free
    sums), ONE double division at the end. Scale: the four model
    relations (pair counts, left counts, fan-out, fan-in) are
    map-side-combined shuffles on w1/w2; the 1-row bigram total
    broadcasts; scoring is one bigram-keyed join — linear, the LM
    never leaves the executors."""
    toks = TX.tokens("text")
    cnt_ = F.size(toks) - 1
    z = F.arrays_zip(F.slice(toks, 1, cnt_), F.slice(toks, 2, cnt_))
    bg = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(z).alias("s"))
        .select(
            "doc_id",
            F.col("s")["0"].alias("w1"),
            F.col("s")["1"].alias("w2"),
        )
    )
    # (r15: localCheckpoint pins on tf and/or cb were interleaved-
    # A/B-measured at 1.5→2.2 s and REVERTED — same cause as
    # text_bigram_logprob's note; see OPTIMIZATION_r15.md §14.)
    tf = bg.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("tf"))
    cb = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("cnt"))
    cl = cb.groupBy("w1").agg(F.sum("cnt").alias("lcnt"))
    n1f = cb.groupBy("w1").agg(F.count("*").alias("nf"))
    n1p = cb.groupBy("w2").agg(F.count("*").alias("np"))
    tot = cb.agg(F.count("*").alias("b"))
    p_kn = (
        (F.col("cnt").cast("double") - F.lit(0.75))
        / F.col("lcnt").cast("double")
        + F.lit(0.75)
        * F.col("nf").cast("double")
        / F.col("lcnt").cast("double")
        * (F.col("np").cast("double") / F.col("b").cast("double"))
    )
    lq = (
        cb.join(cl, "w1")
        .join(n1f, "w1")
        .join(n1p, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.floor(F.log2(p_kn) * F.lit(1_000_000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("lq"),
        )
    )
    agg = (
        tf.join(lq, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("lq")).alias("slq"),
        )
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        (
            F.col("slq").cast("double")
            / (F.lit(1_000_000.0) * F.col("n_bigrams").cast("double"))
        ).alias("mean_kn_logp"),
    )


# -- BM25 retrieval ----------------------------------------------------------
# The sparse-retrieval complement of the dense ANN family (Robertson &
# Zaragoza '09): query-by-example BM25 over the corpus inverted index,
# k1=1.2, b=0.75. Per-(doc, term) scores quantize to int64 micro-bits
# BEFORE the per-doc sum (the repo's order-free float contract), so
# the ranking hash-checks.

_BM25_CTES = r"""
toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
    FROM documents
),
tf AS (
    SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
    FROM toks GROUP BY 1, 2
),
dl AS (
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS len FROM tf GROUP BY 1
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS avglen
    FROM dl
),
df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
q AS (
    SELECT DISTINCT w FROM toks
    WHERE doc_id = (SELECT MIN(doc_id) FROM documents)
),
scored AS (
    SELECT tf.doc_id,
           CAST(floor(
               log2((CAST(n - df.df AS DOUBLE) + 0.5e0)
                    / (CAST(df.df AS DOUBLE) + 0.5e0) + 1e0)
               * (CAST(tf.tf AS DOUBLE) * 2.2e0)
               / (CAST(tf.tf AS DOUBLE)
                  + 1.2e0 * (0.25e0 + 0.75e0 * CAST(dl.len AS DOUBLE)
                                      / avglen))
               * 1000000.0 + 0.5) AS BIGINT) AS s
    FROM tf
    JOIN q ON q.w = tf.w
    JOIN df ON df.w = tf.w
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats
)
"""


_BM25_ORACLE = f"""
WITH {_BM25_CTES}
SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score_ubits
FROM scored GROUP BY 1
ORDER BY score_ubits DESC, doc_id LIMIT 10
"""


@query("text_bm25_search", _BM25_ORACLE)
def q_text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 query-by-example retrieval: the min-doc_id document's
    terms score the whole corpus through the inverted index (k1=1.2,
    b=0.75, BM25+ idf), top-10 → (doc_id, score_ubits). The SPARSE
    retrieval primitive the dense family (sim_topk*, IVF, PQ) needs
    beside it — lexical recall catches what embedding recall misses,
    and hybrid search is just a score join of the two.

    Determinism: per-(doc, term) BM25 terms are identically-bracketed
    doubles over exact counts, quantized to int64 micro-bits BEFORE
    the per-doc sum; ranking on the exact int. Shape: tf/df/length
    relations are map-side-combined token shuffles (the inverted
    index); the query-term relation is tiny and broadcast; corpus
    never sees a cross join; final cut is TakeOrderedAndProject. At
    100 TB tf/df/dl are the write-once index artifacts and a query
    touches only its terms' postings."""
    return _bm25_scored(spark, sf_dir).orderBy(
        F.desc("score_ubits"), F.asc("doc_id")
    ).limit(10)


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BM25 score relation (doc_id, score_ubits) for the
    min-doc_id query — shared by text_bm25_search (top-10 cut) and
    search_hybrid_rrf (rank fusion)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(TX.tokens("text")).alias("w"))
    # r15 (guide §2.4): tf — the inverted index — feeds FOUR consumers
    # (dl, stats via dl, df, scored) plus the query-term pick below.
    # Unpinned, each consumer's plan embeds its own tokenize + count
    # subtree with branch-specific column pruning, so runtime exchange
    # reuse cannot collapse them and the corpus was tokenized 5× (16
    # document scans in plans/r15/text_bm25_search_before.txt). Pinning
    # tf makes the corpus pass execute exactly once; everything
    # downstream reads the materialized (doc_id, w, tf) relation — at
    # 100 TB this is ONE corpus pass instead of five.
    tf = (
        toks.groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint()
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("len"))
    stats = dl.agg(
        F.count("*").alias("n"),
        (F.sum("len").cast("double") / F.count("*").cast("double")).alias(
            "avglen"
        ),
    )
    df = tf.groupBy("w").agg(F.count("*").alias("df"))
    qmin = docs.agg(F.min("doc_id").alias("qid"))
    # query terms from the pinned tf, not a fresh tokenize: tf rows
    # are distinct per (doc_id, w) by construction, so selecting the
    # min-doc's w IS the old toks.distinct() term set.
    q = (
        tf.join(F.broadcast(qmin), tf["doc_id"] == F.col("qid"))
        .select("w")
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    term = F.floor(
        F.log2(
            ((F.col("n") - F.col("df")).cast("double") + F.lit(0.5))
            / (d("df") + F.lit(0.5))
            + F.lit(1.0)
        )
        * (d("tf") * F.lit(2.2))
        / (
            d("tf")
            + F.lit(1.2)
            * (F.lit(0.25) + F.lit(0.75) * d("len") / F.col("avglen"))
        )
        * F.lit(1_000_000.0)
        + F.lit(0.5)
    ).cast("bigint")
    scored = (
        tf.join(F.broadcast(q), "w")
        .join(F.broadcast(df.join(F.broadcast(q), "w")), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term.alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("s").cast("bigint").alias("score_ubits")
    )


# -- RAKE keyword extraction ------------------------------------------------
# Rapid Automatic Keyword Extraction (Rose et al. 2010): candidate
# phrases are maximal stopword-free token runs; word score =
# degree/frequency where degree sums the lengths of the phrases the
# word appears in (self included); phrase score = sum of member word
# scores. Word scores are exact integer ratios quantized by FLOOR
# integer division (both engines use floor-div on non-negative ints),
# so phrase sums are order-free int64 adds.

_RAKE_SCALE = 1_048_576


_RAKE_MAXLEN = 3


_RAKE_TOPK = 20


_RAKE_ORACLE = rf"""
WITH ts AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
    FROM documents
),
tok AS (
    SELECT doc_id, i AS pos, a[i] AS tok
    FROM ts, unnest(range(1, len(a) + 1)) AS r(i)
),
seg AS (
    SELECT doc_id, pos, tok,
           tok IN ('the','a','and','of','to','in') AS is_stop,
           SUM(CASE WHEN tok IN ('the','a','and','of','to','in')
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS seg
    FROM tok
),
ph AS (
    SELECT doc_id, seg,
           string_agg(tok, ' ' ORDER BY pos) AS phrase,
           COUNT(*) AS n_words
    FROM seg WHERE NOT is_stop
    GROUP BY 1, 2
    HAVING COUNT(*) BETWEEN 1 AND {_RAKE_MAXLEN}
),
pw AS (
    SELECT doc_id, seg, phrase, n_words,
           unnest(string_split(phrase, ' ')) AS w
    FROM ph
),
ws AS (
    SELECT w, COUNT(*) AS freq, SUM(n_words) AS deg
    FROM pw GROUP BY 1
),
wq AS (SELECT w, (deg * {_RAKE_SCALE}) // freq AS wq FROM ws),
inst AS (
    SELECT pw.doc_id, pw.seg, pw.phrase, pw.n_words,
           SUM(wq.wq) AS sq
    FROM pw JOIN wq ON pw.w = wq.w
    GROUP BY 1, 2, 3, 4
)
SELECT phrase, CAST(n_words AS BIGINT) AS n_words,
       CAST(COUNT(*) AS BIGINT) AS n_occur,
       CAST(sq AS DOUBLE) / {_RAKE_SCALE}.0 AS rake_score
FROM inst
GROUP BY phrase, n_words, sq
ORDER BY sq DESC, n_occur DESC, phrase
LIMIT {_RAKE_TOPK}
"""


@query("text_rake_keywords", _RAKE_ORACLE)
def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction over the corpus: stopword-delimited
    candidate phrases (length <= 3), word score = degree/frequency,
    phrase score = sum of member word scores, global top-20 phrases.
    The classic unsupervised keyworder — in a curation stack it
    surfaces the corpus's dominant multi-word topics without an LM.

    Determinism: word scores are (deg*2^20) DIV freq — exact floor
    integer division on non-negative int64 in both engines — so every
    downstream sum is an order-free integer add; ONE double division
    at the end. Scale: one posexplode, token-key shuffles only
    (segment ids are a per-doc window over positions, partitioned by
    doc_id); the word-score relation is vocabulary-sized and the
    top-20 lands in TakeOrderedAndProject — nothing collects."""

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(TX.tokens("text")).alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    is_stop = F.col("tok").isin(*TX.STOPWORDS)
    w = Window.partitionBy("doc_id").orderBy("pos")
    seg = tok.select(
        "doc_id",
        "pos",
        "tok",
        is_stop.alias("is_stop"),
        F.sum(is_stop.cast("bigint")).over(w).alias("seg"),
    )
    ph = (
        seg.filter(~F.col("is_stop"))
        .groupBy("doc_id", "seg")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.count("*").alias("n_words"),
        )
        .filter(F.col("n_words").between(1, _RAKE_MAXLEN))
    )
    pw = ph.select(
        "doc_id",
        "seg",
        "phrase",
        "n_words",
        F.explode(F.split(F.col("phrase"), " ")).alias("w"),
    )
    ws = pw.groupBy("w").agg(
        F.count("*").alias("freq"), F.sum("n_words").alias("deg")
    )
    wq = ws.select(
        "w",
        F.expr(f"(deg * {_RAKE_SCALE}) div freq").alias("wq"),
    )
    inst = pw.join(wq, "w").groupBy(
        "doc_id", "seg", "phrase", "n_words"
    ).agg(F.sum("wq").alias("sq"))
    return (
        inst.groupBy("phrase", "n_words", "sq")
        .agg(F.count("*").cast("bigint").alias("n_occur"))
        .select(
            "phrase",
            F.col("n_words").cast("bigint").alias("n_words"),
            "n_occur",
            (F.col("sq").cast("double") / F.lit(float(_RAKE_SCALE)))
            .alias("rake_score"),
            "sq",
        )
        .orderBy(F.desc("sq"), F.desc("n_occur"), F.asc("phrase"))
        .limit(_RAKE_TOPK)
        .drop("sq")
    )


# -- PMI collocations -------------------------------------------------------
# Pointwise mutual information over adjacent token bigrams (Church &
# Hanks 1990): pmi(x,y) = log2(c(xy)*N / (c(x)*c(y))) with N the
# total token count. The classic collocation surfacer — in a curation
# stack it exposes boilerplate word pairs and domain phrases. The
# score is ONE double expression evaluated in the identical operation
# order in both engines (two exact int64->double products, one IEEE
# division, one log2), then quantized to int64 micro-bits as the
# ranking key, so the top-20 is hash-stable.

_PMI_MINC = 5


_PMI_TOPK = 20


_PMI_ORACLE = rf"""
WITH ts AS (
    SELECT regexp_split_to_array(trim(text), '\s+') AS a
    FROM documents
),
uni AS (SELECT unnest(a) AS tok FROM ts),
uc AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY 1),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uc),
bg AS (
    SELECT a[i] AS w1, a[i + 1] AS w2
    FROM ts, unnest(range(1, len(a))) AS r(i)
),
bc AS (
    SELECT w1, w2, COUNT(*) AS cxy
    FROM bg GROUP BY 1, 2
    HAVING COUNT(*) >= {_PMI_MINC}
),
sc AS (
    SELECT w1, w2, cxy,
           CAST(floor(log2((CAST(cxy AS DOUBLE) * CAST(n.n AS DOUBLE))
                           / (CAST(u1.c AS DOUBLE)
                              * CAST(u2.c AS DOUBLE)))
                      * 1000000.0 + 0.5) AS BIGINT) AS pq
    FROM bc
    CROSS JOIN n
    JOIN uc u1 ON bc.w1 = u1.tok
    JOIN uc u2 ON bc.w2 = u2.tok
)
SELECT w1, w2, CAST(cxy AS BIGINT) AS n_pair,
       CAST(pq AS DOUBLE) / 1000000.0 AS pmi
FROM sc
ORDER BY pq DESC, cxy DESC, w1, w2
LIMIT {_PMI_TOPK}
"""


@query("text_pmi_collocations", _PMI_ORACLE)
def q_text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-bigram collocations by pointwise mutual
    information, with a min-count floor of 5 occurrences. PMI ranks
    pairs that co-occur far more than their unigram frequencies
    predict — the standard boilerplate/phrase detector run before
    tokenizer training.

    Determinism: pmi = log2((cxy*N)/(c1*c2)) is one fixed-order
    double expression over exact integer counts, quantized to int64
    micro-bits before ranking; ties break (count desc, bigram asc).
    Scale: bigrams come from arrays_zip of two shifted slices — pure
    map-side, no window shuffle; the only shuffles are the two
    token-key count aggregations and the two vocabulary-sized joins;
    top-20 lands in TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(TX.tokens("text").alias("t"))
    cnt = F.size(F.col("t")) - 1
    bg = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("t"), 1, F.greatest(cnt, F.lit(0))),
                F.slice(F.col("t"), 2, F.greatest(cnt, F.lit(0))),
            )
        ).alias("z")
    ).select(F.col("z")["0"].alias("w1"), F.col("z")["1"].alias("w2"))

    uc = (
        docs.select(F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    n = uc.agg(F.sum("c").cast("bigint").alias("n"))
    bc = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("cxy"))
        .filter(F.col("cxy") >= _PMI_MINC)
    )
    u1 = uc.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uc.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    pq = F.floor(
        F.log2(
            (F.col("cxy").cast("double") * F.col("n").cast("double"))
            / (F.col("c1").cast("double") * F.col("c2").cast("double"))
        )
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("bigint")
    return (
        bc.crossJoin(F.broadcast(n))
        .join(u1, "w1")
        .join(u2, "w2")
        .select(
            "w1",
            "w2",
            F.col("cxy").cast("bigint").alias("n_pair"),
            pq.alias("pq"),
        )
        .orderBy(
            F.desc("pq"), F.desc("n_pair"), F.asc("w1"), F.asc("w2")
        )
        .limit(_PMI_TOPK)
        .select(
            "w1",
            "w2",
            "n_pair",
            (F.col("pq").cast("double") / F.lit(1e6)).alias("pmi"),
        )
    )


# -- Tokenizer fertility by language -----------------------------------------
# Tokenizer-prep diagnostic: tokens-per-character (fertility) by
# language, under BOTH the whitespace tokenizer and the BPE-ish
# pre-tokenizer — the per-language compression budget check run before
# committing a vocab (high-fertility languages eat the context window).

_FERTILITY_ORACLE = r"""
WITH t AS (
    SELECT lang,
           length(text) AS ch,
           len(regexp_split_to_array(trim(text), '\s+')) AS wt,
           len(regexp_extract_all(lower(text),
               '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bt
    FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ch) AS BIGINT) AS chars,
       CAST(SUM(wt) AS BIGINT) AS ws_tokens,
       CAST(SUM(bt) AS BIGINT) AS bpe_tokens,
       CAST(floor(1000000.0 * CAST(SUM(wt) AS DOUBLE)
                  / CAST(SUM(ch) AS DOUBLE)) AS BIGINT) AS ws_per_mchar,
       CAST(floor(1000000.0 * CAST(SUM(bt) AS DOUBLE)
                  / CAST(SUM(ch) AS DOUBLE)) AS BIGINT) AS bpe_per_mchar
FROM t GROUP BY lang
"""


@query("tokenizer_fertility_by_lang", _FERTILITY_ORACLE)
def q_tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fertility by language: per lang, document count,
    total characters, whitespace-token and BPE-ish-subword totals, and
    both fertilities as integer tokens-per-million-chars → (lang,
    n_docs, chars, ws_tokens, bpe_tokens, ws_per_mchar,
    bpe_per_mchar). The vocabulary-budget check a multilingual
    pipeline runs per candidate tokenizer.

    Scale shape: three narrow per-row counters (length / split-size /
    regexp_count — all whole-stage codegen) into ONE map-side-combined
    groupBy over ≤ |languages| keys. The exchange carries one row per
    language per task. Linear, no text ever shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        F.length("text").alias("ch"),
        TX.ws_token_count("text").alias("wt"),
        TX.bpe_token_count("text").alias("bt"),
    )
    g = t.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("ch").cast("bigint").alias("chars"),
        F.sum("wt").cast("bigint").alias("ws_tokens"),
        F.sum("bt").cast("bigint").alias("bpe_tokens"),
    )
    return g.select(
        "lang",
        "n_docs",
        "chars",
        "ws_tokens",
        "bpe_tokens",
        F.floor(
            F.lit(1_000_000.0)
            * F.col("ws_tokens").cast("double")
            / F.col("chars").cast("double")
        )
        .cast("bigint")
        .alias("ws_per_mchar"),
        F.floor(
            F.lit(1_000_000.0)
            * F.col("bpe_tokens").cast("double")
            / F.col("chars").cast("double")
        )
        .cast("bigint")
        .alias("bpe_per_mchar"),
    )


# -- TextRank keywords --------------------------------------------------------
# The graph family's PageRank applied to TEXT: TextRank (Mihalcea &
# Tarau 2004) ranks words by centrality in the adjacency
# co-occurrence graph — the graph-global complement to RAKE's
# degree/frequency heuristic (text_rake_keywords). Node set bounded
# to the top-200 vocabulary, so the graph (at most 200 nodes and
# 200·199 edges) is constant-size at any corpus scale: Spark counts
# the bigrams, and the 8 quantized supersteps run on the driver
# (operators/graph.pagerank_bounded — bit-identical to
# graph.pagerank's quantize_bits=30 supersteps, same oracle step SQL
# as graph_pagerank_copurchase).

_TEXTRANK_VOCAB = 200


_TEXTRANK_TOPK = 30


_TEXTRANK_SCHEMA = T.StructType(
    [
        T.StructField("word", T.StringType()),
        T.StructField("rank", T.DoubleType()),
        T.StructField("n_neighbors", T.LongType(), False),
    ]
)


def _textrank_oracle() -> str:

    steps = ",".join(
        _PR_STEP.format(cur=i, next=i + 1, q=_PR_Q) for i in range(8)
    )
    return rf"""
WITH toks AS (
    SELECT regexp_split_to_array(trim(text), '\s+') AS w FROM documents
),
tok AS (SELECT unnest(w) AS t FROM toks),
vocab AS (
    SELECT t FROM (
        SELECT t, COUNT(*) AS c FROM tok GROUP BY 1
        ORDER BY c DESC, t LIMIT {_TEXTRANK_VOCAB}
    )
),
bg AS (
    SELECT w[i] AS a, w[i+1] AS b
    FROM toks, unnest(range(1, len(w))) AS s(i)
    WHERE w[i] <> w[i+1]
),
bgv AS (
    SELECT a, b FROM bg
    JOIN vocab va ON va.t = bg.a
    JOIN vocab vb ON vb.t = bg.b
),
pw AS (
    SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w
    FROM (SELECT a AS src, b AS dst FROM bgv
          UNION ALL SELECT b, a FROM bgv)
    GROUP BY 1, 2
),
e AS (SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p FROM pw),
nn AS (SELECT COUNT(DISTINCT src) AS n FROM e),
deg AS (
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS n_neighbors
    FROM e GROUP BY 1
),
r0 AS (
    SELECT src AS node, 1e0 / CAST(nn.n AS DOUBLE) AS rank
    FROM (SELECT DISTINCT src FROM e), nn
),{steps}
SELECT r8.node AS word, r8.rank, deg.n_neighbors
FROM r8 JOIN deg USING (node)
ORDER BY rank DESC, word LIMIT {_TEXTRANK_TOPK}
"""


def _textrank_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a, b, c): how often word ``a`` is directly followed by a
    different word ``b``, both in the top-``_TEXTRANK_VOCAB``
    vocabulary — at most vocab² rows at any corpus scale.

    The vocabulary cut is a TakeOrderedAndProject over token counts;
    the bigram stream is filtered through the broadcast vocab BEFORE
    any exchange, and the ORDERED pairs are counted in one pass over
    the exploded stream (guide §2.3 partial aggregation)."""
    # spread the single-row-group scan before the token/bigram
    # explodes (guide §2.5; no-op at scale — see catalog.spread_scan).
    docs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = TX.tokens("text")
    tok = docs.select(F.explode(toks).alias("t"))
    vocab = (
        tok.groupBy("t")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("t"))
        .limit(_TEXTRANK_VOCAB)
        .select("t")
    )
    cnt = F.size(toks) - 1
    z = F.arrays_zip(F.slice(toks, 1, cnt), F.slice(toks, 2, cnt))
    bg = (
        docs.select(F.explode(z).alias("s"))
        .select(
            F.col("s")["0"].alias("a"), F.col("s")["1"].alias("b")
        )
        .filter(F.col("a") != F.col("b"))
    )
    bgv = bg.join(
        F.broadcast(vocab.withColumnRenamed("t", "a")), "a", "left_semi"
    ).join(
        F.broadcast(vocab.withColumnRenamed("t", "b")), "b", "left_semi"
    )
    return bgv.groupBy("a", "b").agg(F.count("*").alias("c"))


def _textrank_edges(
    counts: list[tuple[str, str, int]],
) -> tuple[list[tuple[str, str, float]], dict[str, int]]:
    """The oracle's weighted co-occurrence graph from the ordered
    bigram counts: edges (src, dst, p) with the symmetric weight
    w = c(src, dst) + c(dst, src) and p = w / Σ_dst w, plus each
    node's n_neighbors. Weights are integers, so every sum is exact
    and p is the same IEEE quotient the oracle's window divides."""
    weight: dict[tuple[str, str], int] = {}
    for a, b, c in counts:
        weight[a, b] = weight.get((a, b), 0) + c
        weight[b, a] = weight.get((b, a), 0) + c
    out_w: dict[str, int] = {}
    degree: dict[str, int] = {}
    for (src, _), w in weight.items():
        out_w[src] = out_w.get(src, 0) + w
        degree[src] = degree.get(src, 0) + 1
    edges = [
        (src, dst, float(w) / float(out_w[src]))
        for (src, dst), w in weight.items()
    ]
    return edges, degree


@query("text_textrank_keywords", _textrank_oracle())
def q_text_textrank_keywords(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TextRank corpus keywords: PageRank centrality over the
    word-adjacency co-occurrence graph, node set bounded to the
    top-200 vocabulary → the 30 most central words (word, rank,
    n_neighbors). The graph-global keyword extractor next to RAKE's
    local degree heuristic: a word ranks high when its NEIGHBORS are
    central, not merely when it is frequent.

    Scale shape: the corpus-sized work — tokenize, vocabulary cut,
    bigram count — is one Spark action whose result is bounded by
    vocab² rows at any corpus scale. The graph built from it has at
    most 200 nodes, so the 8 synchronous supersteps run as a numpy
    power iteration on the driver (operators/graph.pagerank_bounded)
    instead of 8 rounds of Spark stages, whose per-job latency was
    most of this query's time. Hash-exact across engines via the
    quantize_bits=30 binary-fixed-point contract (same arithmetic as
    operators/graph.pagerank, same oracle step SQL as
    graph_pagerank_copurchase). The result is a local relation built
    from Arrow, so no Python worker starts.
    """
    import pyarrow as pa


    counts = _textrank_bigram_counts(spark, sf_dir).collect()
    edges, degree = _textrank_edges(counts)
    ranks = graph.pagerank_bounded(edges)
    by_rank = sorted(ranks.items(), key=lambda wr: (-wr[1], wr[0]))
    top = by_rank[:_TEXTRANK_TOPK]
    table = pa.table(
        [
            pa.array([w for w, _ in top], pa.string()),
            pa.array([r for _, r in top], pa.float64()),
            pa.array([degree[w] for w, _ in top], pa.int64()),
        ],
        names=_TEXTRANK_SCHEMA.names,
    )
    return spark.createDataFrame(table, _TEXTRANK_SCHEMA)


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
    docs = load_table(spark, sf_dir, "documents")
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


# -- tokenizer_bpe_apply -----------------------------------------------------------
# The missing APPLY half of the tokenizer family: bpe_pair_merges /
# docs_bpe_train_merges demonstrate merge SELECTION; this trains the
# classic character-level BPE (Sennrich et al. 2016) on the
# frequency-weighted word-type table and ENCODES the corpus with it,
# publishing per-source fertility — the number every tokenizer-budget
# decision (docs_token_budget_select, tokenizer_fertility_by_lang)
# consumes. Sequential merge application is not SQL-expressible, so
# this is a rows-only query with an EXACT pytest gate: the Spark
# pipeline's piece counts must equal an independent pure-Python
# reference encode of the whole corpus (tests/test_round15.py).

_BPE_APPLY_TRAIN_TYPES = 1 << 14  # train on the top-16k types


_BPE_APPLY_MERGES = 60


@query("tokenizer_bpe_apply")
def q_tokenizer_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 60-merge character-level BPE on the corpus's top-16k
    word types (frequency-weighted, deterministic tie-breaks) and
    encode EVERY word with it -> per-source
    (source, n_word_types, n_words, n_pieces, fertility): fertility =
    BPE pieces per whitespace word, the compression measure tokenizer
    QA publishes per language/source slice.

    UDF policy (SURVEY §2.10): the encode kernel is an Arrow-batched
    pandas UDF applied to DISTINCT word types only — identical words
    encode identically, so the Python path touches |vocab| rows while
    the token stream stays JVM-side; per-type piece counts join back
    to the per-(source, type) frequency relation and aggregate with
    exact int64 arithmetic (fertility is the single final division).

    Scale shape: one explode + ONE (source, word) map-side-combined
    count of the corpus; the global type table derives from it by a
    second (small) aggregate. Training collects the CAPPED top-16k
    type rows — a bounded driver artifact in the documented class
    (Markov matrix, Gram matrix): real trainers cap candidate vocab
    identically, and the cap holds at any corpus size. The merge
    table ships to executors inside the UDF closure (~60 pairs).
    """
    from ..operators import bpe  # imports pandas: not at load_all

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(TX.tokens("text")).alias("w")
    ).filter(F.length("w") > 0)
    per_sw = words.groupBy("source", "w").agg(
        F.count("*").cast("bigint").alias("n")
    ).localCheckpoint(eager=False)
    top_types = (
        per_sw.groupBy("w")
        .agg(F.sum("n").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "w")
        .limit(_BPE_APPLY_TRAIN_TYPES)
        .collect()
    )
    merges = bpe.train_merges(
        [(r["w"], r["n"]) for r in top_types], _BPE_APPLY_MERGES
    )
    ranks = {pair: i for i, pair in enumerate(merges)}
    n_pieces = bpe.make_n_pieces_udf(ranks)
    types = per_sw.select("w").distinct().select(
        "w", n_pieces("w").alias("np")
    )
    return (
        per_sw.join(types, "w")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_word_types"),
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(F.col("n") * F.col("np")).cast("bigint").alias(
                "n_pieces"
            ),
            (
                F.sum(F.col("n") * F.col("np")).cast("double")
                / F.sum("n").cast("double")
            ).alias("fertility"),
        )
    )
