"""Round-11 query additions (SURVEY.md §2.11/§2.12 [EXT]): the three
highest-value items from the round-10 verdict's unfreeze list —

- ``docs_bpe_train_merges``: a 3-round BPE trainer (the multi-round
  extension of ``bpe_pair_merges``, which computes only the first
  merge) — each round picks the most frequent adjacent pair and
  APPLIES the merge corpus-wide before recounting;
- ``docs_url_dedup_cap``: URL-canonicalization dedup + per-domain
  caps — the CommonCrawl-style curation step the source-cap family
  approximates but doesn't express at URL granularity;
- ``docs_snapshot_curation_diff``: cross-snapshot incremental
  curation diff — ``table_diff_audit``'s row-diff primitive composed
  with a quality gate, per-source transition counts.

Conventions identical to queries_r9.py: every computed column aliased
the same in the Spark plan and the DuckDB oracle; counts CAST to
BIGINT on both sides (DuckDB SUM/COUNT → HUGEINT through Arrow
otherwise — the multimodal_shard_manifest r10 lesson, now CI-gated by
tests/oracle_util.py's Arrow type-family check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..functions import text as TX
from .registry import query


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


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
    from ..catalog import spread_scan

    # r15: spread the single-row-group scan so round 1's explode +
    # pair count is not one task (guide §2.5; later rounds are already
    # doc_id-partitioned by the rebuild windows).
    seqs = spread_scan(_docs(spark, sf_dir), "doc_id").select(
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
    d0 = _docs(spark, sf_dir)
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
    d0 = _docs(spark, sf_dir)

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


# =====================================================================
# Session-2 additions (round 11, after the verdict's top-3 landed):
# the CCNet perplexity-bucket criterion proper, a graded (not binary)
# decontamination overlap fraction, tokenizer fertility by language,
# and a fixed-sample cosine calibration histogram for dedup-threshold
# tuning. Same conventions: every output column aliased identically in
# Spark and DuckDB, counts/sums CAST to BIGINT on both sides.
# =====================================================================


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
    from ..operators import aggregate

    # (r15: a spread_scan head was A/B-measured at 2.97->3.25 s —
    # docs feeds three filtered branches, so the added exchange can
    # execute per branch — and reverted; see OPTIMIZATION_r15.md.)
    docs = _docs(spark, sf_dir)
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
    from ..catalog import spread_scan
    from ..operators import decontaminate

    # r15: spread the single-row-group scan before the per-doc shingle
    # HOFs (guide §2.5; no-op at scale — see catalog.spread_scan).
    docs = spread_scan(_docs(spark, sf_dir), "doc_id")
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
    docs = _docs(spark, sf_dir)
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


# -- Cosine calibration histogram ---------------------------------------------
# Dedup/similarity thresholds (dedup_embedding_cosine's 0.45,
# sim_range_search's 0.3) are corpus-dependent: the right value sits
# where the pairwise-cosine background distribution's upper tail ends.
# This query materializes that distribution over a FIXED-SIZE
# deterministic sample, so the histogram costs the same at any corpus
# scale.

_CAL_SAMPLE = 128


def _cal_oracle() -> str:
    from .queries_ext import _duck_cos

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
    SELECT vec_id, v FROM e
    ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_CAL_SAMPLE}
),
p AS (
    SELECT floor({_duck_cos('a.v', 'b.v')} * 20.0) AS bin
    FROM s a JOIN s b ON a.vec_id < b.vec_id
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM p GROUP BY 1
"""


@query("emb_cosine_calibration", _cal_oracle())
def q_emb_cosine_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise-cosine background distribution for threshold
    calibration: a deterministic md5-ordered sample of 128 vectors,
    all 128·(128-1)/2 pairwise cosines, binned at 0.05 → (bin,
    n_pairs). Read the histogram's upper tail to place
    dedup_embedding_cosine / sim_range_search thresholds above the
    background noise floor.

    Scale shape: the sample is a TakeOrderedAndProject top-k on
    md5(vec_id) — no full sort, no RNG — and the pair stage is a
    broadcast self-join over a CONSTANT-size relation (128² plan-time
    bound), so cost is independent of corpus size; the only
    corpus-wide work is the top-k scan. Cosines use the ordered
    double fold (functions/vectors.py) mirrored bit-identically by
    the oracle.
    """
    from ..functions import vectors as V

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    )
    s = (
        e.orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(_CAL_SAMPLE)
        .select("vec_id", "v")
    )
    a = s.alias("a")
    b = s.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id")
    ).select(
        F.floor(
            V.cosine(F.col("a.v"), F.col("b.v")) * F.lit(20.0)
        )
        .cast("bigint")
        .alias("bin")
    )
    return pairs.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )


# -- MinHash band-shape sweep -------------------------------------------------
# The LSH tuning decision is HOW TO SPEND a fixed signature budget:
# the same 8 minhash slots banded (8x1) admit aggressively (any single
# slot match), (2x4) conservatively (4 consecutive slots must agree).
# This query measures all three shapes against exact Jaccard ground
# truth in one pass — candidate volume vs precision, the table you
# read before fixing (bands, rows) for a corpus. The signature is
# computed ONCE; the three bandings are just regroupings of its 8
# columns.

_SWEEP_CFGS = (("8x1", 8, 1), ("4x2", 4, 2), ("2x4", 2, 4))

# The sweep is a TUNING DIAGNOSTIC, so it runs over a bounded
# deterministic sample (md5-ordered top-k of doc_ids): the aggressive
# 8x1 banding's candidate volume grows super-linearly with corpus
# size (any single slot match admits), and the point of the table is
# to compare shapes, which a sample answers at fixed cost. At the
# test SFs <= sf0.01 the sample IS the full corpus.
_SWEEP_SAMPLE = 2048


def _sweep_oracle() -> str:
    from ..operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P
    from .queries_ext import _JACCARD_TAIL, _SHINGLES, _TOKS

    slot_mins = ",\n           ".join(
        f"MIN(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P})"
        f" AS s_{i}"
        for i in range(8)
    )
    bk_selects = []
    for cfg, bands, rows in _SWEEP_CFGS:
        for b in range(bands):
            cols = ", ".join(f"s_{b * rows + r}" for r in range(rows))
            bk_selects.append(
                f"SELECT doc_id, '{cfg}' AS cfg,"
                f" concat_ws('|', '{b}', {cols}) AS band_key FROM slots"
            )
    band_keys = "\n    UNION ALL ".join(bk_selects)
    return f"""
WITH {_TOKS}, {_SHINGLES},
samp AS (
    SELECT doc_id FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT {_SWEEP_SAMPLE}
),
base AS (
    SELECT doc_id,
           ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {MINHASH_P} AS h
    FROM sh JOIN samp USING (doc_id)
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
    SELECT DISTINCT a.cfg, a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bk a JOIN bk b
      ON a.cfg = b.cfg AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
),
{_JACCARD_TAIL.lstrip()},
j AS (
    SELECT i.doc_a, i.doc_b,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jac
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
)
SELECT cand.cfg,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN j.jac >= 0.8e0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true,
       CAST(floor(1000.0 * CAST(SUM(CASE WHEN j.jac >= 0.8e0
                                         THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
           AS precision_permille
FROM cand LEFT JOIN j USING (doc_a, doc_b)
GROUP BY 1
"""


@query("dedup_minhash_band_sweep", _sweep_oracle())
def q_dedup_minhash_band_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash band-shape sweep: the SAME 8-slot signature banded
    three ways — 8 bands x 1 row (aggressive), 4 x 2 (the production
    default), 2 x 4 (conservative) — each measured against exact
    shingle Jaccard at the 0.8 near-dup threshold → (cfg,
    n_candidates, n_true, precision_permille). The candidate-volume /
    precision tradeoff table behind dedup_minhash's banding choice.

    Scale shape: the sweep runs over a bounded deterministic sample
    (md5-ordered top-2048 doc_ids — the full corpus at test SFs), so
    the aggressive 8x1 shape's super-linear candidate growth is
    capped by construction. ONE shingle scan and ONE groupBy(doc_id)
    computes all 8 slot minima (the affine universal-hash family
    shares one md5 per shingle); the three bandings explode the tiny
    per-doc signature relation (docs x bands rows, never the shingle
    stream); exact verification is candidate-driven (jaccard_pairs
    with the admitted-pair union driving the join), so verify cost
    scales with what the bands admitted.
    """
    from ..operators import dedup
    from ..operators.dedup import _minhash_sig, minhash_base

    docs = _docs(spark, sf_dir)
    samp = (
        docs.select("doc_id")
        .orderBy(F.md5(F.col("doc_id").cast("string")))
        .limit(_SWEEP_SAMPLE)
    )
    # r15 (guide §2.4): pin the ≤_SWEEP_SAMPLE-row sampled docs — the
    # md5-ordered sample sort + semi-join otherwise re-runs inside
    # every shingle consumer (8 documents scans in the before-plan).
    docs = docs.join(
        F.broadcast(samp), "doc_id", "left_semi"
    ).localCheckpoint()
    sh_raw = dedup.doc_shingles(docs, distinct=False)
    base = sh_raw.select(
        "doc_id", minhash_base(F.col("shingle")).alias("h")
    )
    sig = base.groupBy("doc_id").agg(
        *[
            F.min(_minhash_sig(i, F.col("h"))).alias(f"s_{i}")
            for i in range(8)
        ]
    )
    sig = sig.localCheckpoint(eager=False)

    def candidates(cfg: str, bands: int, rows: int) -> DataFrame:
        keys = F.array(
            *[
                F.concat_ws(
                    "|",
                    F.lit(str(b)),
                    *[F.col(f"s_{b * rows + r}") for r in range(rows)],
                )
                for b in range(bands)
            ]
        )
        bk = sig.select(
            "doc_id", F.explode(keys).alias("band_key")
        )
        return dedup.minhash_candidates(bk).withColumn(
            "cfg", F.lit(cfg)
        )
    cand = candidates(*_SWEEP_CFGS[0])
    for c in _SWEEP_CFGS[1:]:
        cand = cand.unionByName(candidates(*c))
    cand = cand.localCheckpoint(eager=False)
    all_pairs = cand.select("doc_a", "doc_b").distinct()
    # pin the sample's distinct shingles too: jaccard_pairs reads the
    # relation 3× (sizes + both join sides); the sample cap bounds it
    sh = dedup.doc_shingles(docs).localCheckpoint(eager=False)
    jac = dedup.jaccard_pairs(sh, all_pairs, threshold=0.0).select(
        "doc_a", "doc_b", F.col("jaccard").alias("jac")
    )
    hit = F.when(F.col("jac") >= 0.8, 1).otherwise(0)
    return (
        cand.join(jac, ["doc_a", "doc_b"], "left")
        .groupBy("cfg")
        .agg(
            F.count("*").cast("bigint").alias("n_candidates"),
            F.sum(hit).cast("bigint").alias("n_true"),
            F.floor(
                F.lit(1000.0)
                * F.sum(hit).cast("double")
                / F.count("*").cast("double")
            )
            .cast("bigint")
            .alias("precision_permille"),
        )
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
    docs = _docs(spark, sf_dir)
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
    docs = _docs(spark, sf_dir)
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


# -- Croston intermittent-demand forecast -------------------------------------
# The reference is a retail demand pipeline (flagship.py), and retail
# demand at shop granularity is INTERMITTENT — many zero days between
# sales. Exponential smoothing over such a series chases zeros;
# Croston's method (1972) smooths the nonzero demand SIZES and the
# inter-demand INTERVALS separately and forecasts their ratio. Per
# shop, over the flagship view's 'expensive' product (the sparsest
# bucket), zero-filled on the global calendar.
#
# All three state updates (size z, interval p, periods-since q) read
# only the PREVIOUS state — no cross-referencing recurrence, so both
# the Spark fold and the oracle's per-shop recursive CTE evaluate the
# same independent expressions step-by-step, bit-identically.

_CROSTON_ALPHA = 0.1

_CROSTON_ORACLE = r"""
WITH RECURSIVE pd AS MATERIALIZED (
    SELECT 'shop_' || CAST(user_id % 20 AS VARCHAR) AS shop_id,
           CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
    FROM events
    WHERE CASE ascii(event_type) % 3 WHEN 0 THEN 'cheap'
              WHEN 1 THEN 'medium' ELSE 'expensive' END = 'expensive'
    GROUP BY 1, 2
),
cal AS (
    SELECT UNNEST(generate_series(MIN(day), MAX(day),
                                  INTERVAL 1 DAY))::DATE AS day
    FROM pd
),
shops AS (SELECT DISTINCT shop_id FROM pd),
grid AS MATERIALIZED (
    SELECT s.shop_id,
           row_number() OVER (PARTITION BY s.shop_id
                              ORDER BY c.day) AS rn,
           COALESCE(pd.y, 0e0) AS y
    FROM shops s CROSS JOIN cal c
    LEFT JOIN pd ON pd.shop_id = s.shop_id AND pd.day = c.day
),
fit(shop_id, rn, z, p, q, seen) AS (
    SELECT shop_id, 0, 0e0, 0e0, CAST(1 AS BIGINT), FALSE FROM shops
    UNION ALL
    SELECT g.shop_id, g.rn,
           CASE WHEN g.y > 0e0 THEN
                CASE WHEN f.seen THEN 0.1e0 * g.y + 0.9e0 * f.z
                     ELSE g.y END
           ELSE f.z END,
           CASE WHEN g.y > 0e0 THEN
                CASE WHEN f.seen
                     THEN 0.1e0 * CAST(f.q AS DOUBLE) + 0.9e0 * f.p
                     ELSE CAST(f.q AS DOUBLE) END
           ELSE f.p END,
           CASE WHEN g.y > 0e0 THEN 1 ELSE f.q + 1 END,
           f.seen OR g.y > 0e0
    FROM fit f JOIN grid g ON g.shop_id = f.shop_id AND g.rn = f.rn + 1
),
last AS (
    SELECT shop_id, z, p, seen FROM fit
    WHERE rn = (SELECT MAX(rn) FROM grid)
),
nd AS (
    SELECT shop_id,
           CAST(SUM(CASE WHEN y > 0e0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_demand_days
    FROM grid GROUP BY 1
)
SELECT l.shop_id, nd.n_demand_days,
       CASE WHEN l.seen THEN l.z / l.p ELSE NULL END AS croston_forecast
FROM last l JOIN nd USING (shop_id)
"""


@query("demand_croston_forecast", _CROSTON_ORACLE)
def q_demand_croston_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Croston intermittent-demand forecast (alpha=0.1) per shop over
    the flagship view's 'expensive'-product daily demand, zero-filled
    on the global calendar → (shop_id, n_demand_days,
    croston_forecast). Smooths nonzero demand sizes and inter-demand
    intervals separately and forecasts their ratio — the correct
    estimator where plain exponential smoothing chases zeros, i.e.
    exactly the reference's retail-demand domain at shop granularity.

    Shape: one decimal-exact (shop, day) aggregate (map-side
    combined), the calendar zero-fill is a broadcast of the tiny
    (min, max) scalar exploded to a day sequence, and the recurrence
    folds per shop over its day-sorted array — |shops| independent
    single-task folds over calendar-bounded series; the table's row
    count never enters the sequential stage. Cross-engine
    determinism: every state update reads only the previous state
    (no nested recurrence), same expression tree both engines.
    """
    from .flagship import product_demand_view

    pd_ = (
        product_demand_view(spark, sf_dir)
        .filter(F.col("product_name") == "expensive")
        .groupBy("shop_id", F.col("date").alias("day"))
        .agg(
            F.sum(F.col("demand").cast("decimal(18,2)"))
            .cast("double")
            .alias("y")
        )
    )
    pd_ = pd_.localCheckpoint(eager=False)
    cal = pd_.agg(
        F.explode(
            F.sequence(
                F.min("day"), F.max("day"), F.expr("interval 1 day")
            )
        ).alias("day")
    )
    shops = pd_.select("shop_id").distinct()
    grid = (
        shops.crossJoin(F.broadcast(cal))
        .join(pd_, ["shop_id", "day"], "left")
        .select(
            "shop_id", "day", F.coalesce(F.col("y"), F.lit(0.0)).alias("y")
        )
    )
    xs = grid.groupBy("shop_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "y"))),
            lambda e: e["y"],
        ).alias("xs"),
        F.sum(F.when(F.col("y") > 0.0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_demand_days"),
    )
    a = _CROSTON_ALPHA

    def merge(acc, y):
        pos = y > F.lit(0.0)
        return F.struct(
            F.when(
                pos,
                F.when(
                    acc["seen"],
                    F.lit(a) * y + F.lit(1 - a) * acc["z"],
                ).otherwise(y),
            )
            .otherwise(acc["z"])
            .alias("z"),
            F.when(
                pos,
                F.when(
                    acc["seen"],
                    F.lit(a) * acc["q"].cast("double")
                    + F.lit(1 - a) * acc["p"],
                ).otherwise(acc["q"].cast("double")),
            )
            .otherwise(acc["p"])
            .alias("p"),
            F.when(pos, F.lit(1).cast("bigint"))
            .otherwise(acc["q"] + 1)
            .alias("q"),
            (acc["seen"] | pos).alias("seen"),
        )

    seed = F.struct(
        F.lit(0.0).alias("z"),
        F.lit(0.0).alias("p"),
        F.lit(1).cast("bigint").alias("q"),
        F.lit(False).alias("seen"),
    )
    fit = xs.select(
        "shop_id",
        "n_demand_days",
        F.aggregate(F.col("xs"), seed, merge).alias("st"),
    )
    return fit.select(
        "shop_id",
        "n_demand_days",
        F.when(
            F.col("st.seen"), F.col("st.z") / F.col("st.p")
        ).alias("croston_forecast"),
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
    from .queries_r9 import _DSIR_ORACLE

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
    from .queries_r9 import q_docs_dsir_weights

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


# -- SCD2 apply: type-2 MERGE of a change batch -------------------------------
# scd2_intervals BUILDS history from a full log; cdc_merge keeps
# latest-state only (type 1). The missing warehouse op is applying a
# CHANGE BATCH to a STANDING type-2 dimension: close each changed
# key's current row at the change timestamp, insert the new version
# as current, pass everything else through — the Delta/Iceberg
# "MERGE ... WHEN MATCHED UPDATE SET valid_to / WHEN NOT MATCHED
# INSERT" idiom, expressed join-first.

_SCD2_CUTOFF = "2000-01-01"


_SCD2_APPLY_ORACLE = f"""
WITH pre AS (
    SELECT o_custkey, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(o_orderdate AS DATE) AS d
    FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '{_SCD2_CUTOFF}'
),
dim0 AS (
    SELECT o_custkey, o_orderkey, o_totalprice,
           d AS valid_from,
           lead(d) OVER (PARTITION BY o_custkey
                         ORDER BY d, o_orderkey) AS valid_to,
           lead(d) OVER (PARTITION BY o_custkey
                         ORDER BY d, o_orderkey) IS NULL AS is_current
    FROM pre
),
post AS (
    SELECT o_custkey, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(o_orderdate AS DATE) AS d,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY CAST(o_orderdate AS DATE),
                                       o_orderkey) AS rn
    FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '{_SCD2_CUTOFF}'
),
ch AS (SELECT o_custkey, o_orderkey, o_totalprice, d FROM post WHERE rn = 1),
closed AS (
    SELECT dim0.o_custkey, dim0.o_orderkey, dim0.o_totalprice,
           dim0.valid_from, ch.d AS valid_to, FALSE AS is_current
    FROM dim0 JOIN ch USING (o_custkey) WHERE dim0.is_current
),
unchanged AS (
    SELECT dim0.o_custkey, dim0.o_orderkey, dim0.o_totalprice,
           dim0.valid_from, dim0.valid_to, dim0.is_current
    FROM dim0 LEFT JOIN ch USING (o_custkey)
    WHERE NOT (dim0.is_current AND ch.o_custkey IS NOT NULL)
),
inserts AS (
    SELECT o_custkey, o_orderkey, o_totalprice,
           d AS valid_from, CAST(NULL AS DATE) AS valid_to,
           TRUE AS is_current
    FROM ch
)
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(valid_from AS TIMESTAMP) AS valid_from,
       CAST(valid_to AS TIMESTAMP) AS valid_to,
       is_current
FROM (
    SELECT * FROM closed
    UNION ALL SELECT * FROM unchanged
    UNION ALL SELECT * FROM inserts
) u
"""


@query("cdc_scd2_apply", _SCD2_APPLY_ORACLE)
def q_cdc_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 MERGE: apply a change batch (each customer's first
    post-2000-01-01 order) to the standing SCD2 dimension built from
    pre-2000-01-01 history → the post-apply history table (o_custkey,
    o_orderkey, o_totalprice, valid_from, valid_to, is_current).
    Changed keys' current rows CLOSE at the change date, the new
    versions insert as current, history rows pass through — the
    warehouse MERGE idiom scd2_intervals (build) and cdc_merge
    (type-1 latest-state) both leave unexpressed.

    Scale shape: the dimension build is one key-shuffled lead window;
    the change batch joins the dimension twice (close + pass-through
    filter); inserts are map-only. The batch here is a DATE-SPLIT of
    the fact table — one row per customer with a post-cutoff order,
    i.e. a large fraction of the dimension, NOT a bounded CDC trickle
    — so the joins carry no broadcast hint: AQE picks broadcast when
    the batch is genuinely small and falls back to a shuffled hash
    join when it is not (a forced broadcast would OOM at scale;
    r11-advisory fix). Both batch-side joins reuse the o_custkey
    partitioning the batch's own row_number window already
    established.

    Validity-bound shape (r16, FIXTURES.md F6): nullable
    TIMESTAMP_NTZ ``valid_from``/``valid_to`` with NULL on the open
    interval — exactly the shape of ``scd2_intervals``, which passed
    all three driver checks (rows+schema+hash) in the r15 window
    (``o_orderdate`` is parquet timestamp[us], so scd2_intervals's
    bounds are NTZ, NOT DATE — null-bearing DATE was the r12 RED
    shape and stays blocked by the oracle_util F6 guard). The r15
    sentinel (``9999-12-31`` NTZ) broke the driver comparator
    outright: pandas ns timestamps max out at 2262-04-11, so the
    oracle harness raised OutOfBoundsDatetime and the query became
    uncomparable. The r15 controlled experiment proved NULL-bearing
    NTZ bounds hash green; the date values sit at midnight so the
    cast is lossless and ``is_current`` still encodes open-endedness.
    """
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("double")
    d = F.col("o_orderdate").cast("date")
    cutoff = F.lit(_SCD2_CUTOFF).cast("date")
    base = o.select(
        "o_custkey",
        "o_orderkey",
        price.alias("o_totalprice"),
        d.alias("d"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    nxt = F.lead("d").over(w)
    dim0 = base.filter(F.col("d") < cutoff).select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.col("d").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )
    ch = (
        base.filter(F.col("d") >= cutoff)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("c_orderkey"),
            F.col("o_totalprice").alias("c_totalprice"),
            F.col("d").alias("c_d"),
        )
    )
    closed = (
        dim0.filter("is_current")
        .join(ch, "o_custkey")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            "valid_from",
            F.col("c_d").alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
    )
    unchanged = (
        dim0.join(
            ch.select("o_custkey", F.lit(1).alias("__hit")),
            "o_custkey",
            "left",
        )
        .filter(~(F.col("is_current") & F.col("__hit").isNotNull()))
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            "valid_from",
            "valid_to",
            "is_current",
        )
    )
    inserts = ch.select(
        "o_custkey",
        F.col("c_orderkey").alias("o_orderkey"),
        F.col("c_totalprice").alias("o_totalprice"),
        F.col("c_d").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return (
        closed.unionByName(unchanged)
        .unionByName(inserts)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.col("valid_from").cast("timestamp_ntz").alias("valid_from"),
            F.col("valid_to").cast("timestamp_ntz").alias("valid_to"),
            "is_current",
        )
    )


# -- IVF nprobe recall curve --------------------------------------------------
# The ANN twin of dedup_minhash_band_sweep: sim_ann_ivf fixes
# nprobe=2; the tuning decision is how many inverted lists to probe.
# This query measures recall@10 against the exact brute-force top-10
# for nprobe in {1, 2, 4, 8} in ONE pass — centroid assignment is
# computed once and only the (tiny) probe set varies per config.

_IVF_CURVE_NPROBES = (1, 2, 4, 8)
_IVF_CURVE_K = 10
_IVF_CURVE_NLIST = 8


def _ivf_curve_oracle() -> str:
    from .queries_ext import _duck_cos

    cfg_sql = "\nUNION ALL\n".join(
        f"""SELECT {np} AS nprobe, vec_id FROM (
    SELECT e.vec_id,
           row_number() OVER (
               ORDER BY round({_duck_cos('e.v', 'qv')}, 6) DESC, e.vec_id
           ) AS rn
    FROM e
    JOIN assign USING (vec_id)
    JOIN (SELECT centroid_id FROM pr WHERE rn <= {np})
      USING (centroid_id), q
) WHERE rn <= {_IVF_CURVE_K}"""
        for np in _IVF_CURVE_NPROBES
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, v AS cv
    FROM e ORDER BY vec_id LIMIT {_IVF_CURVE_NLIST}
),
assign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_duck_cos('e.v', 'c.cv')} DESC, c.centroid_id
               ) AS rn
        FROM e, cents c
    ) WHERE rn = 1
),
q AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1),
pr AS (
    SELECT c.centroid_id,
           row_number() OVER (
               ORDER BY {_duck_cos('c.cv', 'qv')} DESC, c.centroid_id
           ) AS rn
    FROM cents c, q
),
exact AS (
    SELECT vec_id FROM (
        SELECT e.vec_id,
               row_number() OVER (
                   ORDER BY round({_duck_cos('e.v', 'qv')}, 6) DESC,
                            e.vec_id
               ) AS rn
        FROM e, q
    ) WHERE rn <= {_IVF_CURVE_K}
),
ivf AS (
{cfg_sql}
)
SELECT ivf.nprobe,
       CAST(COUNT(exact.vec_id) AS BIGINT) AS n_hits,
       CAST(floor(1000.0 * CAST(COUNT(exact.vec_id) AS DOUBLE)
                  / {_IVF_CURVE_K}.0) AS BIGINT) AS recall_permille
FROM ivf LEFT JOIN exact USING (vec_id)
GROUP BY 1
"""


@query("sim_ivf_nprobe_recall_curve", _ivf_curve_oracle())
def q_sim_ivf_nprobe_recall_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF probe-budget tuning curve: recall@10 of the IVF path vs
    the exact brute-force top-10 for nprobe in [1, 2, 4, 8], in one pass →
    (nprobe, n_hits, recall_permille). The ANN twin of the MinHash
    band sweep: how much probe budget buys how much recall, measured
    before fixing sim_ann_ivf's default.

    Scale shape: centroid assignment runs ONCE (the narrow broadcast
    argmax map — no exchange) and is lineage-cut so all four configs
    read the same tagged relation; each config differs only in its
    probe set (a <= nlist-row broadcast) and its WindowGroupLimit
    top-k; the exact baseline is one TakeOrderedAndProject. Recall
    joins are over k-row relations.
    """
    from ..functions import vectors as V
    from ..operators import similarity
    from ..operators.similarity import (
        _centroid_array,
        _nearest_centroid,
        _vecs,
        ivf_centroids,
        query_vector,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb, _IVF_CURVE_NLIST)
    q = query_vector(emb)
    scored = (
        _vecs(emb)
        .crossJoin(F.broadcast(_centroid_array(cents)))
        .withColumn(
            "centroid_id",
            _nearest_centroid(F.col("v"), F.col("cents")),
        )
        .drop("cents")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "centroid_id",
            F.round(V.cosine(F.col("v"), F.col("qv")), 6).alias("cs"),
        )
        .localCheckpoint(eager=False)
    )
    pr = cents.crossJoin(F.broadcast(q)).select(
        "centroid_id",
        V.cosine(F.col("cv"), F.col("qv")).alias("pcs"),
    )
    exact = (
        scored.orderBy(F.desc("cs"), F.asc("vec_id"))
        .limit(_IVF_CURVE_K)
        .select("vec_id")
    )
    ivf = None
    for np_ in _IVF_CURVE_NPROBES:
        # per-config probe set: TakeOrdered over the <= nlist-row
        # centroid relation — no window anywhere in the plan
        probe = (
            pr.orderBy(F.desc("pcs"), F.asc("centroid_id"))
            .limit(np_)
            .select("centroid_id")
        )
        top = (
            scored.join(F.broadcast(probe), "centroid_id", "left_semi")
            .orderBy(F.desc("cs"), F.asc("vec_id"))
            .limit(_IVF_CURVE_K)
            .select(F.lit(np_).alias("nprobe"), "vec_id")
        )
        ivf = top if ivf is None else ivf.unionByName(top)
    hit = exact.withColumn("__hit", F.lit(1))
    return (
        ivf.join(F.broadcast(hit), "vec_id", "left")
        .groupBy("nprobe")
        .agg(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hits"),
            F.floor(
                F.lit(1000.0)
                * F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast(
                    "double"
                )
                / F.lit(float(_IVF_CURVE_K))
            )
            .cast("bigint")
            .alias("recall_permille"),
        )
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
    from .queries_analytics import _PR_Q, _PR_STEP

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
    from ..catalog import spread_scan

    # spread the single-row-group scan before the token/bigram
    # explodes (guide §2.5; no-op at scale — see catalog.spread_scan).
    docs = spread_scan(_docs(spark, sf_dir), "doc_id")
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

    from ..operators import graph

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
    from ..operators import join_ext

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
