"""Deduplication queries: exact, MinHash, SimHash, n-gram and
containment near-duplicates, clustering and keep-best selection,
embedding near-duplicates, byte-payload and content-defined-chunk
dedup, and the multimodal payload plumbing they run on.

Cosines are computed as array<float> cast to double FIRST, then a
left-to-right fold (Spark ``aggregate`` ≡ duckdb ``list_reduce``),
rounded to 6 digits before any threshold filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread_scan
from ..operators import dedup, multimodal, packing
from ..operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    _content_hash,
    _minhash_sig,
    minhash_base,
)
from ..operators.multimodal import GEAR, attach_payload
from ..scratch import stored_index
from .queries_curation import (
    _JACCARD_TAIL,
    _MINHASH_ORACLE,
    _jaccard_pairs_index,
    _minhash_pairs_index,
    _substring_stats_index,
)
from .queries_text import _SHINGLES, _TOKS
from .registry import query


def _duck_cos(a: str, b: str) -> str:
    """DuckDB cosine mirroring functions/vectors.py exactly: ordered
    left fold over doubles (bit-identical to Spark ``aggregate``)."""
    def ssq(v: str) -> str:
        return f"list_reduce(list_transform({v}, x -> x*x), (x,y) -> x+y)"

    dot = (
        f"list_reduce(list_transform(range(64), i -> {a}[i+1]*{b}[i+1]),"
        " (x,y) -> x+y)"
    )
    return f"({dot} / (sqrt({ssq(a)}) * sqrt({ssq(b)})))"


# -- dedup family ----------------------------------------------------------


@query(
    "dedup_exact",
    """
SELECT MIN(doc_id) AS doc_id,
       sha256(lower(trim(text))) AS text_hash,
       COUNT(*) AS n_copies
FROM documents GROUP BY 2
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalized-content sha256, survivor = min doc_id."""
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


@query(
    "dedup_incremental",
    """
WITH nh AS (
    SELECT doc_id, sha256(lower(trim(text))) AS text_hash
    FROM documents WHERE source = 'src0'
),
old AS (
    SELECT DISTINCT sha256(lower(trim(text))) AS text_hash
    FROM documents WHERE source <> 'src0'
)
SELECT MIN(doc_id) AS doc_id, text_hash
FROM nh
WHERE NOT EXISTS (SELECT 1 FROM old WHERE old.text_hash = nh.text_hash)
GROUP BY text_hash
""",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup: new batch (source='src0') anti-joined by
    content hash against the rest of the corpus, then in-batch dedup."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.incremental_dedup(
        d.filter(F.col("source") == "src0"),
        d.filter(F.col("source") != "src0"),
    )


@query("dedup_minhash", _MINHASH_ORACLE)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: shingle → minhash sig (4 bands × 2 rows) →
    band bucket-join → exact-Jaccard verify ≥ 0.8. Served from the
    stored verified-pairs index (_minhash_pairs_index) — the shingle
    and signature passes run once per corpus version."""
    return _minhash_pairs_index(spark, sf_dir).filter(
        F.col("jaccard") >= 0.8
    )


# Incremental variant: same hash family / band machinery, candidates
# restricted to (batch=src0) × (corpus=rest); per batch doc keep the
# smallest verified corpus partner.
def _minhash_incr_oracle() -> str:
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
    FROM bk a
    JOIN documents da ON da.doc_id = a.doc_id AND da.source = 'src0'
    JOIN bk b ON a.band_key = b.band_key
    JOIN documents db ON db.doc_id = b.doc_id AND db.source <> 'src0'
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
    GROUP BY 1, 2
),
j AS (
    SELECT i.doc_a, i.doc_b,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
)
SELECT doc_a AS doc_id, doc_b AS dup_of, jaccard
FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_a ORDER BY doc_b) AS rn
    FROM j
)
WHERE rn = 1
"""


def _minhash_corpus_index(
    spark: SparkSession, sf_dir: str, corpus: DataFrame
) -> DataFrame:
    """The STORED minhash band index for ``sf_dir``'s non-src0 corpus:
    the (doc_id, band, band_key) relation ``minhash_bands`` emits,
    materialized to scratch parquet ONCE per (sf_dir, documents
    mtime) and band-joined against on every subsequent incremental
    run — the production shape where the index is maintained at
    ingest (append-only) and a day's batch never triggers a corpus
    re-shingle. The mtime in the path makes a regenerated testdata
    dir rebuild the index instead of serving stale band keys."""
    return stored_index(
        spark,
        sf_dir,
        "documents",
        "minhash_band_index",
        "index.parquet",
        lambda: dedup.minhash_bands(
            dedup.doc_shingles(corpus, 3, distinct=False), 4, 2
        ),
    )


@query("dedup_minhash_incremental", _minhash_incr_oracle())
def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest near-dup: batch (source='src0') band-joined against
    the STORED corpus band index (materialized once per sf_dir by
    _minhash_corpus_index, so the standing per-batch cost is one
    band-key equi-join — no corpus re-shingle), exact-Jaccard
    verified ≥ 0.8; per batch doc the smallest matching corpus
    partner (operators/dedup.py: minhash_incremental_dedup — the
    fuzzy sibling of dedup_incremental's exact-hash anti-join)."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("source") != "src0")
    return dedup.minhash_incremental_dedup(
        d.filter(F.col("source") == "src0"),
        corpus,
        corpus_bands=_minhash_corpus_index(spark, sf_dir, corpus),
    )


_NGRAM_ORACLE = f"""
WITH {_TOKS}, {_SHINGLES}, {_JACCARD_TAIL.lstrip()}
SELECT doc_a, doc_b,
       CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
"""


@query("dedup_ngram_jaccard", _NGRAM_ORACLE)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs ≥ 0.8 (ground truth for the LSH
    path; quadratic, so at scale it runs only inside LSH buckets).
    Served from the stored exact-pairs index."""
    return _jaccard_pairs_index(spark, sf_dir)


_CONTAINMENT_ORACLE = f"""
WITH {_TOKS}, {_SHINGLES}, {_JACCARD_TAIL.lstrip()}
SELECT doc_a, doc_b,
       CAST(n_common AS DOUBLE) / LEAST(sa.n, sb.n) AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(n_common AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.9
"""


@query("dedup_containment", _CONTAINMENT_ORACLE)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder containment pairs ≥ 0.9 — |A∩B| / min(|A|,|B|): catches
    the boilerplate/quotation shape Jaccard misses (a short doc wholly
    embedded in a long one). Same shingle-equi-join scale shape as
    dedup_ngram_jaccard, same candidate-driven hook for LSH."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(dedup.doc_shingles(docs), None, 0.9)


# Connected components over the exact near-dup pairs. The oracle walks
# the transitive closure with a recursive CTE (UNION dedups → fixpoint)
# — label of a doc = min doc id it can reach, i.e. the component min.
_CLUSTER_ORACLE = f"""
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
)
SELECT doc AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY doc
"""


@query("dedup_cluster_cc", _CLUSTER_ORACLE)
def q_dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: connected components over the
    exact-Jaccard pair graph via iterative min-label propagation;
    every doc maps to its component's min doc_id (the canonical
    survivor)."""
    pairs = _jaccard_pairs_index(spark, sf_dir)
    return dedup.dedup_clusters(pairs)


@query("dedup_cluster_cc_star", _CLUSTER_ORACLE)
def q_dedup_cluster_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same component labelling, computed by large-star/small-star
    contraction (O(log n) rounds vs diameter-bounded min-label
    propagation) — the variant to use when near-dup chains can be
    long. Identical recursive-CTE oracle."""
    pairs = _jaccard_pairs_index(spark, sf_dir)
    return dedup.dedup_clusters_star(pairs)


_SIMHASH_ORACLE = rf"""
WITH {_TOKS},
tok AS (SELECT DISTINCT doc_id, unnest(w) AS tok FROM toks),
bits AS (
    SELECT doc_id, md5(tok) AS h, b
    FROM tok, (SELECT unnest(range(32)) AS b)
),
contrib AS (
    SELECT doc_id, b,
           2 * (CAST(floor(
                 (instr('0123456789abcdef',
                        substr(h, CAST(floor(b / 4) AS INT) + 1, 1)) - 1)
                 / power(2, 3 - (b % 4))) AS INT) % 2) - 1 AS c
    FROM bits
),
persum AS (SELECT doc_id, b, SUM(c) AS s FROM contrib GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN CAST(power(2, b) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS simhash
FROM persum GROUP BY 1
"""


def _simhash_fp_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED SimHash fingerprint index for ``sf_dir``'s documents:
    the (doc_id, simhash) relation ``dedup.simhash`` emits,
    materialized to scratch parquet ONCE per (sf_dir, documents
    mtime) and shared by the whole simhash family (dedup_simhash,
    dedup_simhash_pairs, dedup_simhash_hamming_hist) — fingerprints
    are write-once artifacts, so the token scan + 32-bit-sum groupBy
    runs once per corpus version instead of inline in every probe
    (mirrors the minhash band-index pattern, _minhash_corpus_index).
    The mtime in the path makes a regenerated testdata dir rebuild
    the index instead of serving stale fingerprints."""
    return stored_index(
        spark,
        sf_dir,
        "documents",
        "simhash_fp_index",
        "index.parquet",
        lambda: dedup.simhash(load_table(spark, sf_dir, "documents")),
    )


@query("dedup_simhash", _SIMHASH_ORACLE)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per doc (linear; near-dup = banded
    hamming probe on the fingerprint). Served from the stored
    write-once fingerprint index (_simhash_fp_index)."""
    return _simhash_fp_index(spark, sf_dir)


_SIMHASH_PAIRS_ORACLE = f"""
WITH fps AS ({_SIMHASH_ORACLE}),
bands AS (
    SELECT doc_id, simhash, b AS band, (simhash >> (8 * b)) & 255 AS bv
    FROM fps, (SELECT unnest(range(4)) AS b)
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
"""


@query("dedup_simhash_pairs", _SIMHASH_PAIRS_ORACLE)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded-hamming near-dup pairs (hamming ≤ 3): band
    bucket-join candidates + exact popcount verify — lossless at this
    radius by pigeonhole (4 bands, ≤3 differing bits). Fingerprints
    come from the stored index — per-probe cost is band join only."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(
        docs, fingerprints=_simhash_fp_index(spark, sf_dir)
    )


# Quantized-cosine near-dup: both engines L2-normalize in double
# (ordered fold), quantize to floor(x·2^20 + 0.5) int64, take EXACT
# integer dot products (order-independent → numpy matmul is legal on
# the Spark side), and round half-up to 6 digits — bit-identical.
_EMB_NEARDUP_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qv AS (
    SELECT vec_id,
           list_transform(v, x -> CAST(floor(
               x / sqrt(list_reduce(list_transform(v, y -> y*y),
                                    (a,b) -> a+b)) * 1048576.0 + 0.5
           ) AS BIGINT)) AS q
    FROM e
),
n AS (
    SELECT vec_id, q,
           sqrt(CAST(list_reduce(list_transform(q, x -> x*x),
                                 (a,b) -> a+b) AS DOUBLE)) AS nrm
    FROM qv
),
scored AS (
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           floor(
               CAST(list_reduce(
                    list_transform(range(64), i -> a.q[i+1] * b.q[i+1]),
                    (x,y) -> x+y) AS DOUBLE)
               / (a.nrm * b.nrm) * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT vec_id_a, vec_id_b, cosine FROM scored WHERE cosine >= 0.45
"""


# Incremental variant: batch = label 0 (the "new day's vectors"),
# corpus = every other label; same quantized-cosine math.
_EMB_INCR_ORACLE = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
qv AS (
    SELECT vec_id, label,
           list_transform(v, x -> CAST(floor(
               x / sqrt(list_reduce(list_transform(v, y -> y*y),
                                    (a,b) -> a+b)) * 1048576.0 + 0.5
           ) AS BIGINT)) AS q
    FROM e
),
n AS (
    SELECT vec_id, label, q,
           sqrt(CAST(list_reduce(list_transform(q, x -> x*x),
                                 (a,b) -> a+b) AS DOUBLE)) AS nrm
    FROM qv
),
scored AS (
    SELECT a.vec_id AS vec_id, b.vec_id AS dup_of,
           floor(
               CAST(list_reduce(
                    list_transform(range(64), i -> a.q[i+1] * b.q[i+1]),
                    (x,y) -> x+y) AS DOUBLE)
               / (a.nrm * b.nrm) * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM n a JOIN n b ON a.label = 0 AND b.label <> 0
)
SELECT vec_id, dup_of, cosine FROM scored WHERE cosine >= 0.45
"""


@query("dedup_embedding_incremental", _EMB_INCR_ORACLE)
def q_dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest embedding near-dup: the new batch (label 0)
    scored against the standing corpus by exact quantized cosine —
    corpus blocked and scanned once, batch replicated to each block
    (operators/dedup.py: embedding_incremental_near_dup)."""
    e = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_incremental_near_dup(
        e.filter(F.col("label") == 0), e.filter(F.col("label") != 0)
    )


@query("dedup_embedding_cosine", _EMB_NEARDUP_ORACLE)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, quantized cosine ≥ 0.45 — EXACT
    all-pairs via block-partitioned int64 matmul (no driver collect;
    B(B+1)/2 independent block-pair tasks)."""
    return dedup.embedding_near_dup(load_table(spark, sf_dir, "embeddings"))


@query("dedup_embedding_lsh")  # md5-hyperplane fold not SQL-expressible
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate embedding near-dup — the 100 TB path: multi-band
    sign-LSH candidate pruning + exact quantized-int verify of the
    admitted pairs only (recall vs the exact path asserted in
    tests/test_ext.py)."""
    return dedup.embedding_near_dup_lsh(load_table(spark, sf_dir, "embeddings"))


# -- multimodal ------------------------------------------------------------


@query(
    "multimodal_meta",
    """
SELECT doc_id,
       'application/octet-stream' AS mime,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS content_sha
FROM documents
""",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary payloads (payload column
    pruned out of the scan)."""
    return multimodal.payload_meta(load_table(spark, sf_dir, "documents"))


@query(
    "multimodal_framesample",
    """
WITH geo AS (
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           1 + octet_length(encode(text)) % 16 AS n_frames
    FROM documents
),
g2 AS (
    SELECT doc_id, n_frames,
           CAST(floor(n_bytes / n_frames) AS BIGINT) AS frame_bytes
    FROM geo
)
SELECT doc_id,
       CAST(f.i AS BIGINT) AS frame_idx,
       CAST(f.i AS BIGINT) * frame_bytes AS byte_offset,
       frame_bytes
FROM g2, unnest(range(0, n_frames, 4)) AS f(i)
""",
)
def q_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-4th-frame sampling addresses (index/offset/length) per
    payload — pure JVM arithmetic over metadata, the ranged-read plan
    a decoder fleet consumes."""
    return multimodal.frame_sample(load_table(spark, sf_dir, "documents"))


@query(
    "multimodal_decode",
    # The decode stub is deterministic arithmetic over the payload
    # bytes (operators/multimodal.py fake_decode_batch): width/height
    # from the first/last byte, n_frames from the length — so it IS
    # SQL-expressible.  Byte values come out of the hex dump so the
    # oracle stays byte-accurate even for non-ASCII text.
    """
WITH b AS (
    SELECT doc_id,
           hex(encode(text)) AS h,
           octet_length(encode(text)) AS n
    FROM documents
)
SELECT doc_id,
       CAST(64 + (CASE WHEN n = 0 THEN 0
                  ELSE CAST(concat('0x', substr(h, 1, 2)) AS INT) END) % 64
            AS INT) AS width,
       CAST(64 + (CASE WHEN n = 0 THEN 0
                  ELSE CAST(concat('0x', substr(h, 2 * n - 1, 2)) AS INT) END) % 64
            AS INT) AS height,
       CAST(1 + n % 16 AS INT) AS n_frames
FROM b
""",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode pass (decode itself is a
    deterministic stub — see operators/multimodal.py)."""
    return multimodal.decode_payloads(load_table(spark, sf_dir, "documents"))


@query("dedup_minhash_ml")  # seeded spark.ml hash family → rows-only
def q_dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.ml MinHashLSH near-dup variant (HashingTF → MinHashLSH →
    approxSimilarityJoin → exact verify); equivalence with the
    md5-family pipeline asserted in tests."""
    return dedup.minhash_dedup_ml(load_table(spark, sf_dir, "documents"))


_SEMDEDUP_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, v AS cv
    FROM e ORDER BY vec_id LIMIT 8
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
qv AS (
    SELECT vec_id,
           list_transform(v, x -> CAST(floor(
               x / sqrt(list_reduce(list_transform(v, y -> y*y),
                                    (a,b) -> a+b)) * 1048576.0 + 0.5
           ) AS BIGINT)) AS q
    FROM e
),
n AS (
    SELECT vec_id, q,
           sqrt(CAST(list_reduce(list_transform(q, x -> x*x),
                                 (a,b) -> a+b) AS DOUBLE)) AS nrm
    FROM qv
),
scored AS (
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           floor(
               CAST(list_reduce(
                    list_transform(range(64), i -> a.q[i+1] * b.q[i+1]),
                    (x,y) -> x+y) AS DOUBLE)
               / (a.nrm * b.nrm) * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM n a
    JOIN n b ON a.vec_id < b.vec_id
    JOIN assign sa ON sa.vec_id = a.vec_id
    JOIN assign sb ON sb.vec_id = b.vec_id
               AND sa.centroid_id = sb.centroid_id
)
SELECT vec_id_a, vec_id_b, cosine FROM scored WHERE cosine >= 0.45
"""


@query("dedup_semantic", _SEMDEDUP_ORACLE)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cluster-pruned embedding near-dup pairs — narrow
    centroid assignment, one exchange on centroid_id, exact quantized
    matmul per cluster. The bounded-quadratic scale path next to the
    exact all-pairs baseline and the LSH variant."""
    return dedup.semantic_dedup(load_table(spark, sf_dir, "embeddings"))


@query(
    "dedup_paragraph",
    r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
),
blk AS (
    SELECT doc_id, i AS blk_pos,
           array_to_string(list_slice(w, i*10 + 1, i*10 + 10), ' ') AS blk
    FROM toks,
         unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS t(i)
),
surv AS (
    SELECT doc_id, blk_pos, blk,
           row_number() OVER (
               PARTITION BY md5(blk) ORDER BY doc_id, blk_pos
           ) AS rn
    FROM blk
)
SELECT doc_id, COUNT(*) AS n_blocks_kept,
       string_agg(blk, ' ' ORDER BY blk_pos) AS clean_text
FROM surv WHERE rn = 1 GROUP BY 1
""",
)
def q_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style block-level exact dedup: 10-word blocks, global
    first-occurrence survivor, documents reassembled from surviving
    blocks (operators/dedup.py paragraph_dedup). Linear: one shuffle
    keyed on the block digest + one on doc_id."""
    return dedup.paragraph_dedup(load_table(spark, sf_dir, "documents"), block_words=10)


_KEEP_BEST_ORACLE = f"""
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
labels AS (SELECT doc AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY doc)
SELECT cluster_id, n_members, doc_id AS kept_doc_id,
       n_chars AS kept_n_chars
FROM (
    SELECT l.cluster_id, l.doc_id, d.n_chars,
           COUNT(*) OVER (PARTITION BY l.cluster_id) AS n_members,
           row_number() OVER (
               PARTITION BY l.cluster_id
               ORDER BY d.n_chars DESC, l.doc_id
           ) AS rn
    FROM labels l JOIN documents d USING (doc_id)
) WHERE rn = 1
"""


@query("dedup_cluster_keep_best", _KEEP_BEST_ORACLE)
def q_dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-survivor election per near-dup cluster: keep the
    highest-quality member (longest text, doc_id tiebreak) instead of
    the min-id default — the curation policy that retains the best
    copy. One doc_id join onto the component labels + one cluster-key
    aggregate (max_by carries the winner through map-side partial
    merges; no window over members). Pairs from the stored
    exact-pairs index."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pairs_index(spark, sf_dir)
    labels = dedup.dedup_clusters(pairs)
    j = labels.join(docs.select("doc_id", "n_chars"), "doc_id")
    return j.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")))
        ).alias("kept_doc_id"),
        F.max("n_chars").alias("kept_n_chars"),
    )


@query(
    "dedup_substring_windows",
    r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
),
wins AS (
    SELECT DISTINCT doc_id,
           md5(list_aggregate(w[i:i+9], 'string_agg', ' ')) AS wh
    FROM toks, unnest(range(1, len(w) - 8)) AS t(i)
    WHERE len(w) >= 10
),
dup AS (SELECT wh FROM wins GROUP BY wh HAVING COUNT(*) > 1),
per_doc AS (SELECT doc_id, COUNT(*) AS n_windows FROM wins GROUP BY 1),
per_dup AS (
    SELECT doc_id, COUNT(*) AS n_dup_windows
    FROM wins WHERE wh IN (SELECT wh FROM dup) GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(n_windows, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CASE WHEN COALESCE(n_windows, 0) > 0
            THEN CAST(COALESCE(n_dup_windows, 0) AS DOUBLE) / n_windows
            ELSE 0.0 END AS dup_frac
FROM documents d
LEFT JOIN per_doc USING (doc_id)
LEFT JOIN per_dup USING (doc_id)
""",
)
def q_dedup_substring_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 10-token exact-substring duplication coverage per doc
    (suffix-array-dedup diagnostic; dup_frac is the removal
    threshold). Served from the stored score relation."""
    return _substring_stats_index(spark, sf_dir)


_SIMHASH_HIST_ORACLE = f"""
WITH fps AS ({_SIMHASH_ORACLE}),
bands AS (
    SELECT doc_id, simhash, b AS band, (simhash >> (8 * b)) & 255 AS bv
    FROM fps, (SELECT unnest(range(4)) AS b)
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1
"""


@query("dedup_simhash_hamming_hist", _SIMHASH_HIST_ORACLE)
def q_dedup_simhash_hamming_hist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hamming-distance histogram over ALL band-admitted SimHash
    candidate pairs (no radius cut) — the threshold-tuning curve for
    the simhash dedup family: where the near-dup mass ends and the
    random-collision haze begins tells you the radius to run
    dedup_simhash_pairs at. Same banded candidate generation (never
    all-pairs); one |distinct-hamming|-row aggregate on top.
    Fingerprints come from the stored index (_simhash_fp_index) —
    the token scan no longer re-runs inline per probe."""
    return (
        dedup.simhash_pairs(
            load_table(spark, sf_dir, "documents"),
            max_hamming=32,
            fingerprints=_simhash_fp_index(spark, sf_dir),
        )
        .groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
    )


def _minhash_jhist_oracle() -> str:
    """Candidate generation identical to _minhash_oracle, but the
    final select buckets EVERY admitted pair's exact Jaccard into
    0.1-wide bins instead of thresholding."""
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
{_JACCARD_TAIL.lstrip()},
j AS (
    SELECT CAST(FLOOR(CAST(n_common AS DOUBLE)
                      / (sa.n + sb.n - n_common) * 10e0) AS BIGINT)
               AS bucket
    FROM inter i
    JOIN cand USING (doc_a, doc_b)
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM j GROUP BY 1
"""


@query("dedup_minhash_jaccard_hist", _minhash_jhist_oracle())
def q_dedup_minhash_jaccard_hist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-Jaccard histogram (0.1-wide bins) over ALL band-admitted
    MinHash candidates — the threshold-tuning curve for the MinHash
    family, twin of dedup_simhash_hamming_hist: where the near-dup
    mass separates from the banding haze is where the production
    threshold goes. Same candidate-bounded machinery as
    dedup_minhash (threshold 0 keeps every admitted pair); the
    bucket is floor(j·10) — double multiply + floor, deterministic
    both engines. Reads the stored verified-pairs index unfiltered —
    the artifact IS this query's input relation."""
    pairs = _minhash_pairs_index(spark, sf_dir)
    return (
        pairs.select(
            F.floor(F.col("jaccard") * F.lit(10.0))
            .cast("bigint")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_pairs"))
    )


# -- Incremental SimHash dedup ---------------------------------------------
# Completes the incremental-dedup family across all four signatures:
# exact hash (dedup_incremental), MinHash (dedup_minhash_incremental),
# embedding (dedup_embedding_incremental) — and now SimHash. The
# corpus side is the STORED fingerprint index (_simhash_fp_index);
# only the day's batch is fingerprinted fresh.

_SIMHASH_INCR_ORACLE = r"""
WITH w AS (
    SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
),
tok AS (SELECT DISTINCT doc_id, unnest(w) AS tok FROM w),
bits AS (
    SELECT doc_id, md5(tok) AS h, b
    FROM tok, (SELECT unnest(range(32)) AS b)
),
contrib AS (
    SELECT doc_id, b,
           2 * (CAST(floor(
                 (instr('0123456789abcdef',
                        substr(h, CAST(floor(b / 4) AS INT) + 1, 1)) - 1)
                 / power(2, 3 - (b % 4))) AS INT) % 2) - 1 AS c
    FROM bits
),
persum AS (SELECT doc_id, b, SUM(c) AS s FROM contrib GROUP BY 1, 2),
fps AS (
    SELECT p.doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN CAST(power(2, b) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS simhash,
           MIN(w.source) AS source
    FROM persum p JOIN w ON w.doc_id = p.doc_id
    GROUP BY 1
),
bands AS (
    SELECT doc_id, simhash, source,
           b AS band, (simhash >> (8 * b)) & 255 AS bv
    FROM fps, (SELECT unnest(range(4)) AS b)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_id, c.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, c.simhash)) AS BIGINT) AS hamming
    FROM bands a
    JOIN bands c ON a.band = c.band AND a.bv = c.bv
    WHERE a.source = 'src0' AND c.source <> 'src0'
),
hit AS (SELECT * FROM cand WHERE hamming <= 3)
SELECT doc_id,
       CAST(min_by(doc_b, hamming * 281474976710656 + doc_b) AS BIGINT)
           AS dup_of,
       MIN(hamming) AS hamming
FROM hit GROUP BY doc_id
"""


@query("dedup_simhash_incremental", _SIMHASH_INCR_ORACLE)
def q_dedup_simhash_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily-ingest SimHash near-dup: BOTH sides are served from the
    STORED fingerprint index (_simhash_fp_index covers
    the full table including today's batch — the index is keyed on
    the documents mtime, so a new ingest day rebuilds it), split into
    batch (source='src0') vs standing corpus, banded, and probed at
    hamming <= 3; per batch doc the closest corpus partner (ties ->
    smallest doc_id) -> (doc_id, dup_of, hamming). Completes the
    incremental-dedup family (exact hash / MinHash / embedding /
    SimHash). At 100 TB the same shape holds with an append-only
    index: fingerprint only the new day's partition and union it into
    the stored relation — fingerprints are write-once artifacts.

    Scale shape: standing per-day cost is batchx4 band keys
    equi-joined against the index's band projection — the corpus is
    never re-tokenized; the banded search is lossless at radius 3 by
    pigeonhole; the per-doc winner is min_by through map-side partial
    merges, no window over candidates."""

    docs = load_table(spark, sf_dir, "documents")
    idx = _simhash_fp_index(spark, sf_dir)
    batch_ids = docs.filter(F.col("source") == "src0").select("doc_id")
    corpus_ids = docs.filter(F.col("source") != "src0").select("doc_id")

    def _bands(fp: DataFrame) -> DataFrame:
        return fp.select(
            "doc_id",
            "simhash",
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col("simhash"), 8 * k).bitwiseAND(
                            F.lit(255)
                        )
                        for k in range(4)
                    ]
                )
            ).alias("band", "bv"),
        )

    b = _bands(idx.join(batch_ids, "doc_id", "left_semi")).alias("b")
    c = _bands(idx.join(corpus_ids, "doc_id", "left_semi")).alias("c")
    cand = (
        b.join(
            c,
            (F.col("b.band") == F.col("c.band"))
            & (F.col("b.bv") == F.col("c.bv")),
        )
        .select(
            F.col("b.doc_id").alias("doc_id"),
            F.col("c.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("b.simhash").bitwiseXOR(F.col("c.simhash"))
            )
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )
    # composite scalar min_by key (hamming in the high bits — it fits
    # in 2 bits, doc ids far below 2^48); a struct key would work in
    # Spark but DuckDB's min_by needs a scalar, so both engines rank
    # by the identical bigint
    key = F.col("hamming") * F.lit(1 << 48) + F.col("doc_b")
    return cand.groupBy("doc_id").agg(
        F.min_by("doc_b", key).alias("dup_of"),
        F.min("hamming").alias("hamming"),
    )


# -- Multimodal shard manifest ----------------------------------------------
# WebDataset-style shard layout for binary payloads: items in id order,
# each blob WHOLE in the shard where its start offset falls.

_SHARD_BYTES = 65536


_SHARD_MANIFEST_ORACLE = f"""
WITH m AS (
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
),
c AS (
    SELECT doc_id, n_bytes,
           SUM(n_bytes) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
               - n_bytes AS cb
    FROM m
),
s AS (
    -- cb is a window SUM → HUGEINT in DuckDB; without the cast the
    -- result column surfaces as decimal128 through Arrow and the
    -- driver's value-hash diverges from Spark's BIGINT even though
    -- row-sorted equality passes (CORRECTNESS_r10's only hash-fail).
    SELECT CAST(cb // {_SHARD_BYTES} AS BIGINT) AS shard_id,
           doc_id, n_bytes
    FROM c
)
SELECT shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(n_bytes) AS BIGINT) AS bytes_total,
       CAST(MIN(doc_id) AS BIGINT) AS first_id,
       CAST(MAX(doc_id) AS BIGINT) AS last_id
FROM s GROUP BY 1
"""


@query("multimodal_shard_manifest", _SHARD_MANIFEST_ORACLE)
def q_multimodal_shard_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WebDataset-style shard manifest over the binary payload lake:
    blobs laid out in doc_id order, each landing WHOLE in the 64 KiB
    shard where its start offset falls → (shard_id, n_items,
    bytes_total, first_id, last_id). The tar-shard layout step every
    multimodal training pipeline runs between curation and the data
    loader — contiguous id ranges per shard (manifest IS the index),
    deterministic, and resumable.

    Scale shape: the distributed prefix-sum idiom of pack_sequences
    (operators/packing.py byte_shard_manifest) — corpus-wide running
    totals are bucket-partitioned windows; the only GLOBAL window
    runs over the tiny per-bucket totals relation; assignment is then
    a narrow integer division and the manifest a map-side-combined
    aggregate. Start-offset sharding trades ≤ one-item overshoot per
    shard for a fully parallel layout (greedy close-at-budget is
    inherently sequential)."""
    meta = multimodal.payload_meta(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "n_bytes"
    )
    return packing.byte_shard_manifest(meta, shard_bytes=_SHARD_BYTES)


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
    docs = load_table(spark, sf_dir, "documents")
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
    recall 0.706). ``dedup_payload_cdc`` (content-defined
    chunks, precision 1.000 / recall 0.992 at sf0.1, ~2.5x faster) is
    the production path; this query remains the byte-granularity
    calibration surface where it is bimodal-clean (sf0.001/sf0.01 —
    their >= 0.5 pair sets are identical, pytest'd)."""
    # r15 optimization (guide §4.2 + §2.3): grams come from the
    # vectorized int64-packing kernel (one Arrow hop, per-doc distinct
    # inside the kernel — no corpus-wide .distinct() exchange); the
    # packed int64 is a BIJECTION of the original 16-hex-char
    # substring, so every downstream equality/count is exactly
    # preserved while the shuffles move 8-byte ints instead of
    # 16-char strings. Equivalence pytest'd in
    # tests/test_round15_opt.py; oracle unchanged.
    b = (
        multimodal.attach_payload(load_table(spark, sf_dir, "documents"))
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
    # r15 optimization: int64-packed gram kernel (see
    # q_dedup_payload_shingle) with `source` carried through the
    # kernel — the old per-byte hex-substring transform, the
    # corpus-wide .distinct() exchange AND the doc_id self-join that
    # only re-attached `source` are gone (attach_payload's payload is
    # encode(text) by definition, so projecting it directly alongside
    # source computes the identical relation without the join).
    b = (
        load_table(spark, sf_dir, "documents")
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
# semantics in play); the Spark side's table is
# ``operators.multimodal.GEAR``.
#
# Boundary mask parameterized: mask 64 -> ~64-byte chunks
# (the storage/backup manifest); mask 16 -> ~16-byte chunks (the
# near-dup pair finder's resolution, dedup_payload_cdc —
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
    multimodal_cdc_chunks (mask 64) and dedup_payload_cdc's pair
    queries (mask 16).

    r15 optimization (guide §4.2): the manifest comes from the
    vectorized Arrow kernel ``operators.multimodal.cdc_manifest_np``
    — byte-identical output to the pure-SQL per-byte fold kept below
    as ``_cdc_manifest_sql`` (equivalence pytest'd at sf0.001 in
    tests/test_round15_opt.py; the oracle is unchanged). Measured at
    sf0.1 solo: multimodal_cdc_chunks 6.0 s -> see OPTIMIZATION_r15.md."""
    return multimodal.cdc_manifest_np(load_table(spark, sf_dir, "documents"), mask=mask)


def _cdc_manifest_sql(
    spark: SparkSession, sf_dir: str, mask: int = 64
) -> DataFrame:
    """Pure-SQL per-byte gear fold (the original formulation) — kept
    as the reference twin for the kernel-equivalence test."""
    b = multimodal.attach_payload(load_table(spark, sf_dir, "documents")).select(
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
    g_lit = "array(" + ", ".join(f"{v}L" for v in GEAR) + ")"
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


# -- Dedup method-overlap matrix (the dedup-matrix capstone) ------------------
# The engine ships three text near-dup detectors (exact hash, MinHash
# +LSH verified Jaccard >= 0.8, SimHash hamming <= 3). Which docs does
# each actually flag, and how much do they agree? The UpSet-style
# overlap matrix — one row per (exact, minhash, simhash) flag combo —
# is the report a curation owner reads before picking the production
# detector stack, and the cross-method consistency check the three
# families have not had in one relation.


def _overlap_oracle() -> str:

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
    docs = load_table(spark, sf_dir, "documents")
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


# ~16-byte average chunks for the pair finder: at the storage mask
# (64) a 2-chunk payload cannot separate an edited near-dup from a
# coincidental 1-chunk overlap (measured at sf0.001: both score
# j=1/3, c=1/2); at mask 16 the corpus is cleanly bimodal (true pairs
# j >= 0.5, best non-pair j <= 1/3 at sf0.001 and <= 1/7 at sf0.01)
# and the >= 0.5 pair set equals dedup_payload_shingle's exactly.
_CDC_PAIR_MASK = 16


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
    m = multimodal.cdc_chunks_np(
        load_table(spark, sf_dir, "documents"), mask=_CDC_PAIR_MASK
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
    docs = load_table(spark, sf_dir, "documents")
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


# -- dedup_bloom_incremental -----------------------------------------------------
# dedup_incremental anti-joins the WHOLE batch against the corpus hash
# index — correct, but at 100 TB the common case is a tiny mostly-novel
# delta, and shuffling it against a 10^9-row hash index to discover
# "no match" is wasted motion. The production shape inserts a BLOOM
# prefilter: the corpus's k=3 bit positions materialize as a bounded
# DISTINCT (seed, pos) relation (<= k x m rows regardless of corpus
# size), broadcast to the batch; only rows whose 3 positions all hit
# proceed to the exact verify join. False positives cost one extra
# verify probe and never reach the output — the result is EXACTLY the
# dup map, which is what the oracle checks. Sizing: m bits ~ 1.44*k*n
# for ~5% FP; the constant here (2^17) fits the test corpus and is a
# constructor knob, not a semantic.

_BLOOM_M = 1 << 17


_BLOOM_SEEDS = (0, 1, 2)


_BLOOM_PREFIX = 100


_BLOOM_ORACLE = f"""
WITH batch AS (
    SELECT doc_id, md5(substr(lower(trim(text)), 1, {_BLOOM_PREFIX})) AS h
    FROM documents WHERE doc_id % 10 = 7 AND text IS NOT NULL
),
corpus AS (
    SELECT doc_id, md5(substr(lower(trim(text)), 1, {_BLOOM_PREFIX})) AS h
    FROM documents WHERE doc_id % 10 <> 7 AND text IS NOT NULL
)
SELECT b.doc_id, CAST(MIN(c.doc_id) AS BIGINT) AS dup_of,
       CAST(COUNT(*) AS BIGINT) AS n_corpus_copies
FROM batch b JOIN corpus c ON b.h = c.h
GROUP BY b.doc_id
"""


@query("dedup_bloom_incremental", _BLOOM_ORACLE)
def q_dedup_bloom_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental dup MAP behind a bloom prefilter → (doc_id, dup_of,
    n_corpus_copies): for each new-batch doc (doc_id % 10 == 7) whose
    prefix fingerprint (md5 of the first 100 normalized chars — the
    CCNet/C4-style cheap near-exact key; whole-document hashing is
    dedup_incremental's job) already exists in the standing corpus,
    the earliest corpus holder and the copy count. The complement of
    dedup_incremental's survivor set, with provenance — what a
    suppression log or a "near-miss ingest" dashboard consumes.

    Plan: corpus hashes → k=3 xxhash64 bit positions → DISTINCT
    (seed, pos) bloom relation (<= 3 x 2^17 rows, broadcast); the
    batch passes 3 broadcast LEFT SEMI joins (one per seed — a row
    survives only if every position is set) and only the survivors
    reach the exact hash-equality verify join. Bloom false positives
    die at the verify; the output is exact, so the SQL oracle carries
    no bloom at all. At 100 TB: the corpus is scanned once into the
    bounded bloom relation + its hash index; the (tiny) batch never
    shuffles against the corpus until it is candidate-pruned.
    """
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(
        F.substring(F.lower(F.trim(F.col("text"))), 1, _BLOOM_PREFIX)
    ).alias("h")
    batch = d.filter(
        (F.col("doc_id") % 10 == 7) & F.col("text").isNotNull()
    ).select("doc_id", h)
    corpus = d.filter(
        (F.col("doc_id") % 10 != 7) & F.col("text").isNotNull()
    ).select("doc_id", h)

    pruned = batch
    for s in _BLOOM_SEEDS:
        bits = corpus.select(
            F.pmod(F.xxhash64(F.lit(s), F.col("h")), F.lit(_BLOOM_M))
            .alias(f"pos{s}")
        ).distinct()
        pruned = pruned.withColumn(
            f"pos{s}",
            F.pmod(F.xxhash64(F.lit(s), F.col("h")), F.lit(_BLOOM_M)),
        ).join(F.broadcast(bits), f"pos{s}", "left_semi")
    pruned = pruned.select("doc_id", "h")

    return (
        pruned.join(
            corpus.select(F.col("doc_id").alias("c_doc_id"), "h"), "h"
        )
        .groupBy("doc_id")
        .agg(
            F.min("c_doc_id").cast("bigint").alias("dup_of"),
            F.count("*").cast("bigint").alias("n_corpus_copies"),
        )
    )


# -- multimodal_nibble_entropy ----------------------------------------------------
# Byte-level Shannon entropy flags payloads that are already
# compressed/encrypted (recompression is wasted work; near-zero
# entropy flags corruption/padding). Exact byte histograms need 256
# counters; the hex-NIBBLE histogram (16 counters) is the cheap proxy
# both engines can compute with pure string built-ins — and the
# entropy sum is written as an explicit 16-term left-to-right
# expression so the doubles are bit-identical cross-engine.

_NIBBLES = "0123456789ABCDEF"


def _nibble_terms(h: str, ln: str) -> str:
    """Entropy in MICRO-NATS as an exact int64 sum: each nibble's
    -(c/L)*ln(c/L) term is floor(term*1e6 + 0.5)-quantized to BIGINT
    before summing (the profile_column_entropy discipline) — JVM and
    libm ln() can differ by 1 ulp on some inputs (measured: 11/500
    docs on the raw 16-term double sum), and per-term quantization
    makes that harmless except on measure-zero boundary inputs."""
    terms = []
    for c in _NIBBLES:
        cnt = f"(length({h}) - length(replace({h}, '{c}', '')))"
        pp = f"(CAST({cnt} AS DOUBLE) / CAST({ln} AS DOUBLE))"
        terms.append(
            f"(CASE WHEN {cnt} > 0 THEN CAST(FLOOR(-({pp} * ln({pp}))"
            f" * 1000000e0 + 0.5e0) AS BIGINT) ELSE 0 END)"
        )
    return "(CAST((" + " + ".join(terms) + ") AS DOUBLE) / 1000000e0)"


_ENTROPY_ORACLE = f"""
WITH p AS (
    SELECT doc_id, upper(hex(encode(text))) AS h,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents WHERE text IS NOT NULL AND length(text) > 0
)
SELECT doc_id, n_bytes,
       {_nibble_terms('h', '(n_bytes * 2)')} AS entropy_nats,
       CASE WHEN {_nibble_terms('h', '(n_bytes * 2)')} < 1.5e0
            THEN 'low' ELSE 'normal' END AS entropy_class
FROM p
"""


@query("multimodal_nibble_entropy", _ENTROPY_ORACLE)
def q_multimodal_nibble_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Payload nibble-entropy screen → (doc_id, n_bytes, entropy_nats,
    entropy_class): Shannon entropy of the payload's hex-nibble
    distribution (16-symbol proxy for the byte histogram — max ln 16 ≈
    2.77 nats). 'low' (< 1.5 nats) marks degenerate/padded payloads;
    already-compressed bytes sit near the maximum, telling a 100 TB
    ingest which payloads to skip recompressing.

    Scale shape: map-only at scale (zero Exchange — the local
    spread_scan branch below is a no-op there) — one hex projection
    and 16 fixed-order count/entropy terms per row, all JVM string
    built-ins; the payload column never shuffles at scale. The decode-free sibling
    of multimodal_decode's stubbed feature extraction.
    """
    d = load_table(spark, sf_dir, "documents")

    # r15: the query is map-only (zero Exchange), so the whole
    # hex + 16-term entropy fold ran as ONE task on the
    # single-row-group local file. spread_scan parallelizes the map
    # work and is a no-op at scale (guide §2.5); row-map output is
    # partitioning-independent.
    p = attach_payload(
        spread_scan(
            d.filter(F.col("text").isNotNull() & (F.length("text") > 0)),
            "doc_id",
        )
    ).select(
        "doc_id",
        F.upper(F.hex(F.col("payload"))).alias("h"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )
    ent = F.expr(_nibble_terms("h", "(n_bytes * 2)"))
    return p.select(
        "doc_id",
        "n_bytes",
        ent.alias("entropy_nats"),
        F.when(ent < 1.5, F.lit("low"))
        .otherwise(F.lit("normal"))
        .alias("entropy_class"),
    )
