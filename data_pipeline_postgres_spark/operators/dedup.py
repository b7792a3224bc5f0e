"""Deduplication operators for LLM-training-data pipelines
(SURVEY.md §2.11 [EXT]; grounded in the driver's ``documents`` and
``embeddings`` tables — the reference pipeline has no dedup surface).

Scale design (the point of each operator at 100 TB):

- **exact**: one shuffle on a 256-bit content hash; map-side partial
  aggregation collapses most duplicates before the exchange.
- **minhash LSH**: per-doc signature is narrow (explode shingles →
  groupBy doc×band = one shuffle keyed by doc_id); candidate generation
  shuffles on *band key* (small, uniform); verification joins only the
  candidate pairs, never the full cross product. This is the textbook
  shingle→minhash→band→bucket-join pipeline: cost O(docs × shingles)
  + O(candidates), not O(docs²).
- **simhash**: single explode + one groupBy(doc) — linear, no pairwise
  stage at all; near-dup lookup is then an equality/band probe on the
  64-bucket fingerprint space.
- **n-gram Jaccard**: exact pairwise scores via shingle equi-join —
  quadratic in bucket size, so at scale it runs AFTER an LSH/band
  filter (as minhash's verify step does); exposed standalone for
  small/bucketed inputs and as the oracle-checkable ground truth.
- **embedding cosine**: brute pairwise is the correctness baseline;
  the scale path buckets by sign-LSH first (similarity.py).

All hashes are lowercase-hex md5 strings compared lexicographically —
bit-identical in DuckDB, so every operator here is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions import vectors as V


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup on normalized content hash; survivor = min doc_id
    per hash group. Returns (doc_id, text_hash, n_copies).

    Replaces nothing in the reference (it has no dedup); the idiom is
    sha2(normalized text) → hash-shuffle groupBy. At 100 TB the groupBy
    does map-side partial min/count, so the exchange carries one row
    per distinct hash per partition.
    """
    return (
        docs.select(
            F.col("doc_id"),
            F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("text_hash"),
        )
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("doc_id", "text_hash", "n_copies")
    )


def _content_hash(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("text_hash"),
    )


def incremental_dedup(new: DataFrame, corpus: DataFrame) -> DataFrame:
    """Cross-snapshot dedup: drop new-batch docs whose normalized
    content hash already exists in the corpus, then dedup within the
    batch (survivor = min doc_id). Returns (doc_id, text_hash).

    The daily-ingest idiom at 100 TB: the anti-join shuffles BOTH
    sides by hash (never materializes the corpus anywhere), and the
    corpus side projects to the bare hash column before the exchange.
    With AQE runtime filters on, the new batch's hashes additionally
    bloom-prune the corpus scan — the common case (tiny delta vs huge
    corpus) reads a fraction of the corpus hash index.

    NULL-text docs hash to NULL: they group together WITHIN the batch
    but are never suppressed by corpus nulls (equality of missing
    content is unknowable); the SQL oracle mirrors this with NOT
    EXISTS, whose null equality matches the anti-join's. Property
    tested in tests/test_dedup_properties.py.
    """
    fresh = _content_hash(new).join(
        _content_hash(corpus).select("text_hash"), "text_hash", "left_anti"
    )
    return (
        fresh.groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text_hash")
    )


def doc_shingles(
    docs: DataFrame, n: int = 3, distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles per document: (doc_id, shingle).

    ``distinct=True`` (set semantics, needed for Jaccard counting)
    costs a shuffle; min-hashing is idempotent under duplicates, so
    the signature path passes ``distinct=False`` and skips it.

    r15: the input is spread across cores first (catalog.spread_scan
    — a no-op at real scale) so the tokenize + shingle + explode, the
    dominant cost of every shingle consumer, never runs as one task
    on the single-row-group test files (guide §2.5).
    """
    from ..catalog import spread_scan

    sh = spread_scan(docs, "doc_id").select(
        "doc_id",
        F.explode(TX.word_shingles(TX.tokens("text"), n)).alias("shingle"),
    )
    return sh.distinct() if distinct else sh


# Universal-hash MinHash family (Broder/Carter-Wegman): ONE md5 per
# shingle gives a 60-bit base hash h; slot i applies the affine map
# (a_i·(h mod p) + b_i) mod p over the Mersenne prime p = 2^31-1 —
# pairwise-independent, and 8× fewer md5 evaluations than hashing the
# shingle once per slot (md5 dominates signature cost at scale).
# Constants are md5-derived so Spark and the DuckDB oracle share them
# as literals.
MINHASH_P = (1 << 31) - 1


def _affine_const(tag: str, i: int) -> int:
    import hashlib

    x = int(hashlib.md5(f"{tag}{i}".encode()).hexdigest()[:8], 16)
    return (x % (MINHASH_P - 1)) + 1  # 1 .. p-1


MINHASH_A = [_affine_const("a", i) for i in range(16)]
MINHASH_B = [_affine_const("b", i) for i in range(16)]


def minhash_base(shingle: Column) -> Column:
    """60-bit base hash of a shingle, reduced mod p: first 15 hex
    digits of md5 as an integer (identical arithmetic in DuckDB via
    ``('0x' || substr(md5(s),1,15))::BIGINT``)."""
    return (
        F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("bigint")
        % F.lit(MINHASH_P)
    )


def _minhash_sig(slot: int, base: Column) -> Column:
    """Minhash slot ``slot``: affine transform of the base hash,
    min-reduced over a doc's shingles."""
    return (
        F.lit(MINHASH_A[slot]) * base + F.lit(MINHASH_B[slot])
    ) % F.lit(MINHASH_P)


def minhash_bands(
    shingles: DataFrame, bands: int = 4, rows: int = 2
) -> DataFrame:
    """Per-doc LSH band keys: (doc_id, band, band_key).

    band_key = concat of the band's ``rows`` minhash values; two docs
    land in the same bucket for a band iff all ``rows`` slots agree.

    All bands·rows min-slots are aggregate expressions of ONE
    groupBy(doc_id) over the raw shingle rows — no band explode, so
    the only shuffle carries the shingles once (map-side partial min
    collapses most of it), not ×bands copies; and ONE md5 per shingle
    row (the affine universal-hash family derives every slot from the
    same base hash). The per-band rows come from a stack (posexplode)
    of the tiny aggregated relation (docs × bands).
    """
    base = shingles.select(
        "doc_id", minhash_base(F.col("shingle")).alias("h")
    )
    aggs = [
        F.min(_minhash_sig(b * rows + r, F.col("h"))).alias(f"mh_{b}_{r}")
        for b in range(bands)
        for r in range(rows)
    ]
    sig = base.groupBy("doc_id").agg(*aggs)
    band_keys = F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col(f"mh_{b}_{r}") for r in range(rows)],
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        "doc_id",
        F.posexplode(band_keys).alias("band", "band_key"),
    )


def minhash_candidates(band_keys: DataFrame) -> DataFrame:
    """Candidate pairs: docs sharing ≥1 band bucket → (doc_a, doc_b).

    Self-join on band_key (small uniform key → well-distributed
    shuffle; AQE skew-split handles hot buckets), then distinct.
    """
    a = band_keys.alias("a")
    b = band_keys.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame,
    candidates: DataFrame | None = None,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-Jaccard pairs ≥ threshold:
    (doc_a, doc_b, jaccard).

    Intersections come from a shingle equi-join (never a cross join).
    When ``candidates`` is given (the LSH path), the candidate pairs
    DRIVE the join — shingles are joined onto the pair list, so the
    pairwise stage costs O(candidates × shingles-per-doc), not
    O(all shingle-sharing pairs). That asymmetry is the entire point
    of LSH at 100 TB: verification work scales with what the bands
    admitted, never with corpus size squared. jaccard =
    |∩| / (|A|+|B|-|∩|) — exact integer division to double,
    deterministic for the oracle hash.
    """
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    if candidates is not None:
        sh_a = shingles.select(
            F.col("doc_id").alias("doc_a"), "shingle"
        )
        sh_b = shingles.select(
            F.col("doc_id").alias("doc_b"), "shingle"
        )
        inter = (
            candidates.join(sh_a, "doc_a")
            .join(sh_b, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_common"))
        )
    else:
        a = shingles.alias("sa")
        b = shingles.alias("sb")
        inter = (
            a.join(
                b,
                (F.col("sa.shingle") == F.col("sb.shingle"))
                & (F.col("sa.doc_id") < F.col("sb.doc_id")),
            )
            .groupBy(
                F.col("sa.doc_id").alias("doc_a"),
                F.col("sb.doc_id").alias("doc_b"),
            )
            .agg(F.count("*").alias("n_common"))
        )
    na = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")
    )
    nb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")
    )
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    shingles: DataFrame,
    candidates: DataFrame | None = None,
    threshold: float = 0.9,
) -> DataFrame:
    """Exact shingle-CONTAINMENT pairs: (doc_a, doc_b, containment)
    with containment = |A ∩ B| / min(|A|, |B|) ≥ threshold.

    Jaccard misses the boilerplate/quotation shape — a short document
    wholly embedded in a much longer one scores a tiny |∩|/|∪| but a
    containment of 1.0. Broder's containment coefficient (the measure
    resemblance sketches were originally paired with) normalizes by
    the SMALLER side, so "A is (mostly) inside B" surfaces regardless
    of the length ratio.

    Same scale shape as ``jaccard_pairs``: intersections come from a
    shingle equi-join (never a cross join), and when ``candidates``
    (e.g. from minhash bands) is given it DRIVES the join so the
    pairwise stage costs O(candidates × shingles-per-doc), not
    O(shingle-sharing pairs). Exact integer division to double.
    """
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    if candidates is not None:
        sh_a = shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
        sh_b = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
        inter = (
            candidates.join(sh_a, "doc_a")
            .join(sh_b, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_common"))
        )
    else:
        a = shingles.alias("sa")
        b = shingles.alias("sb")
        inter = (
            a.join(
                b,
                (F.col("sa.shingle") == F.col("sb.shingle"))
                & (F.col("sa.doc_id") < F.col("sb.doc_id")),
            )
            .groupBy(
                F.col("sa.doc_id").alias("doc_a"),
                F.col("sb.doc_id").alias("doc_b"),
            )
            .agg(F.count("*").alias("n_common"))
        )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / F.least(F.col("n_a"), F.col("n_b"))
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def minhash_dedup(
    docs: DataFrame,
    n: int = 3,
    bands: int = 4,
    rows: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle → minhash → band →
    bucket-join → exact-Jaccard verify. Returns verified pairs
    (doc_a, doc_b, jaccard) with jaccard ≥ threshold.

    False positives from banding are removed by the verify step, so
    the output is exact *given* the candidate set; recall is governed
    by (bands, rows) — P(candidate) = 1-(1-j^rows)^bands.

    Cost shape (the 100 TB contract): signatures read RAW shingles
    (no distinct — min is duplicate-proof), so the only corpus-wide
    shuffle is the per-doc signature groupBy; the set-semantic
    distinct needed for exact Jaccard runs solely over docs the bands
    admitted (a semi-join), i.e. verification cost tracks the
    candidate volume, never corpus².
    """
    # The candidate list feeds TWO downstream branches (the admitted-doc
    # semi-join and the intersection join); without a cut, each branch
    # re-runs the whole shingle→signature→bucket-join pipeline. The
    # pair list is tiny by construction (what the bands admitted), so
    # materializing it is the standard cut: signatures compute ONCE.
    cands = minhash_candidates(
        minhash_bands(doc_shingles(docs, n, distinct=False), bands, rows)
    ).localCheckpoint()
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    cand_docs = docs.join(cand_ids, "doc_id", "left_semi")
    return jaccard_pairs(doc_shingles(cand_docs, n), cands, threshold)


def minhash_incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    n: int = 3,
    bands: int = 4,
    rows: int = 2,
    threshold: float = 0.8,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Daily-ingest NEAR-dup check: which new-batch docs are near-dups
    (shingle Jaccard ≥ threshold) of something already in the corpus —
    the fuzzy sibling of ``incremental_dedup``'s exact-hash anti-join.
    Returns (doc_id, dup_of, jaccard): one row per duplicated batch
    doc; dup_of = its smallest matching corpus doc (deterministic).

    Cost shape at 100 TB: band keys are computed for the batch fresh,
    and the corpus side is the (doc_id, band_key) relation
    ``minhash_bands`` emits — pass it as ``corpus_bands`` to use a
    STORED index maintained at ingest (append-only, one row per
    doc·band; see plans/queries_dedup._minhash_corpus_index for the
    materialized-parquet path and streaming/jobs.stream_minhash_dedup
    for the append-only streaming variant), so the standing cost per
    day is one band-key equi-join of |batch|·bands rows against the
    index, never a corpus re-shingle. With ``corpus_bands=None`` the
    index is recomputed from ``corpus`` (ground-truth mode).
    Verification (the only shingle-level work) is driven by the
    admitted pairs: exact-Jaccard cost tracks candidate volume, and
    only admitted docs' shingles are re-materialized (semi-join), so
    nothing scales with corpus×batch.

    A doc_id present on BOTH sides is treated as the batch
    superseding the corpus row: corpus rows sharing a batch doc_id
    are anti-joined out before candidate generation and
    verification, so a re-ingested doc can never merge two texts'
    shingles under one id (which would corrupt every Jaccard
    involving it).
    """
    batch_ids = batch.select("doc_id")
    corpus = corpus.join(batch_ids, "doc_id", "left_anti")
    bb = minhash_bands(doc_shingles(batch, n, distinct=False), bands, rows)
    cb = (
        corpus_bands.join(batch_ids, "doc_id", "left_anti")
        if corpus_bands is not None
        else minhash_bands(doc_shingles(corpus, n, distinct=False), bands, rows)
    )
    # pair list is tiny (band-admitted only); cut it so the signature
    # pipelines run once (same materialization rationale as
    # minhash_dedup)
    cands = (
        bb.select(F.col("doc_id").alias("doc_a"), "band_key")
        .join(
            cb.select(F.col("doc_id").alias("doc_b"), "band_key"),
            "band_key",
        )
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint()
    )
    batch_ids = cands.select(F.col("doc_a").alias("doc_id")).distinct()
    corpus_ids = cands.select(F.col("doc_b").alias("doc_id")).distinct()
    admitted = batch.join(batch_ids, "doc_id", "left_semi").unionByName(
        corpus.join(corpus_ids, "doc_id", "left_semi")
    )
    # r15 (guide §2.4): pin the admitted-docs shingle relation —
    # jaccard_pairs consumes it THREE times (sizes + both join
    # sides), and each consumer otherwise re-embeds the whole
    # batch∪corpus semi-join + tokenize lineage (20 documents scans
    # in the incremental query's plan). The relation is candidate-
    # bounded (admitted docs only), so the pin is small at any scale.
    sh = doc_shingles(admitted, n).localCheckpoint(eager=False)
    pairs = jaccard_pairs(sh, cands, threshold)
    from pyspark.sql import Window

    w = Window.partitionBy("doc_a").orderBy("doc_b")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("dup_of"),
            "jaccard",
        )
    )


# -- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(docs: DataFrame) -> DataFrame:
    """32-bit SimHash fingerprint per doc: (doc_id, simhash).

    One md5 per distinct token; its first 8 hex digits become a
    32-bit integer (``conv(hex, 16, 10)``), and all 32 bit
    contributions are extracted from that ONE value with
    ``shiftright & 1`` inside 32 aggregate expressions of a single
    groupBy(doc_id). Bit b (MSB-first, matching the hex-digit oracle)
    = bit (31-b) of the integer; majority over tokens
    (s_b = 2·Σbit_b − n > 0) sets bit b of the fingerprint.

    Cost: ONE explode (distinct tokens) + one shuffle — no bit-slot
    row amplification (the previous form exploded tokens × 32).
    Near-dup probing is a banded-hamming lookup: simhash_pairs.
    """
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(TX.tokens("text"))).alias("tok")
    )
    val = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast(
        "bigint"
    )
    pertok = toks.select("doc_id", val.alias("val"))
    bit_sums = [
        F.sum(
            F.shiftright(F.col("val"), 31 - b).bitwiseAND(F.lit(1))
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = pertok.groupBy("doc_id").agg(F.count("*").alias("n"), *bit_sums)
    fp = F.lit(0).cast("bigint")
    for b in range(SIMHASH_BITS):
        fp = fp + F.when(
            F.col(f"s{b}") * 2 - F.col("n") > 0,
            F.lit(1 << b).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
    return agg.select("doc_id", fp.alias("simhash"))


SIMHASH_BANDS = 4  # 4 bands × 8 bits


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Banded-hamming near-dup pairs over the SimHash fingerprint:
    (doc_a, doc_b, hamming) with hamming ≤ ``max_hamming``.

    The 32-bit fingerprint splits into 4 bands of 8 bits; candidates
    are docs sharing ≥1 exact band (equi-join on small uniform
    (band, band_value) keys — the same bucket-join shape as MinHash
    banding, never all-pairs). By pigeonhole, any pair within
    hamming ≤ 3 differs in at most 3 bands, so at least one band
    matches exactly → the banded search is LOSSLESS for the default
    radius, and the verify (``bit_count(a XOR b)``) is exact.

    ``fingerprints``: optional precomputed ``simhash(docs)`` relation
    (doc_id, simhash) — fingerprints are write-once artifacts, so
    callers with a stored fingerprint index (queries_dedup.
    _simhash_fp_index) pass it here and skip the token scan entirely;
    the per-probe cost is then just the band join + popcount verify.
    """
    fp = fingerprints if fingerprints is not None else simhash(docs)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 8 * k).bitwiseAND(
                        F.lit(255)
                    )
                    for k in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "bv"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    # A pair sharing k bands is emitted k times by the band join; the
    # usual fix (.distinct()) is a full shuffle of the candidate set —
    # at 100 TB by far the widest exchange in the query. Instead keep
    # each pair ONLY in its lowest matching band, decided per-row from
    # the fingerprint XOR (band j matches iff byte j of the XOR is 0):
    # exactly-once emission with zero pair-level shuffle, so a
    # downstream aggregate (the hamming histogram) partial-aggregates
    # map-side into a ≤33-row exchange.
    first_match = F.lit(True)
    for j in range(SIMHASH_BANDS - 1):
        first_match = first_match & (
            (F.col("a.band") <= F.lit(j))
            | (
                F.shiftright(xor, 8 * j).bitwiseAND(F.lit(255))
                != F.lit(0)
            )
        )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(first_match)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(xor).cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# -- Embedding near-dup ----------------------------------------------------

# Quantization scale for the exact-integer cosine (see below).
QSCALE = float(1 << 20)


def quantize_np(mat):
    """L2-normalize (double) then quantize to floor(x·2^20 + 0.5)
    int64 — numpy mirror of the oracle's per-element math.

    The ssq accumulation uses ``cumsum`` (strict sequential left
    fold), NOT ``sum`` (pairwise), so the norm is bit-identical to
    DuckDB's ``list_reduce`` fold; every later op is elementwise and
    therefore deterministic.

    Why quantize: the integer dot product of quantized vectors is
    EXACT and order-independent, so any execution strategy — numpy
    matmul, block-partitioned matrix join — produces identical
    results, and a DuckDB oracle reproduces them bit-for-bit. The
    quantized cosine deviates from the float cosine by ~1e-6, noise
    at near-dup thresholds.
    """
    import numpy as np

    x = np.asarray(mat, dtype=np.float64)
    nrm = np.sqrt(np.cumsum(x * x, axis=1)[:, -1])
    return np.floor(x / nrm[:, None] * QSCALE + 0.5).astype(np.int64)


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.45,
    round_digits: int = 6,
    n_blocks: int = 4,
) -> DataFrame:
    """Near-duplicate vector pairs by quantized cosine ≥ threshold:
    (vec_id_a, vec_id_b, cosine). EXACT all-pairs (the oracle's
    contract) — no LSH recall loss, and **no driver round-trip**.

    Execution: classic block-partitioned all-pairs. Vectors are hashed
    into ``n_blocks`` blocks; a broadcast ``B(B+1)/2``-row block-pair
    relation replicates each vector to the ``B`` tasks whose pair
    contains its block; ``applyInPandas`` over (bi, bj) scores one
    block pair with an exact int64 matmul (order-independent, no
    float-reduction hazard). Every task holds ≤ 2/B of the corpus —
    pick B so two blocks fit an executor; total work is the inherent
    O(n²/2) of the exact contract, spread over B(B+1)/2 independent
    tasks. At 100 TB the approximate path
    (``embedding_near_dup_lsh``) prunes the pair space with sign-LSH
    bands first and reuses the same verify kernel.
    """
    src = emb.select("vec_id", V.as_double(F.col("embedding")).alias("v"))
    spark = emb.sparkSession
    pairs = spark.createDataFrame(
        [(bi, bj) for bi in range(n_blocks) for bj in range(bi, n_blocks)],
        "bi int, bj int",
    )
    blocked = src.withColumn(
        "blk", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int")
    )
    rep = blocked.join(
        F.broadcast(pairs),
        (F.col("blk") == F.col("bi")) | (F.col("blk") == F.col("bj")),
    )

    out_schema = "vec_id_a bigint, vec_id_b bigint, cosine double"
    scale = 10.0**round_digits

    def score_block(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "vec_id_a": pd.Series(dtype="int64"),
                "vec_id_b": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        if pdf.empty:
            return empty
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        a_pdf = pdf[pdf["blk"] == bi]
        b_pdf = a_pdf if bi == bj else pdf[pdf["blk"] == bj]
        if a_pdf.empty or b_pdf.empty:
            return empty
        a_ids = a_pdf["vec_id"].to_numpy(dtype=np.int64)
        b_ids = b_pdf["vec_id"].to_numpy(dtype=np.int64)
        A = quantize_np(list(a_pdf["v"]))
        B = A if bi == bj else quantize_np(list(b_pdf["v"]))
        an = np.sqrt((A * A).sum(axis=1).astype(np.float64))
        bn = np.sqrt((B * B).sum(axis=1).astype(np.float64))
        # exact int64 dot products, then deterministic double math
        cos = (A @ B.T).astype(np.float64) / np.outer(an, bn)
        cos = np.floor(cos * scale + 0.5) / scale  # round half-up
        keep = cos >= threshold
        if bi == bj:
            # same block on both sides: admit each unordered pair once
            keep &= a_ids[:, None] < b_ids[None, :]
        ai, bj_ = np.nonzero(keep)
        lhs, rhs = a_ids[ai], b_ids[bj_]
        # blocks are vec_id % B, so ids interleave across blocks —
        # orient each (disjoint-block) pair as (min, max)
        return pd.DataFrame(
            {
                "vec_id_a": np.minimum(lhs, rhs),
                "vec_id_b": np.maximum(lhs, rhs),
                "cosine": cos[ai, bj_],
            }
        )

    return rep.groupBy("bi", "bj").applyInPandas(score_block, out_schema)


def embedding_incremental_near_dup(
    batch: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.45,
    round_digits: int = 6,
    n_blocks: int = 4,
) -> DataFrame:
    """Daily-ingest embedding near-dup: every (batch vec, corpus vec)
    pair with quantized cosine ≥ threshold — the embedding-space
    member of the incremental-dedup family (exact hash:
    ``incremental_dedup``; shingle Jaccard:
    ``minhash_incremental_dedup``). Returns
    (vec_id, dup_of, cosine), batch id first.

    Shape: the asymmetric sibling of ``embedding_near_dup``'s block
    matmul. The corpus — the big side — is hashed into ``n_blocks``
    and NEVER replicated; the batch — the small side — is replicated
    to every block (a broadcast cross-join with the tiny block-id
    relation), so each ``applyInPandas`` task holds batch + corpus/B
    rows and scores one exact int64 matmul. Corpus is scanned once;
    the only corpus-wide exchange is the block groupBy. FLOPs are the
    inherent |batch|·|corpus| of the exact contract; the LSH band
    prefilter (``embedding_near_dup_lsh``) is the admitted-pairs
    scale path when even that is too much.
    """
    spark = batch.sparkSession
    blocks = spark.createDataFrame(
        [(i,) for i in range(n_blocks)], "blk int"
    )
    src_c = (
        corpus.select(
            "vec_id", V.as_double(F.col("embedding")).alias("v")
        )
        .withColumn(
            "blk", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int")
        )
        .withColumn("side", F.lit("c"))
    )
    src_b = (
        batch.select(
            "vec_id", V.as_double(F.col("embedding")).alias("v")
        )
        .crossJoin(F.broadcast(blocks))
        .withColumn("side", F.lit("b"))
    )
    rep = src_c.unionByName(src_b.select("vec_id", "v", "blk", "side"))

    out_schema = "vec_id bigint, dup_of bigint, cosine double"
    scale = 10.0**round_digits

    def score_block(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "vec_id": pd.Series(dtype="int64"),
                "dup_of": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        b_pdf = pdf[pdf["side"] == "b"]
        c_pdf = pdf[pdf["side"] == "c"]
        if b_pdf.empty or c_pdf.empty:
            return empty
        A = quantize_np(list(b_pdf["v"]))
        C = quantize_np(list(c_pdf["v"]))
        an = np.sqrt((A * A).sum(axis=1).astype(np.float64))
        cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))
        cos = (A @ C.T).astype(np.float64) / np.outer(an, cn)
        cos = np.floor(cos * scale + 0.5) / scale  # round half-up
        ai, ci = np.nonzero(cos >= threshold)
        a_ids = b_pdf["vec_id"].to_numpy(dtype=np.int64)
        c_ids = c_pdf["vec_id"].to_numpy(dtype=np.int64)
        return pd.DataFrame(
            {
                "vec_id": a_ids[ai],
                "dup_of": c_ids[ci],
                "cosine": cos[ai, ci],
            }
        )

    return rep.groupBy("blk").applyInPandas(score_block, out_schema)


def quantize_col(v: Column) -> Column:
    """JVM-side mirror of :func:`quantize_np`: L2-normalize with an
    ordered left fold (≡ numpy cumsum's strict sequential order) then
    quantize to floor(x·2^20 + 0.5) int64 — bit-identical to the
    numpy kernel and to the DuckDB oracle. The norm is paired with each
    element through ``array_repeat`` so it is folded once per row: a
    lambda that closes over it re-runs the fold per element."""
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return F.zip_with(
        v,
        F.array_repeat(nrm, F.size(v)),
        lambda x, n: F.floor(x / n * F.lit(QSCALE) + F.lit(0.5)).cast(
            "bigint"
        ),
    )


def _quantized_cosine(qa: Column, qb: Column, round_digits: int) -> Column:
    """Exact-int dot of two quantized vectors → rounded-half-up double
    cosine (identical math to the numpy/DuckDB kernels)."""
    def idot(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    scale = float(10**round_digits)
    na = F.sqrt(idot(qa, qa).cast("double"))
    nb = F.sqrt(idot(qb, qb).cast("double"))
    raw = idot(qa, qb).cast("double") / (na * nb)
    return F.floor(raw * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


def embedding_near_dup_lsh(
    emb: DataFrame,
    threshold: float = 0.45,
    round_digits: int = 6,
    planes: int = 4,
    bands: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate near-dup pairs — the 100 TB scale path: multi-band
    sign-LSH prunes the pair space, then the exact quantized kernel
    verifies only the admitted candidates.

    ``bands`` independent sets of ``planes`` hyperplanes (OR-of-ANDs
    amplification, same shape as MinHash banding): two vectors are
    candidates iff all sign bits agree in ≥1 band —
    P = 1-(1-p^planes)^bands with p = 1-θ/π. Candidate generation is
    a bucket equi-join on small uniform (band, bucket) keys; verify
    cost tracks candidate volume, never corpus². Output schema equals
    :func:`embedding_near_dup`; recall vs the exact path is asserted
    in tests (rows-only driver check — the hyperplane fold is not
    reasonably SQL-expressible).

    Measured operating curve at sf0.1 (recall vs candidate fraction of
    all pairs): (4 planes, 8 bands) → 0.77 @ 0.41; (4,12) → 0.91 @
    0.54; (4,16) → 0.95 @ 0.64; (6,16) → 0.75 @ 0.24. The curve is
    flat because at threshold 0.45 the per-plane agreement gap between
    near (p≈0.65) and random (p≈0.5) pairs is small — sign-LSH prunes
    HARD only in the high-cosine regime (≥0.85: p≈0.85, where
    (8,16)-style configs reach ≥0.99 recall on ≲2% of pairs). For
    mid-threshold corpus dedup prefer :func:`semantic_dedup`
    (cluster-pruned exact) — this operator is the scale path for true
    near-duplicates.
    """
    from ..operators import similarity as S

    src = emb.select("vec_id", V.as_double(F.col("embedding")).alias("v"))

    # r15 (guide §2.4): ALL bands' buckets in ONE corpus pass — the
    # per-band union of sign_lsh_buckets() calls scanned the
    # embeddings once per band (8 scans, 16 across the self-join). A
    # posexplode over the per-band bucket array computes the identical
    # (vec_id, band, bucket) rows from a single scan; the relation is
    # then pinned because the candidate self-join reads it twice.
    def _band_bucket(t: int) -> Column:
        bits = [
            F.when(
                V.dot(F.col("v"), S._hyperplane(t * planes + p, dim)) >= 0,
                F.lit(1 << p),
            ).otherwise(F.lit(0))
            for p in range(planes)
        ]
        acc = bits[0]
        for x in bits[1:]:
            acc = acc + x
        return acc.cast("bigint")

    bk = src.select(
        "vec_id",
        F.posexplode(
            F.array(*[_band_bucket(t) for t in range(bands)])
        ).alias("band", "bucket"),
    ).localCheckpoint(eager=False)
    a = bk.alias("a")
    b = bk.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
        )
        .distinct()
    )
    # quantized vectors feed both verify join sides — pin so the
    # normalize+quantize pass (and its scan) runs once, not twice
    q = src.select(
        "vec_id", quantize_col(F.col("v")).alias("q")
    ).localCheckpoint(eager=False)
    qa = q.select(
        F.col("vec_id").alias("vec_id_a"), F.col("q").alias("qa")
    )
    qb = q.select(
        F.col("vec_id").alias("vec_id_b"), F.col("q").alias("qb")
    )
    return (
        cands.join(qa, "vec_id_a")
        .join(qb, "vec_id_b")
        .select(
            "vec_id_a",
            "vec_id_b",
            _quantized_cosine(
                F.col("qa"), F.col("qb"), round_digits
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    emb: DataFrame,
    nlist: int = 8,
    threshold: float = 0.45,
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with a coarse
    quantizer, then score pairs ONLY within each cluster →
    (vec_id_a, vec_id_b, cosine ≥ threshold), a < b.

    This is the 100 TB shape for embedding dedup where LSH recall is
    not wanted: the quadratic is bounded per cluster (n/nlist)², and
    ``nlist`` grows with the corpus so cluster population stays
    constant. The plan is: narrow broadcast-argmax assignment (no
    shuffle — operators/similarity.ivf_assign), ONE exchange on
    centroid_id, then an exact int64-quantized matmul per cluster
    inside ``applyInPandas`` (same kernel contract as
    :func:`embedding_near_dup`, so results are bit-identical to the
    DuckDB oracle). Misses only cross-cluster pairs — the documented
    SemDeDup trade.

    The deterministic seed quantizer stands in for a KMeans fit
    (``similarity.ivf_centroids_kmeans`` drops in) to keep the
    operator oracle-checkable.
    """
    from . import similarity

    # inline the narrow argmax instead of joining ivf_assign back on
    # vec_id — the assignment rides the same row as the vector, so
    # nothing shuffles until the centroid_id exchange
    cents = similarity._centroid_array(
        similarity.ivf_centroids(emb, nlist)
    )
    src = (
        emb.select("vec_id", V.as_double(F.col("embedding")).alias("v"))
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "v",
            similarity._nearest_centroid(
                F.col("v"), F.col("cents")
            ).alias("centroid_id"),
        )
    )

    out_schema = "vec_id_a bigint, vec_id_b bigint, cosine double"
    scale = 10.0**round_digits

    def score_cluster(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "vec_id_a": pd.Series(dtype="int64"),
                "vec_id_b": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        Q = quantize_np(list(pdf["v"]))
        nrm = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
        cos = (Q @ Q.T).astype(np.float64) / np.outer(nrm, nrm)
        cos = np.floor(cos * scale + 0.5) / scale  # round half-up
        keep = (cos >= threshold) & (ids[:, None] < ids[None, :])
        ai, bi = np.nonzero(keep)
        return pd.DataFrame(
            {
                "vec_id_a": ids[ai],
                "vec_id_b": ids[bi],
                "cosine": cos[ai, bi],
            }
        )

    return src.groupBy("centroid_id").applyInPandas(
        score_cluster, out_schema
    )


def minhash_dedup_ml(
    docs: DataFrame, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """spark.ml variant of the MinHash near-dup pipeline:
    shingles → HashingTF sparse vectors → MinHashLSH
    approxSimilarityJoin → exact-Jaccard verify (same verify stage as
    the custom path, so the output contract matches minhash_dedup).

    Returns (doc_a, doc_b, jaccard) with jaccard ≥ threshold. The ML
    estimator's hash family is seeded, so results are reproducible
    but not oracle-expressible (rows-only check); equivalence with
    the md5-family pipeline on high-Jaccard pairs is asserted in
    tests/test_ext.py. At scale both paths share the same shape:
    per-doc signatures, band bucket-join, candidate-only verify.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = doc_shingles(docs, n)
    shingle_sets = sh.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("shingles")
    )
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18
    )
    feats = tf.transform(shingle_sets)
    # MinHashLSH requires at least one non-zero entry
    feats = feats.filter(F.size("shingles") > 0)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    )
    model = lsh.fit(feats)
    # approxSimilarityJoin distance = 1 - estimated Jaccard; admit a
    # wide candidate band, then verify exactly
    pairs = (
        model.approxSimilarityJoin(feats, feats, 1.0 - threshold + 0.15)
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    return jaccard_pairs(sh, pairs, threshold)


def dedup_clusters(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id)
    with cluster_id = min doc_id of the component (the canonical
    survivor every member collapses to).

    Min-label propagation: label(v) ← min(label(v), labels of v's
    neighbors), iterated to fixpoint. Each round is one edges⋈labels
    hash join + a doc-keyed min — both shuffles on the same key — and
    a ``localCheckpoint`` to truncate the iterative lineage (without
    it the plan doubles per round). Convergence is detected by the
    monotone label-sum (strictly decreasing until fixpoint), a
    single-row action per round. Rounds = component diameter; near-dup
    graphs are tiny cliques/chains, so a handful. Raises if the
    fixpoint is not reached within ``max_iter`` (partially-propagated
    labels are silently WRONG answers); for graphs whose diameter can
    exceed the budget use :func:`dedup_clusters_star` — same contract,
    O(log n) rounds.
    """
    e = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("label"))
        .localCheckpoint()
    )

    def _label_sum(lab: DataFrame):
        return lab.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).first()[0]

    prev_sum = _label_sum(labels)
    converged = False
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(nbr, labels.doc_id == nbr.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                ).alias("label"),
            )
            .localCheckpoint()
        )
        cur_sum = _label_sum(labels)
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds "
            "(component diameter exceeds the budget); use "
            "dedup_clusters_star for O(log n)-round convergence"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def dedup_clusters_star(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond") — same (doc_id, cluster_id = component-min doc_id)
    contract and oracle as :func:`dedup_clusters`, but the round count
    is O(log n) in component SIZE instead of linear in DIAMETER, so an
    adversarial near-dup chain doc0~doc1~…~docN converges in ~log N
    rounds, not N.

    Each round is two (groupBy-min + edge join) passes over the edge
    list, every shuffle keyed on a node id; ``localCheckpoint``
    truncates the iterative lineage. At the fixpoint every component
    is a star centered at its minimum node, which is VERIFIED
    structurally (each non-center node has exactly one incident edge,
    pointing at a center that is never itself a child) — no silent
    partial answers.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def _signature(e: DataFrame):
        return e.agg(
            F.count(F.lit(1)),
            F.sum(F.greatest("u", "v").cast("decimal(38,0)")),
            F.sum(F.least("u", "v").cast("decimal(38,0)")),
        ).first()

    prev_sig = _signature(edges)
    for _ in range(max_iter):
        # large-star: every neighbor v > u links to m(u) = min(N(u) ∪ {u})
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m_of = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(m_of, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: direct large→small; every small neighbor (and the
        # node itself) links to the minimum small neighbor
        d = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mn = d.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            d.join(mn, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mn.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        edges = small.localCheckpoint()
        sig = _signature(edges)
        if sig == prev_sig:
            break
        prev_sig = sig

    # star-form validation: canonical child→center edges, one center per
    # child, and no center is itself a child
    canon = edges.select(
        F.greatest("u", "v").alias("child"), F.least("u", "v").alias("center")
    ).distinct()
    bad = (
        canon.groupBy("child").agg(F.countDistinct("center").alias("nc"))
        .filter(F.col("nc") > 1)
        .count()
        + canon.join(
            canon.select(F.col("center").alias("child")).distinct(),
            "child",
            "left_semi",
        ).count()
    )
    if bad:
        raise RuntimeError(
            f"dedup_clusters_star did not reach star form in {max_iter} "
            "rounds"
        )
    return canon.select(
        F.col("child").alias("doc_id"), F.col("center").alias("cluster_id")
    ).union(
        canon.select(
            F.col("center").alias("doc_id"),
            F.col("center").alias("cluster_id"),
        ).distinct()
    )


def paragraph_dedup(docs: DataFrame, block_words: int = 10) -> DataFrame:
    """C4-style sub-document exact dedup: split every document into
    fixed-size word blocks (the whitespace-token analog of C4's
    three-sentence spans), keep only the globally-FIRST occurrence of
    each block (min ``(doc_id, blk_pos)``), and reassemble each
    document from its surviving blocks in original order.

    Returns (doc_id, n_blocks_kept, clean_text) for every document
    that kept at least one block.

    Scale shape: the survivor election shuffles once, keyed by the
    16-byte md5 of the block (row_number over the hash, so the sort
    compares fixed-width digests, not long strings; an md5 collision
    would conflate two blocks — at ~2⁻⁶⁴ for trillions of blocks
    that is the standard accepted risk, cf. the reference-free
    dedup literature). Reassembly shuffles once more on doc_id with
    map-side partial collect. Both stages are linear in corpus size;
    no pair enumeration anywhere.
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    nblk = F.ceil(F.size(toks) / F.lit(block_words)).cast("int")
    blocks = F.transform(
        F.sequence(F.lit(0), nblk - 1),
        lambda i: F.array_join(
            F.slice(toks, i * block_words + 1, block_words), " "
        ),
    )
    exploded = docs.select(
        "doc_id", F.posexplode(blocks).alias("blk_pos", "blk")
    )
    first = Window.partitionBy(F.md5(F.col("blk"))).orderBy(
        "doc_id", "blk_pos"
    )
    survivors = (
        exploded.withColumn("rn", F.row_number().over(first))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        survivors.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_blocks_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("blk_pos", "blk"))
                    ),
                    lambda s: s["blk"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select("doc_id", "n_blocks_kept", "clean_text")
    )


def substring_dup_stats(
    docs: DataFrame, window_words: int = 10
) -> DataFrame:
    """Exact-substring duplication diagnostic (the sliding-window
    form of suffix-array training-data dedup): hash every OVERLAPPING
    ``window_words``-token window, find windows occurring in more
    than one document, and report per-doc coverage:
    (doc_id, n_windows, n_dup_windows, dup_frac).

    Complements ``paragraph_dedup`` (non-overlapping blocks,
    rewrites text): this op scores — dup_frac is the removal
    criterion a curation pipeline thresholds on.

    Scale shape: two linear shuffles — (1) distinct (doc_id,
    window-md5) feeds a window-keyed count with map-side combine
    (fixed-width 16-byte digests, never the raw window string), (2)
    the >1-doc window set joins back to the per-doc window stream
    (candidate-driven: bounded by actual duplication, not corpus²)
    and one doc-keyed aggregate finishes. Short docs (< window)
    surface with 0 windows / dup_frac 0.0 via left join.
    """
    wins = docs.select(
        "doc_id",
        F.explode_outer(
            TX.word_shingles(TX.tokens("text"), window_words)
        ).alias("win"),
    ).select("doc_id", F.md5("win").alias("wh"))
    # the explode+md5+distinct stream feeds BOTH the window-count and
    # the join-back pass — cut it so it computes once (measured ~2×)
    distinct_wins = (
        wins.filter(F.col("wh").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    dup = (
        distinct_wins.groupBy("wh")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select("wh", F.lit(1).alias("_dup"))
    )
    per_doc = (
        distinct_wins.join(dup, "wh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.count("_dup").alias("n_dup_windows"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.when(
                F.coalesce("n_windows", F.lit(0)) > 0,
                F.coalesce("n_dup_windows", F.lit(0)).cast("double")
                / F.col("n_windows"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )
