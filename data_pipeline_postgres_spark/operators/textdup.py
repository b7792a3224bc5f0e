"""Exact-substring duplication analysis by HASH DOUBLING (SURVEY.md
§2.11 [EXT]) — the distributed form of the suffix-array dedup
diagnostics from the exact-substring-dedup line of work.

A 2^k-token window's fingerprint is a mix of the fingerprints of its
two 2^(k-1)-token halves, so all K levels cost O(K·N) and the text is
tokenised exactly once (level 0). Fingerprint equality is content
equality modulo 128-bit hash collisions — the repo-wide digest
posture.

Only windows inside one document can be duplicated: in the corpus
token stream every document ends with a unique sentinel token
(chr(1) || doc_id — the generalized-suffix-array trick), so a window
that crosses a document end contains that sentinel and occurs once.
``window_digests`` therefore runs the doubling per document, in one
vectorized pass over each Arrow batch of token arrays, and emits only
in-document windows: no corpus positions and no window operator.

``position_stream`` + ``hash_doubling_levels`` (md5 over the global
position stream, one shift-join per level) and ``oracle_level_ctes``
(their DuckDB mirror) are the reference formulation the kernel is
tested against.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..catalog import spread_scan

if TYPE_CHECKING:
    import numpy as np
    import pyarrow as pa


def position_stream(
    docs: DataFrame, bucket_width: int = 1000
) -> tuple[DataFrame, DataFrame]:
    """Lay the corpus out as one token stream in doc_id order:
    returns (level0, docmap) where level0 is (pos, h) — md5 token
    digests plus one unique sentinel digest per doc — and docmap is
    (pos, doc_id) for the REAL token positions only (sentinels carry
    no document)."""
    d = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("w")
    ).withColumn("n", F.size("w").cast("bigint"))
    b = d.withColumn("bucket", F.expr(f"doc_id div {bucket_width}"))
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = b.withColumn("cum_in", F.sum(F.col("n") + 1).over(w_in))
    totals = b.groupBy("bucket").agg(
        F.sum(F.col("n") + 1).alias("btot")
    )
    w_b = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "bucket",
        F.coalesce(F.sum("btot").over(w_b), F.lit(0)).alias("boff"),
    )
    placed = within.join(F.broadcast(offsets), "bucket").withColumn(
        "cb", F.col("boff") + F.col("cum_in") - (F.col("n") + 1)
    )
    toks = placed.select(
        "doc_id",
        "cb",
        "n",
        F.posexplode("w").alias("i", "tok"),
    ).select(
        "doc_id",
        (F.col("cb") + F.col("i")).alias("pos"),
        F.md5("tok").alias("h"),
    )
    sent = placed.select(
        (F.col("cb") + F.col("n")).alias("pos"),
        F.md5(
            F.concat(F.lit("\x01"), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    toks = toks.localCheckpoint(eager=False)
    level0 = (
        toks.select("pos", "h")
        .unionByName(sent)
        .localCheckpoint(eager=False)
    )
    return level0, toks.select("pos", "doc_id")


def hash_doubling_levels(
    level0: DataFrame, rounds: int
) -> list[DataFrame]:
    """levels[k] = (pos, h) where h identifies the 2^k-token window
    starting at pos. Each level is one left shift-join of the
    previous one (windows running past the stream end pad with a
    literal — they are unique anyway). Every level is lineage-cut so
    level k is computed once, not 2^(K-k) times."""
    levels = [level0]
    for k in range(1, rounds + 1):
        delta = 1 << (k - 1)
        prev = levels[-1]
        nxt = (
            prev.join(
                prev.select(
                    (F.col("pos") - delta).alias("pos"),
                    F.col("h").alias("h2"),
                ),
                "pos",
                "left",
            )
            .select(
                "pos",
                F.md5(
                    F.concat(
                        F.col("h"),
                        F.coalesce(F.col("h2"), F.lit("E")),
                    )
                ).alias("h"),
            )
            .localCheckpoint(eager=False)
        )
        levels.append(nxt)
    return levels


# siphash keys of the two token-digest lanes (``pandas.util.hash_array``
# takes a 16-character key): two independently keyed 64-bit digests
# form one 128-bit fingerprint. Each lane's level mix starts from its
# own seed.
_LANE_KEYS = ("textdup-lane-a:0", "textdup-lane-b:1")
_LANE_SEEDS = (0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F)


def _fmix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer: a bijective avalanche mix of uint64
    lanes (multiplication wraps modulo 2^64)."""
    import numpy as np

    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _chain(seed: int, *words: np.ndarray) -> np.ndarray:
    """One 64-bit lane over an ordered word sequence. For a fixed
    prefix every step is a bijection of the next word, so the order
    of the words matters (a window is not its halves swapped)."""
    import numpy as np

    h = np.uint64(seed)
    for w in words:
        h = _fmix(h ^ w)
    return h


def _doubling_batches(
    batches: Iterator[pa.RecordBatch], rounds: int
) -> Iterator[pa.RecordBatch]:
    """The per-document doubling kernel over Arrow batches of
    (doc_id, w: array<string>). Tokens of a batch are laid out flat;
    level k's digest at flat position i mixes level k-1's digests at
    i and i + 2^(k-1), and is kept only where the window fits inside
    its document (``rem`` = tokens left in the document from i on),
    so pairs that straddle two documents of the flat layout are
    computed but never emitted. A NULL text has no tokens."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pandas.util import hash_array

    seed_a, seed_b = _LANE_SEEDS
    for batch in batches:
        w = batch.column("w")
        lens = (
            pc.fill_null(pc.list_value_length(w), 0)
            .to_numpy()
            .astype(np.int64)
        )
        n = int(lens.sum())
        if n == 0:
            continue
        toks = pc.list_flatten(w).to_numpy(zero_copy_only=False)
        doc = np.repeat(batch.column("doc_id").to_numpy(), lens)
        rem = np.repeat(np.cumsum(lens), lens) - np.arange(n)
        ha = hash_array(toks, hash_key=_LANE_KEYS[0])
        hb = hash_array(toks, hash_key=_LANE_KEYS[1])
        for k in range(rounds + 1):
            if k:
                d = 1 << (k - 1)
                a0, a1, b0, b1 = ha[:-d], ha[d:], hb[:-d], hb[d:]
                ha = _chain(seed_a, a0, a1, b0, b1)
                hb = _chain(seed_b, b0, b1, a0, a1)
            keep = np.flatnonzero(rem[: len(ha)] >= (1 << k))
            if not len(keep):
                break
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc[keep]),
                    pa.array(np.full(len(keep), k, dtype=np.int32)),
                    pa.array(ha[keep].view(np.int64)),
                    pa.array(hb[keep].view(np.int64)),
                ],
                names=["doc_id", "k", "ha", "hb"],
            )


def window_digests(docs: DataFrame, rounds: int) -> DataFrame:
    """(doc_id, k, ha, hb) for every in-document 2^k-token window,
    k = 0..rounds: (ha, hb) is the window's 128-bit fingerprint.
    Tokens are ``split(trim(text), '\\s+')`` in the JVM, exactly as
    ``position_stream`` and the DuckDB oracle split them. The doubling
    runs in ``mapInArrow`` right after the scan and adds no exchange;
    ``spread_scan`` spreads a one-file scan over the cores first."""
    toks = spread_scan(docs, "doc_id").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("w")
    )
    return toks.mapInArrow(
        partial(_doubling_batches, rounds=rounds),
        "doc_id bigint, k int, ha bigint, hb bigint",
    )


def oracle_level_ctes(rounds: int) -> str:
    """The DuckDB mirror of position_stream + hash_doubling_levels:
    CTEs d/off/docpos/h0..h{rounds}. Every level re-referenced by the
    next is MATERIALIZED (DuckDB inlines plain CTEs; a doubling chain
    would re-plan the base scan 2^rounds times)."""
    head = r"""
WITH d AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w,
           len(regexp_split_to_array(trim(text), '\s+')) AS n
    FROM documents
),
off AS (
    SELECT doc_id, w, n,
           SUM(n + 1) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
               - (n + 1) AS cb
    FROM d
),
docpos AS MATERIALIZED (
    SELECT doc_id, cb + i - 1 AS pos
    FROM off, unnest(range(1, CAST(n AS BIGINT) + 1)) AS t(i)
),
h0 AS MATERIALIZED (
    SELECT cb + i - 1 AS pos, md5(w[i]) AS h
    FROM off, unnest(range(1, CAST(n AS BIGINT) + 1)) AS t(i)
    UNION ALL
    SELECT cb + n AS pos, md5(chr(1) || CAST(doc_id AS VARCHAR))
    FROM off
)"""
    return head + "".join(
        f""",
h{k} AS MATERIALIZED (
    SELECT a.pos, md5(a.h || COALESCE(b.h, 'E')) AS h
    FROM h{k - 1} a LEFT JOIN h{k - 1} b ON b.pos = a.pos + {1 << (k - 1)}
)"""
        for k in range(1, rounds + 1)
    )
