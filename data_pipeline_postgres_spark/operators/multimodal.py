"""Multimodal column plumbing (SURVEY.md §2.11 [EXT]).

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct alongside. The Spark-side plumbing — schema, batch
iteration, partition sizing — is real and tested; the actual
image/audio decode is STUBBED with a deterministic fake (the decode
libraries are not in this container) behind ``fake_decode_batch``,
clearly marked below.

Scale design: payload bytes travel executor→executor only on explicit
repartition; ``mapInPandas`` streams Arrow record batches through the
Python worker, so per-batch memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` — the knob to tune
when payloads are MBs, not bytes. Metadata-only queries never touch
the payload column (column pruning keeps binary out of the scan).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    import pandas as pd

# The gear-hash CDC table: md5-derived per byte value (first 8 hex
# chars -> int32 range), identical in both engines.
GEAR = tuple(
    int(hashlib.md5(str(b).encode()).hexdigest()[:8], 16) for b in range(256)
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def attach_payload(docs: DataFrame) -> DataFrame:
    """Synthesize an opaque binary payload column + typed metadata from
    ``documents`` (stand-in for real image/audio bytes):
    (doc_id, payload binary, meta struct<mime, n_bytes, content_sha>).
    """
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length(payload).cast("bigint").alias("n_bytes"),
            F.sha2(F.col("text"), 256).alias("content_sha"),
        ).alias("meta"),
    )


def payload_meta(docs: DataFrame) -> DataFrame:
    """Metadata projection — flat columns so the scan prunes the
    payload: (doc_id, mime, n_bytes, content_sha)."""
    with_payload = attach_payload(docs)
    return with_payload.select(
        "doc_id",
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.content_sha").alias("content_sha"),
    )


def fake_decode_batch(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """STUB decode: deterministic pseudo-dimensions from payload bytes.

    A real implementation calls PIL/ffmpeg here (NOT INSTALLED in this
    container); the contract — bytes in, typed dims out, vectorized
    over an Arrow batch — is identical.
    """
    import pandas as pd

    payloads = pdf["payload"]
    first = payloads.map(lambda b: b[0] if len(b) else 0)
    last = payloads.map(lambda b: b[-1] if len(b) else 0)
    n = payloads.map(len)
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "width": (64 + (first % 64)).astype("int32"),
            "height": (64 + (last % 64)).astype("int32"),
            "n_frames": (1 + (n % 16)).astype("int32"),
        }
    )


def frame_sample(docs: DataFrame, every: int = 4) -> DataFrame:
    """Frame-sampling plan for video-ish payloads: every ``every``-th
    frame's (index, byte offset, length) per doc — the addressing a
    decoder worker needs to fetch ONLY the sampled frames instead of
    whole payloads (at 100 TB the ranged reads are the point; full
    payloads never move).

    Frame count/geometry derive deterministically from payload length
    (mirroring ``fake_decode_batch``'s stub contract: n_frames =
    1 + n_bytes % 16, fixed-size frames); the sampling itself is pure
    JVM-side arithmetic — sequence + explode, no Python hop, fully
    oracle-checkable: (doc_id, frame_idx, byte_offset, frame_bytes).
    """
    meta = attach_payload(docs).select(
        "doc_id", F.col("meta.n_bytes").alias("n_bytes")
    )
    geo = meta.select(
        "doc_id",
        "n_bytes",
        (F.lit(1) + F.col("n_bytes") % 16).cast("int").alias("n_frames"),
    ).withColumn(
        "frame_bytes",
        F.floor(F.col("n_bytes") / F.col("n_frames")).cast("bigint"),
    )
    return geo.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0), F.col("n_frames") - 1, F.lit(every)
            )
        ).alias("frame_idx"),
        "frame_bytes",
    ).select(
        "doc_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        (F.col("frame_idx") * F.col("frame_bytes")).alias("byte_offset"),
        "frame_bytes",
    )


def decode_payloads(docs: DataFrame) -> DataFrame:
    """Decode/feature-extract pass over payload batches via
    ``mapInPandas`` (Arrow-batched — the only sanctioned Python hop):
    (doc_id, width, height, n_frames)."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield fake_decode_batch(pdf)

    payloads = attach_payload(docs).select("doc_id", "payload")
    return payloads.mapInPandas(run, DECODED_SCHEMA)


def spread_small_scan(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Scale-adaptive parallelism fix for heavy map-side kernels
    (optimization guide §2.5 "input skew: one huge unsplittable
    file... repartition immediately after the read"): the local
    testdata is ONE parquet file with ONE row group, so every
    downstream mapInPandas kernel runs in a single task on one core.
    Repartition by ``key`` up to ``defaultParallelism`` ONLY when the
    scan yields fewer partitions than cores — at 100 TB the scan
    already carries thousands of splits and this is a no-op branch, so
    the payload bytes are never gratuitously re-shuffled (guide §8:
    move heavy bytes once). Delegates to ``catalog.spread_scan``, the
    repo-wide implementation of this pattern."""
    from ..catalog import spread_scan

    return spread_scan(df, key)


def payload_grams(
    payload_df: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Stride-1 byte 8-grams over the binary payload as packed int64
    keys via a vectorized Arrow-batched kernel: (doc_id, *extra_cols,
    g bigint), DISTINCT per doc (``np.unique`` inside the kernel, so
    no downstream ``.distinct()`` exchange is needed).

    ``g`` is the 8 bytes ``payload[i:i+8]`` packed big-endian into one
    int64 — a BIJECTION onto the 16-hex-char substring the original
    formulation (and the DuckDB oracle) joins on, so every equality,
    count and Jaccard downstream is EXACTLY preserved (no hash, no
    collisions). 8-byte int64 join keys replace ~16-char strings on
    every exchange (guide §2.3 narrower types), and the per-byte work
    runs as 7 shifted vector ORs over the batch's concatenated bytes
    instead of an interpreted per-position substring lambda (guide
    §4.2). Input rows must already satisfy len(payload) >= 8."""
    import numpy as np
    import pandas as pd

    fields = [T.StructField("doc_id", T.LongType())]
    for c in extra_cols:
        fields.append(T.StructField(c, T.StringType()))
    fields.append(T.StructField("g", T.LongType()))
    schema = T.StructType(fields)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            if pdf.empty:
                continue
            payloads = [bytes(p) for p in pdf["payload"]]
            lens = np.fromiter(
                (len(p) for p in payloads), dtype=np.int64
            )
            nall = int(lens.sum())
            if nall < 8:
                continue
            allb = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            n_win = nall - 7
            h = allb[:n_win].astype(np.uint64)
            for j in range(1, 8):
                h = (h << np.uint64(8)) | allb[j : n_win + j]
            # valid window starts: wholly inside one document
            offs = np.concatenate(([0], np.cumsum(lens)))
            pos = np.arange(n_win, dtype=np.int64)
            doc_ix = np.searchsorted(offs, pos, side="right") - 1
            valid = (pos - offs[doc_ix]) <= (lens[doc_ix] - 8)
            doc_ix = doc_ix[valid]
            hv = h[valid].view(np.int64)
            # per-doc distinct, fully vectorized: sort by (doc, g),
            # keep first of each run
            order = np.lexsort((hv, doc_ix))
            doc_ix = doc_ix[order]
            hv = hv[order]
            keep = np.ones(len(hv), dtype=bool)
            keep[1:] = (doc_ix[1:] != doc_ix[:-1]) | (
                hv[1:] != hv[:-1]
            )
            doc_ix = doc_ix[keep]
            out = {"doc_id": pdf["doc_id"].to_numpy()[doc_ix]}
            for c in extra_cols:
                out[c] = pdf[c].to_numpy()[doc_ix]
            out["g"] = hv[keep]
            yield pd.DataFrame(out)

    return spread_small_scan(payload_df).mapInPandas(run, schema)


CDC_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("chunk_idx", T.LongType()),
        T.StructField("start_byte", T.LongType()),
        T.StructField("chunk_len", T.LongType()),
        T.StructField("chunk_md5", T.StringType()),
    ]
)


def cdc_manifest_np(docs: DataFrame, mask: int) -> DataFrame:
    """Gear-hash CDC manifest via the vectorized Arrow kernel:
    (doc_id, chunk_idx, start_byte, chunk_len, chunk_md5) — the fast
    twin of the pure-SQL per-byte fold in
    ``plans.queries_dedup._cdc_manifest_sql``, byte-identical output
    (asserted in tests/test_round15_opt.py): same windowed gear hash
    as ``cdc_chunks_np`` (see its docstring for the boundary-semantics
    proof), and ``chunk_md5 = md5(lowercase-hex(chunk bytes))`` is
    exactly the oracle's ``md5(substr(hx, ...))`` since Python
    ``bytes.hex()`` is lowercase.

    Per-doc md5 calls are one per ~``mask`` bytes (not per byte), so
    the Python-side loop is O(n_chunks); everything per-byte is numpy
    (guide §4.2). Zero exchanges before any downstream chunk-hash
    groupBy; the single scan task limit is lifted by
    ``spread_small_scan``."""
    import hashlib

    import numpy as np
    import pandas as pd

    gear = np.array(GEAR, dtype=np.uint64)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        md5 = hashlib.md5
        for pdf in batches:
            if pdf.empty:
                continue
            payloads = [bytes(p) for p in pdf["payload"]]
            lens = np.fromiter(
                (len(p) for p in payloads), dtype=np.int64
            )
            offs = np.concatenate(([0], np.cumsum(lens)))
            nall = int(lens.sum())
            if nall:
                allb = np.frombuffer(b"".join(payloads), dtype=np.uint8)
                gv = gear[allb]
                h = gv.copy()
                for j in range(1, 32):
                    h[j:] += gv[:-j] << np.uint64(j)
                h &= np.uint64(0xFFFFFFFF)
                is_cut = (h & np.uint64(mask - 1)) == 0
                pos = np.arange(nall, dtype=np.int64)
                doc_ix = np.searchsorted(offs, pos, side="right") - 1
                is_cut &= (pos - offs[doc_ix]) >= 31
            ids = pdf["doc_id"].to_numpy()
            o_id, o_ci, o_s, o_len, o_md5 = [], [], [], [], []
            for k, p in enumerate(payloads):
                nb = len(p)
                if nb:
                    cuts = np.flatnonzero(
                        is_cut[offs[k] : offs[k + 1]]
                    )
                    starts = np.concatenate(([0], cuts + 1))
                    ends = np.concatenate((cuts, [nb - 1]))
                else:
                    # SQL fold emits ONE zero-length chunk row for an
                    # empty payload (s=0, e=nb-1=-1)
                    starts = np.array([0])
                    ends = np.array([-1])
                for ci, (s, e) in enumerate(zip(starts, ends)):
                    o_id.append(ids[k])
                    o_ci.append(ci)
                    o_s.append(s)
                    o_len.append(e - s + 1)
                    o_md5.append(
                        md5(p[s : e + 1].hex().encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": np.array(o_id, dtype=np.int64),
                    "chunk_idx": np.array(o_ci, dtype=np.int64),
                    "start_byte": np.array(o_s, dtype=np.int64),
                    "chunk_len": np.array(o_len, dtype=np.int64),
                    "chunk_md5": o_md5,
                }
            )

    payloads = attach_payload(docs).select("doc_id", "payload")
    return spread_small_scan(payloads).mapInPandas(
        run, CDC_MANIFEST_SCHEMA
    )


def cdc_chunks_np(docs: DataFrame, mask: int) -> DataFrame:
    """Content-defined chunk stream via a vectorized Arrow-batched
    kernel: (doc_id, chunk binary) — the fast twin of the pure-SQL
    gear fold in ``plans.queries_dedup.q_multimodal_cdc_chunks``.

    Identical boundary semantics, proven by construction: a position
    p >= 31 is a cut iff the 32-byte windowed gear hash
    ``sum_{j<32} G[b[p-j]] * 2^j (mod 2^32)`` hits the mask. Because
    cut eligibility REQUIRES p >= 31, every evaluated window lies
    wholly inside its document, so the kernel computes the hash for a
    whole Arrow batch at once over the concatenated payload bytes —
    32 shifted vector adds (uint64 wraparound is harmless: the final
    ``& 0xFFFFFFFF`` is exact since 2^32 divides 2^64) — and masks
    out each document's first 31 positions afterwards.
    ``tests/test_round13.py`` asserts chunk-content equality against
    the SQL fold per (doc, position).

    The chunk travels as RAW BYTES, not an md5 string: downstream
    consumers join on chunk content equality, and ~mask-byte binaries
    are cheaper to shuffle than 32-char hex strings. Scale shape: one
    map-side Arrow hop, zero exchanges, per-task memory bounded by
    the Arrow batch size."""
    import numpy as np
    import pandas as pd

    gear = np.array(GEAR, dtype=np.uint64)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("chunk", T.BinaryType()),
        ]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            if pdf.empty:
                continue
            payloads = [bytes(p) for p in pdf["payload"]]
            lens = np.fromiter(
                (len(p) for p in payloads), dtype=np.int64
            )
            if lens.sum() == 0:
                continue
            allb = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            gv = gear[allb]
            h = gv.copy()
            for j in range(1, 32):
                h[j:] += gv[:-j] << np.uint64(j)
            h &= np.uint64(0xFFFFFFFF)
            is_cut = (h & np.uint64(mask - 1)) == 0
            # positions within 31 of each doc start are ineligible
            offs = np.concatenate(([0], np.cumsum(lens)))
            pos = np.arange(len(allb), dtype=np.int64)
            doc_ix = np.searchsorted(offs, pos, side="right") - 1
            is_cut &= (pos - offs[doc_ix]) >= 31
            out_ids, out_chunks = [], []
            ids = pdf["doc_id"].to_numpy()
            for k, p in enumerate(payloads):
                if not len(p):
                    continue
                local = (
                    np.flatnonzero(is_cut[offs[k]:offs[k + 1]]) + 1
                )
                starts = np.concatenate(([0], local))
                ends = np.concatenate((local, [len(p)]))
                for s, e in zip(starts, ends):
                    out_ids.append(ids[k])
                    out_chunks.append(p[s:e])
            yield pd.DataFrame({"doc_id": out_ids, "chunk": out_chunks})

    payloads = attach_payload(docs).select("doc_id", "payload")
    return spread_small_scan(payloads).mapInPandas(run, schema)
