"""The per-document hash-doubling kernel (operators/textdup.py) behind
``docs_dup_spectrum`` and ``docs_dup_maxrun``: results independent of
how documents fall into partitions and Arrow batches, token-splitting
edge cases against the DuckDB oracles, and the in-document mask on
documents that sit next to each other in one batch.

Equality with the md5 shift-join reference formulation at sf0.001 is
gated in tests/test_round15_opt.py.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from data_pipeline_postgres_spark.catalog import SMOKE_SF_DIR as SF, load_table
from data_pipeline_postgres_spark.operators import textdup
from data_pipeline_postgres_spark.plans import registry
from tests.oracle_util import assert_matches_oracle

registry.load_all()

DUP_QUERIES = ("docs_dup_spectrum", "docs_dup_maxrun")
BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_dup_queries_batch_and_partition_independent(spark, tmp_path):
    """The doubling runs per document, so neither the Arrow batch size
    nor the partitioning of the documents may change either query:
    the lake's one-file table (1 scan partition, hash-spread by
    doc_id) against the same rows as 8 round-robin files (8 scan
    partitions, left as they are), and default batches against
    3-document batches."""
    split = str(tmp_path / "split")
    load_table(spark, SF, "documents").repartition(8).write.parquet(
        f"{split}/documents.parquet"
    )
    assert load_table(spark, SF, "documents").rdd.getNumPartitions() == 1
    assert load_table(spark, split, "documents").rdd.getNumPartitions() == 8
    for name in DUP_QUERIES:
        base = _rows(registry.QUERIES[name](spark, SF))
        assert _rows(registry.QUERIES[name](spark, split)) == base, name
        spark.conf.set(BATCH_CONF, "3")
        try:
            assert _rows(registry.QUERIES[name](spark, SF)) == base, name
        finally:
            spark.conf.unset(BATCH_CONF)


_RUN = " ".join(f"r{i}" for i in range(300))

EDGE_DOCS = [
    (1, None),
    (2, ""),
    (3, "    "),
    # trim() strips spaces only: the leading tab yields an empty token
    (4, "\tfoo bar\nbaz qux"),
    (5, "foo bar\tbaz\nqux  "),
    (6, "solo"),
    # a 300-token run shared by two docs gives k=8 (256 tokens) mass
    (7, "head " + _RUN),
    (8, _RUN + " tail"),
    # in the oracle's global stream 9's tail and 10's head are
    # separated by 9's sentinel, so 11's "p q r s" is no 4-token dup
    (9, "p q"),
    (10, "r s"),
    (11, "x p q r s y"),
]


def test_dup_queries_edge_corpus_match_oracle(spark, tmp_path):
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in EDGE_DOCS], pa.int64()),
                "text": pa.array([t for _, t in EDGE_DOCS], pa.string()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    sf = str(tmp_path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    for name in DUP_QUERIES:
        assert_matches_oracle(
            registry.QUERIES[name](spark, sf), con, registry.ORACLES[name], name
        )
    spectrum = {
        r["k"]: r["n_dup_positions"]
        for r in registry.QUERIES["docs_dup_spectrum"](spark, sf).collect()
    }
    assert spectrum[8] == 2 * (300 - 256 + 1)
    maxrun = dict(
        map(tuple, registry.QUERIES["docs_dup_maxrun"](spark, sf).collect())
    )
    assert maxrun[7] == maxrun[8] == 256
    assert maxrun[11] == 2
    assert maxrun[1] == maxrun[6] == 0


def test_kernel_masks_windows_across_adjacent_documents():
    """Documents 9 and 10 sit next to each other in one batch, so the
    flat token layout holds "p q r s" across their boundary; no window
    may be emitted there, while equal in-document content gets equal
    fingerprints wherever it sits."""
    docs = {9: ["p", "q"], 10: ["r", "s"], 11: ["x", "p", "q", "r", "s", "y"]}
    batch = pa.record_batch(
        [pa.array(list(docs), pa.int64()), pa.array(list(docs.values()))],
        names=["doc_id", "w"],
    )
    out = pa.Table.from_batches(
        list(textdup._doubling_batches(iter([batch]), rounds=3))
    ).to_pylist()
    per_doc_k: dict[tuple[int, int], list] = {}
    for r in out:
        per_doc_k.setdefault((r["doc_id"], r["k"]), []).append(
            (r["ha"], r["hb"])
        )
    want = {
        (d, k): len(w) - (1 << k) + 1
        for d, w in docs.items()
        for k in range(4)
        if len(w) >= 1 << k
    }
    assert {key: len(v) for key, v in per_doc_k.items()} == want
    # "p q" and "r s" recur at offsets 1 and 3 of document 11
    assert per_doc_k[(11, 1)][1] == per_doc_k[(9, 1)][0]
    assert per_doc_k[(11, 1)][3] == per_doc_k[(10, 1)][0]
    assert len(set(per_doc_k[(11, 1)])) == 5
