"""``graph.pagerank_bounded`` — the driver-side power iteration for
graphs a query bounds by construction — is bit-identical (``==``, not
approx) to the distributed ``graph.pagerank(prenormalized=True,
quantize_bits=30)`` supersteps, and TextRank, which runs on it, still
matches its DuckDB oracle at every scale factor."""

from __future__ import annotations

import os

import pytest

from data_pipeline_postgres_spark.operators import graph
from data_pipeline_postgres_spark.plans import queries_text, registry

from .conftest import SF_ORACLE, SF_SMOKE
from .oracle_util import assert_matches_oracle, duck_connect

SF_BENCH = os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")


def _assert_bit_identical(spark, edges, node_type: str) -> None:
    df = spark.createDataFrame(
        edges, f"src {node_type}, dst {node_type}, p double"
    )
    want = {
        r.node: r.rank
        for r in graph.pagerank(
            df, prenormalized=True, quantize_bits=30
        ).collect()
    }
    got = graph.pagerank_bounded(edges)
    assert got == want


def test_textrank_graph_bit_identical(spark):
    counts = queries_text._textrank_bigram_counts(spark, SF_ORACLE).collect()
    edges, degree = queries_text._textrank_edges(counts)
    assert len(edges) > len(degree) > 10
    _assert_bit_identical(spark, edges, "string")


def test_hub_and_spoke_bit_identical(spark):
    # the graph of tests/test_round7.py::TestPageRank: hub 0 <-> leaves
    # 1..6, plus a 5-6 side link, unit weights
    und = [(0, i) for i in range(1, 7)] + [(5, 6)]
    arcs = und + [(b, a) for a, b in und]
    out = {a: sum(1 for s, _ in arcs if s == a) for a, _ in arcs}
    edges = [(a, b, 1.0 / out[a]) for a, b in arcs]
    _assert_bit_identical(spark, edges, "bigint")
    ranks = graph.pagerank_bounded(edges)
    assert ranks[0] == max(ranks.values())


def test_nodes_without_in_edges_drop_out_like_pagerank(spark):
    # 3 -> 0 only: node 3 holds a rank at step 0 and loses it after
    # the first superstep, exactly as the distributed supersteps do
    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (3, 0, 1.0)]
    _assert_bit_identical(spark, edges, "bigint")
    assert set(graph.pagerank_bounded(edges)) == {0, 1, 2}


def test_empty_graph():
    assert graph.pagerank_bounded([]) == {}


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_ORACLE, SF_BENCH])
def test_textrank_matches_oracle(spark, sf_dir):
    registry.load_all()
    df = registry.QUERIES["text_textrank_keywords"](spark, sf_dir)
    assert df.schema == queries_text._TEXTRANK_SCHEMA
    con = duck_connect(sf_dir)
    try:
        assert_matches_oracle(
            df,
            con,
            registry.ORACLES["text_textrank_keywords"],
            "text_textrank_keywords",
        )
    finally:
        con.close()
