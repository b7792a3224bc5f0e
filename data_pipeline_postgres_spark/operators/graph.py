"""Iterative graph algorithms over edge relations (SURVEY.md §2.12
[EXT]). Complements the min-label connected components in
``dedup.py`` (dedup_clusters) with weighted PageRank and synchronous
label-propagation communities — the classic iterative-convergence
shapes a Spark engine must express (synchronous supersteps as
self-contained DataFrame rounds).

Scale design: each superstep is ONE contribution join + ONE
destination-keyed aggregate; the normalized edge relation is
checkpoint-materialized once and reused by every round, and rank
lineage is cut every few rounds (localCheckpoint) so the plan never
deepens past a bounded number of joins. Nothing is collected to the
driver except the node count (a single scalar, computed once).

``pagerank_bounded`` is the one exception, for graphs a query bounds
by construction rather than by data (TextRank's top-200 vocabulary):
the caller collects the edge list and the same quantized supersteps
run as a numpy power iteration on the driver, bit-identical to
``pagerank`` and with no Spark job per superstep. Graphs that grow
with the data (the co-purchase graph) stay on ``pagerank``.
"""

from __future__ import annotations

from collections.abc import Hashable, Iterable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 8,
    broadcast_ranks: bool = True,
    prenormalized: bool = False,
    quantize_bits: int | None = None,
    dangling: bool = False,
) -> DataFrame:
    """Weighted PageRank over a directed edge list (src, dst, weight):
    returns (node, rank) after ``iters`` synchronous power-iteration
    rounds of  r' = (1-d)/N + d·Σ_in r_src·w/outw_src.

    Contract (default ``dangling=False``): every node must have at
    least one outgoing edge (true for symmetric graphs such as
    co-purchase). For general graphs set ``dangling=True``: the node
    universe becomes src ∪ dst, and each superstep adds the classic
    dangling-mass redistribution term — the total rank D sitting on
    sink nodes is spread uniformly, r' = (1-d)/N + d·(Σ_in c + D/N).
    D is a ONE-ROW aggregate broadcast onto the rank update (no
    driver collect, no per-round action); rank mass then sums to
    exactly 1 each round (property-tested against a dense power
    iteration in tests/test_graph_dangling.py). The flagged path
    costs one extra semi-join + broadcast per superstep, so the
    sink-free default keeps its leaner plan.
    Iteration count is fixed (no convergence collect): 8 rounds
    contract the rank vector by d⁸ ≈ 0.27 of the remaining error,
    plenty for top-k ranking stability, and a deterministic plan.

    Float caveat: with ``quantize_bits=None`` the per-destination Σ
    is a free-order doubles sum, so exact bit-equality across
    engines/partitionings is not guaranteed — that path is gated by a
    pytest comparison against a single-machine power iteration to
    1e-9 (tests/test_round7.py). Setting ``quantize_bits=b`` floors
    every contribution rank·p to a multiple of 2^-b BEFORE the sum:
    binary-fixed-point terms whose total stays under 2^(53-b) add
    EXACTLY in any order, so the whole iteration becomes bit-exact
    across engines and partitionings (each remaining op — the IEEE
    multiply producing the term, floor, the final base + d·Σ — is
    order-free and deterministic). b=30 keeps per-term error ≤ 2^-30
    (≈1e-9, far below ranking resolution) and allows Σ up to 2^23,
    vastly above any rank mass. This is what lets the co-purchase
    centrality query carry a DuckDB oracle instead of a rows-only
    check.

    ``broadcast_ranks=True`` ships the rank vector (one row per NODE
    — orders of magnitude smaller than the edge list) to every
    executor each superstep, so the per-round shuffle is ONLY the
    destination-keyed contribution aggregate and the checkpointed
    edge relation never re-exchanges (measured ~3× on the
    co-purchase graph). Disable only for graphs whose node count
    itself exceeds broadcast capacity — then both sides hash on src.

    ``prenormalized=True`` declares that ``edges`` already carries
    the transition probability column ``p`` (weight/out-weight) AND
    is already materialized (e.g. a stored edge-index parquet — see
    plans/queries_analytics._copurchase_edge_index): the out-weight
    aggregate and the checkpoint are both skipped, so a centrality
    run against a prepared graph artifact starts straight at
    superstep 1.
    """
    # r16 (guide §2.4): the edge relation is HASH-PARTITIONED BY dst
    # and deliberately NOT lineage-cut — localCheckpoint erases the
    # partitioning (the ExistingRDD scan reports UnknownPartitioning,
    # measured in plans/r16), which is exactly what forced one
    # contribution shuffle per superstep in the r15 shape. With the
    # partitioning visible, every superstep (norm ⋈ broadcast(ranks)
    # → groupBy(dst-as-node)) needs NO exchange: the broadcast join
    # preserves the streamed side's partitioning and Project/
    # Aggregate rewrite it through the alias, so the per-superstep
    # destination aggregate — the only corpus-scale shuffle in the
    # loop — drops out of the plan. The repartition exchange itself
    # appears once per lineage-cut segment (~3 supersteps) and is
    # deduplicated within a segment by exchange reuse: ~3 edge-sized
    # shuffles total instead of `iters` contribution shuffles. The
    # partition count is the session's default parallelism (scale-
    # adaptive: a cluster derives it from its size), not a local tune.
    n_parts = edges.sparkSession.sparkContext.defaultParallelism
    if prenormalized:
        norm = edges.select("src", "dst", "p").repartition(
            n_parts, "dst"
        )
    else:
        out_w = edges.groupBy("src").agg(F.sum("weight").alias("outw"))
        norm = (
            edges.join(out_w, "src")
            .select(
                "src",
                "dst",
                (F.col("weight") / F.col("outw")).alias("p"),
            )
            .repartition(n_parts, "dst")
        )
    # node relation from the RAW edges (distinct's map-side partial
    # aggregation makes this shuffle node-sized, not edge-sized),
    # pinned once: n-count, ranks₀ and every segment read the pin
    # instead of re-running the distinct (bounded, node-scale — §14).
    src_nodes = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if dangling:
        nodes = (
            src_nodes.unionByName(
                edges.select(F.col("dst").alias("node"))
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        # sink set computed once; per round only its rank mass moves
        sinks = nodes.join(src_nodes, "node", "left_anti")
        sinks = sinks.localCheckpoint(eager=True)
    else:
        nodes = src_nodes
    n = nodes.count()  # single driver scalar, once
    base = (1.0 - damping) / n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    scale = float(2**quantize_bits) if quantize_bits else None
    for i in range(iters):
        r = F.broadcast(ranks) if broadcast_ranks else ranks
        c = F.col("rank") * F.col("p")
        if scale:
            c = F.floor(c * F.lit(scale)) / F.lit(scale)
        contribs = norm.join(r, norm["src"] == r["node"]).select(
            F.col("dst").alias("node"), c.alias("c")
        )
        if dangling:
            # one-row dangling-mass aggregate, broadcast onto the
            # update — every node (even in-degree-0) gets base + D/N
            dm = ranks.join(sinks, "node", "left_semi").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
            )
            summed = contribs.groupBy("node").agg(
                F.sum("c").alias("_sc")
            )
            ranks = (
                nodes.join(summed, "node", "left")
                .crossJoin(F.broadcast(dm))
                .select(
                    "node",
                    (
                        F.lit(base)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("_sc"), F.lit(0.0))
                            + F.col("_dm") / F.lit(float(n))
                        )
                    ).alias("rank"),
                )
            )
        else:
            ranks = contribs.groupBy("node").agg(
                (F.lit(base) + F.lit(damping) * F.sum("c")).alias(
                    "rank"
                )
            )
        if i % 3 == 2:
            # cut lineage so the logical plan stays bounded
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def pagerank_bounded(
    edges: Iterable[tuple[Hashable, Hashable, float]],
) -> dict[Hashable, float]:
    """``pagerank(edges, prenormalized=True, quantize_bits=30)`` with
    its default damping 0.85 and 8 supersteps, run on the driver, for
    a graph a query bounds by construction (TextRank's vocabulary cap
    keeps it under 200 nodes at any corpus scale). ``edges`` are
    (src, dst, p) triples; returns {node: rank}.

    Bit-identical to the distributed supersteps, not merely close:
    every contribution is floored to a multiple of 2^-30 with the same
    IEEE operations (``floor((rank·p)·2^30) / 2^30``), such terms sum
    exactly in any order (so ``np.bincount`` and Spark's
    per-destination aggregate agree), and the update is the same
    ``base + d·Σ``. The node set follows ``pagerank`` too: the sources
    start at 1/N, and after each superstep only nodes that received a
    contribution keep a rank. No Spark job runs: on a graph this small
    the supersteps' per-stage job latency, not the arithmetic, was the
    whole cost."""
    import numpy as np

    index: dict[Hashable, int] = {}
    src, dst, prob = [], [], []
    for a, b, p_ab in edges:
        src.append(index.setdefault(a, len(index)))
        dst.append(index.setdefault(b, len(index)))
        prob.append(p_ab)
    if not index:
        return {}
    s = np.asarray(src, dtype=np.int64)
    d = np.asarray(dst, dtype=np.int64)
    p = np.asarray(prob, dtype=np.float64)
    live = np.zeros(len(index), dtype=bool)
    live[s] = True
    n = int(live.sum())
    damping, scale = 0.85, float(2**30)
    base = (1.0 - damping) / n
    rank = np.where(live, 1.0 / n, 0.0)
    for _ in range(8):
        on = live[s]
        c = np.floor(rank[s[on]] * p[on] * scale) / scale
        live = np.bincount(d[on], minlength=len(index)) > 0
        total = np.bincount(d[on], weights=c, minlength=len(index))
        rank = np.where(live, base + damping * total, 0.0)
    labels = list(index)
    return {labels[i]: float(rank[i]) for i in np.flatnonzero(live)}


def copurchase_edges(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Symmetric part co-purchase edge list (src, dst, weight):
    weight = number of orders containing both parts. Built with the
    narrow basket-array idiom (one orderkey exchange, pairs generated
    per-row from the sorted distinct basket — no basket self-join;
    see orders_copurchase_pairs for the measured-shuffle rationale).
    Both directions are emitted so every node has out-degree ≥ 1.
    """
    basket = lineitem.join(
        F.broadcast(part),
        lineitem["l_partkey"] == part["p_partkey"],
        "left_semi",
    ).select("l_orderkey", "l_partkey")
    arrs = basket.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = arrs.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ps"),
                    lambda a: F.filter(
                        F.transform(
                            F.col("ps"),
                            lambda b: F.struct(
                                a.alias("src"), b.alias("dst")
                            ),
                        ),
                        lambda s: s["src"] != s["dst"],
                    ),
                )
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return pairs.groupBy("src", "dst").agg(
        F.count("*").cast("double").alias("weight")
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 5,
    broadcast_labels: bool = True,
) -> DataFrame:
    """Synchronous label-propagation community detection over a
    directed edge list (src, dst, weight): every node starts as its
    own community (label = node id); each superstep a node adopts the
    label with the greatest incoming weight sum, tiebreaking on the
    SMALLER label — all-integer labels and exact integer-valued
    weight sums make every round fully deterministic (pytest gate:
    planted two-clique graph converges to exactly two communities,
    tests/test_round7.py). Returns (node, label).

    Scale shape mirrors ``pagerank``: per round, the label vector
    (one row per node) broadcasts onto the stationary edge relation,
    ONE (dst, label) aggregate + ONE per-dst argmax window run, and
    label lineage is cut every few rounds. Symmetric-graph callers
    guarantee every node has in-degree ≥ 1 so no node drops out.
    """
    # r16 (guide §2.4): the edge relation is hash-partitioned by dst
    # and NOT lineage-cut (localCheckpoint erases partitioning — see
    # pagerank): each round's (dst, label) aggregate AND the per-dst
    # argmax window both have their clustering satisfied by
    # HashPartitioning(dst) — rows with equal dst share a partition —
    # so the per-round exchanges (the only corpus-scale shuffles in
    # the loop) drop out of the plan; the one repartition exchange is
    # deduplicated per lineage-cut segment by exchange reuse.
    n_parts = edges.sparkSession.sparkContext.defaultParallelism
    edges = edges.repartition(n_parts, "dst")
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for i in range(iters):
        lab = F.broadcast(labels) if broadcast_labels else labels
        w_in = (
            edges.join(lab, edges["src"] == lab["node"])
            .groupBy(F.col("dst").alias("n2"), "label")
            .agg(F.sum("weight").alias("w"))
        )
        pick = Window.partitionBy("n2").orderBy(F.desc("w"), F.asc("label"))
        labels = (
            w_in.withColumn("_r", F.row_number().over(pick))
            .filter(F.col("_r") == 1)
            .select(F.col("n2").alias("node"), "label")
        )
        if i % 3 == 2:
            labels = labels.localCheckpoint(eager=False)
    return labels


def triangle_stats(edges: DataFrame, min_weight: float = 2.0) -> DataFrame:
    """Global triangle census of the undirected strong subgraph
    (edges with weight ≥ ``min_weight``, deduped to src < dst):
    one row (n_edges, n_triangles, n_wedges, global_clustering) where
    global_clustering = 3·triangles / wedges (0.0 on a wedge-free
    graph). All-integer counting until the ONE final division —
    oracle-checked exactly, unlike the iterative graph ops.

    Scale shape: the classic ordered-triangle join — every triangle
    (a<b<c) is counted once via E(a,b)⋈E(b,c)⋈E(a,c), so join fan-out
    is bounded by actual wedge counts (the min_weight filter is what
    keeps dense co-occurrence graphs tractable); wedges come from ONE
    degree aggregate. On big graphs all three legs hash-join on edge
    keys; AQE broadcasts when the strong subgraph is small.
    """
    und = edges.filter(
        (F.col("weight") >= min_weight) & (F.col("src") < F.col("dst"))
    ).select("src", "dst")
    e1 = und.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = und.select(F.col("src").alias("b2"), F.col("dst").alias("c"))
    e3 = und.select(F.col("src").alias("a3"), F.col("dst").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
            "left_semi",
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    deg = (
        und.select(F.col("src").alias("node"))
        .unionAll(und.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # Sum d·(d−1) in pure int64 and halve the single TOTAL with an
    # integer shift (the sum is always even): a per-node double
    # division would round once the aggregate crosses 2^53 and could
    # diverge from the integer-exact oracle.
    wedges = deg.agg(
        F.shiftright(F.sum(F.col("d") * (F.col("d") - 1)), 1).alias(
            "n_wedges"
        ),
        F.lit(1).alias("_k"),
    )
    n_edges = und.agg(
        F.count("*").alias("n_edges"), F.lit(1).alias("_k2")
    )
    return (
        tri.withColumn("_k", F.lit(1))
        .join(wedges, "_k")
        .join(n_edges, F.col("_k") == F.col("_k2"))
        .select(
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.when(
                F.col("n_wedges") > 0,
                F.lit(3) * F.col("n_triangles").cast("double")
                / F.col("n_wedges"),
            )
            .otherwise(F.lit(0.0))
            .alias("global_clustering"),
        )
    )


def kcore(edges: DataFrame, k: int = 3, rounds: int = 8) -> DataFrame:
    """Synchronous k-core peeling over an UNDIRECTED edge list
    (src, dst — both directions present): repeatedly drop every node
    whose surviving degree is < ``k``, ``rounds`` times; returns the
    surviving (node, degree) relation with the degree INSIDE the
    core.

    Each round is one integer degree aggregate + two semi-joins that
    restrict the edge set to surviving endpoints — all-integer, so
    the result is bit-exact against an unrolled-CTE SQL oracle
    (the same chained-round discipline as ``pagerank``'s oracle; no
    floats anywhere). A fixed round count keeps the plan
    deterministic (no convergence collect); peeling converges when a
    round removes nothing, and the pytest gate asserts rounds and
    rounds+1 agree at test scale, i.e. the published result IS the
    fixpoint there. Lineage is cut every 3 rounds so the logical plan
    stays bounded.

    100 TB shape: degree is a map-side-combined count shuffle on the
    node key; the edge restriction is two equi-joins against the
    (much smaller) survivor set — broadcastable once peeling bites.
    Nothing is quadratic; total cost is rounds × (1 agg + 2 joins)
    over a monotonically shrinking edge relation.
    """
    e = edges.select("src", "dst")
    for i in range(rounds):
        deg = e.groupBy(F.col("src").alias("node")).agg(
            F.count("*").alias("degree")
        )
        alive = deg.filter(F.col("degree") >= k).select("node")
        e = (
            e.join(alive, e["src"] == alive["node"], "left_semi")
            .join(alive, e["dst"] == alive["node"], "left_semi")
        )
        if i % 3 == 2:
            e = e.localCheckpoint(eager=False)
    return e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("degree")
    )


def bfs_distances(
    edges: DataFrame, sources: DataFrame, rounds: int = 6
) -> DataFrame:
    """Multi-round BFS over a directed edge list (src, dst): shortest
    hop distance from the ``sources`` node set (one ``node`` column),
    bounded at ``rounds`` hops — returns (node, dist) for every node
    reached within the bound.

    Synchronous min-propagation: each round joins the frontier-bearing
    distance relation onto the edge list (one contribution join) and
    folds with the standing distances through a min aggregate — the
    same superstep discipline as ``pagerank``/``kcore``, all-integer,
    so an unrolled-CTE SQL oracle is bit-exact. Lineage is cut every
    3 rounds. A fixed round bound keeps the plan deterministic; for
    full-graph BFS choose rounds ≥ diameter (pytest asserts the bound
    is the fixpoint at test scale).

    100 TB shape: the per-round cost is one src-keyed equi-join plus a
    node-keyed min aggregate (map-side combined); distances only ever
    shrink, so the relation stays ≤ |reached nodes| rows. The edge
    relation is checkpoint-materialized ONCE (the same discipline as
    ``pagerank``'s normalized edges) so the ``rounds`` joins read
    executor-local blocks instead of re-scanning the source.
    """
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    dist = sources.select("node", F.lit(0).cast("bigint").alias("dist"))
    for i in range(rounds):
        step = (
            edges.join(dist, edges["src"] == dist["node"])
            .select(
                edges["dst"].alias("node"),
                (dist["dist"] + 1).alias("dist"),
            )
        )
        dist = (
            dist.unionByName(step)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if i % 3 == 2:
            dist = dist.localCheckpoint(eager=False)
    return dist
