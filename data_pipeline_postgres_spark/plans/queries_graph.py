"""Graph queries over the co-purchase and user graphs: degree,
triangle and assortativity statistics, PageRank, label propagation,
modularity, k-core, BFS distances, random walks, link prediction and
association rules (operators/graph.py).

Iterative float fixpoints are made hash-checkable by flooring each
per-edge contribution to binary fixed point, so supersteps are
bit-identical across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import graph
from ..scratch import stored_index
from .registry import query


@query(
    "orders_copurchase_pairs",
    """
WITH basket AS (
    SELECT DISTINCT l.l_orderkey, p.p_brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
pairs AS (
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b
    FROM basket a JOIN basket b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
)
SELECT brand_a, brand_b, COUNT(*) AS n_orders
FROM pairs GROUP BY brand_a, brand_b
ORDER BY n_orders DESC, brand_a, brand_b
LIMIT 20
""",
)
def q_orders_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: the 20 brand pairs most often bought
    together in one order. (brand_a, brand_b, n_orders).

    Scale shape: the brand dim is broadcast onto lineitem (no fact
    shuffle for the enrich); ONE l_orderkey exchange folds each order
    into its sorted distinct brand array, and the pairs are generated
    NARROWLY from that array with higher-order functions — no
    self-join at all (a naive basket-self-join plans l_orderkey
    exchanges per subtree; Spark does not reuse them even under AQE —
    measured 5 shuffles vs these 2). Pair blow-up is O(basket²) per
    order, bounded by the ~7-line basket. The pair-count exchange is
    over the |brands|² key space and the top-20 is
    TakeOrderedAndProject. Plan-asserted: exactly 2 hash exchanges.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    basket = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    arrs = basket.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("p_brand")).alias("bs")
    )
    pairs = arrs.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("bs"),
                    lambda x, i: F.transform(
                        F.slice(F.col("bs"), i + 2, F.size("bs")),
                        lambda y: F.struct(
                            x.alias("brand_a"), y.alias("brand_b")
                        ),
                    ),
                )
            )
        ).alias("pr")
    ).select("pr.*")
    return (
        pairs.groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "brand_a", "brand_b")
        .limit(20)
    )


def _copurchase_edge_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORED co-purchase edge list for ``sf_dir``: materialized to
    scratch parquet once per (sf_dir, lineitem mtime) — the
    production shape where the graph is built at ingest and
    centrality/traversal queries read the edge artifact, never
    re-deriving 2M+ pairs per run (same stored-index pattern as
    _minhash_corpus_index and the IVF-PQ code table)."""
    def build() -> DataFrame:
        e = graph.copurchase_edges(
            load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
        )
        ow = e.groupBy(F.col("src").alias("_s")).agg(
            F.sum("weight").alias("outw")
        )
        # store the transition probability too, so centrality runs
        # start straight at superstep 1 (pagerank prenormalized=True)
        return e.join(ow, e["src"] == ow["_s"]).select(
            "src",
            "dst",
            "weight",
            (F.col("weight") / F.col("outw")).alias("p"),
        )

    return stored_index(
        spark, sf_dir, "lineitem", "copurchase_edges", "edges.parquet", build
    )


# PageRank oracle: the SAME 8 synchronous supersteps as chained CTEs.
# Bit-exactness across engines comes from binary-fixed-point
# contributions (operators/graph.pagerank quantize_bits=30): every
# term is FLOOR(rank·p·2^30)/2^30, a multiple of 2^-30, so the
# per-destination sums are EXACT in any order on any engine; all
# remaining ops (IEEE multiplies, the final base + d·Σ) are
# order-free. Literals use e-notation so DuckDB parses them as DOUBLE
# (a bare 0.85 would be DECIMAL and change the arithmetic).
_PR_Q = "1073741824e0"  # 2^30


_PR_STEP = """
r{next} AS (
    SELECT e.dst AS node,
           (1e0 - 0.85e0) / CAST(nn.n AS DOUBLE)
           + 0.85e0 * SUM(FLOOR(r{cur}.rank * e.p * {q}) / {q}) AS rank
    FROM e JOIN r{cur} ON e.src = r{cur}.node, nn
    GROUP BY e.dst, nn.n
)"""


_PAGERANK_ORACLE = (
    """
WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pw AS (
    SELECT a.l_partkey AS src, b.l_partkey AS dst,
           CAST(COUNT(*) AS DOUBLE) AS w
    FROM basket a JOIN basket b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
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
),"""
    + ",".join(
        _PR_STEP.format(cur=i, next=i + 1, q=_PR_Q) for i in range(8)
    )
    + """
SELECT r8.node, r8.rank, deg.n_neighbors
FROM r8 JOIN deg USING (node)
ORDER BY rank DESC, node LIMIT 50
"""
)


@query("graph_pagerank_copurchase", _PAGERANK_ORACLE)
def q_graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the STORED part co-purchase edge
    index: the 50 most structurally central parts (node, rank,
    n_neighbors). Hash-checked since round 8: contributions are
    floored to binary fixed point (quantize_bits=30 — multiples of
    2^-30 sum exactly in any order), which makes all 8 supersteps
    bit-identical to the oracle's chained CTEs regardless of
    partitioning; the pytest gate additionally checks the
    full-precision path against a single-machine power iteration to
    1e-9 (operators/graph.py)."""
    edges = _copurchase_edge_index(spark, sf_dir)
    degree = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("n_neighbors")
    )
    return (
        graph.pagerank(edges, prenormalized=True, quantize_bits=30)
        .join(degree, "node")
        .orderBy(F.desc("rank"), "node")
        .limit(50)
    )


# LPA oracle: the SAME 5 synchronous supersteps as chained CTEs. Every
# round is exact — integer labels, integer-valued weight sums, and a
# total-order argmax (weight DESC, label ASC) — so no quantization is
# needed; the iteration was only ever "not SQL-expressible" until
# written as a fixed CTE chain.
_LPA_STEP = """
w{next} AS (
    SELECT e.dst AS n2, l.label, SUM(e.w) AS w
    FROM e JOIN l{cur} l ON e.src = l.node GROUP BY 1, 2
),
l{next} AS (
    SELECT n2 AS node, label FROM (
        SELECT n2, label,
               ROW_NUMBER() OVER (
                   PARTITION BY n2 ORDER BY w DESC, label) AS rn
        FROM w{next}) WHERE rn = 1
)"""


_LPA_ORACLE = (
    """
WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pw AS (
    SELECT a.l_partkey AS src, b.l_partkey AS dst,
           CAST(COUNT(*) AS DOUBLE) AS w
    FROM basket a JOIN basket b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    GROUP BY 1, 2
),
e AS (SELECT src, dst, w FROM pw WHERE w >= 2),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),"""
    + ",".join(_LPA_STEP.format(cur=i, next=i + 1) for i in range(5))
    + """
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members
FROM l5 GROUP BY 1 ORDER BY n_members DESC, label LIMIT 20
"""
)


@query("graph_communities_lpa", _LPA_ORACLE)
def q_graph_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the STORED co-purchase edge index via
    synchronous label propagation: the 20 largest communities
    (label, n_members) among parts co-purchased at least TWICE (the
    weight≥2 filter prunes the all-connecting single-co-occurrence
    haze that would collapse the dense graph into one giant
    community — and cuts the superstep input ~10×). Hash-checked
    since round 8: every round is exact (integer labels,
    integer-valued weight sums, min-label tiebreak), so the 5-round
    fixpoint is mirrored verbatim as chained CTEs in the oracle; the
    planted-graph pytest gate remains (operators/graph.py)."""
    edges = _copurchase_edge_index(spark, sf_dir).filter(
        F.col("weight") >= 2
    )
    return (
        graph.label_propagation(edges)
        .groupBy("label")
        .agg(F.count("*").alias("n_members"))
        .orderBy(F.desc("n_members"), "label")
        .limit(20)
    )


@query(
    "graph_triangle_stats",
    """
WITH basket AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
    SELECT a.l_partkey AS src, b.l_partkey AS dst
    FROM basket a JOIN basket b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
tri AS (
    SELECT COUNT(*) AS n_triangles
    FROM e e1
    JOIN e e2 ON e1.dst = e2.src
    WHERE EXISTS (
        SELECT 1 FROM e e3 WHERE e3.src = e1.src AND e3.dst = e2.dst
    )
),
deg AS (
    SELECT node, COUNT(*) AS d FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e
    ) GROUP BY 1
),
w AS (SELECT CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS n_wedges FROM deg),
ne AS (SELECT COUNT(*) AS n_edges FROM e)
SELECT ne.n_edges, tri.n_triangles, w.n_wedges,
       CASE WHEN w.n_wedges > 0
            THEN 3 * CAST(tri.n_triangles AS DOUBLE) / w.n_wedges
            ELSE 0.0 END AS global_clustering
FROM tri, w, ne
""",
)
def q_graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the strong
    (weight ≥ 2) co-purchase subgraph, computed off the STORED edge
    index via the ordered-triangle join — the one graph op whose
    whole computation is SQL-expressible, so it is hash-checked
    (operators/graph.triangle_stats)."""
    return graph.triangle_stats(_copurchase_edge_index(spark, sf_dir))


@query(
    "orders_assoc_rules",
    """
WITH basket AS (
    SELECT DISTINCT l.l_orderkey, p.p_brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM basket),
na AS (SELECT p_brand, COUNT(*) AS n_a FROM basket GROUP BY 1),
nab AS (
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS n_ab
    FROM basket a JOIN basket b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
    GROUP BY 1, 2
)
SELECT brand_a, brand_b, CAST(n_ab AS BIGINT) AS n_ab,
       CAST(n_ab AS DOUBLE) / n.n_orders AS support,
       CAST(n_ab AS DOUBLE) / x.n_a AS confidence,
       CAST(n_ab AS DOUBLE) * n.n_orders / x.n_a / y.n_a AS lift
FROM nab
JOIN na x ON x.p_brand = brand_a
JOIN na y ON y.p_brand = brand_b, n
ORDER BY lift DESC, brand_a, brand_b
LIMIT 20
""",
)
def q_orders_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over brand baskets: the 20 directed
    rules a→b with the highest lift, with support and confidence —
    the market-basket trio (extends orders_copurchase_pairs' raw
    counts into the actual recommendation metrics).

    Exactness: every count is an exact integer; support/confidence
    are ONE division each, lift is the identical left-associated
    double chain (n_ab·N)/n_a/n_b on both engines (products stay
    under 2^53). Scale shape: the same narrow basket-array idiom
    (no basket self-join — pairs explode per-row from the sorted
    basket, both directions for directed rules); per-brand counts
    broadcast back onto the |brands|²-bounded pair relation; top-20
    is TakeOrderedAndProject."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    # r16 (guide §2.3/§2.4, reworking the r15 basket pin the driver
    # bench read flat-to-negative): every consumer derives from the
    # per-order brand-set relation, and collect_set ITSELF dedups —
    # so the separate distinct exchange disappears and the single
    # orderkey exchange (with map-side partial collect_set) is the
    # only corpus-scale shuffle. n = rows of arrs (≡ countDistinct
    # orderkey), na = exploded per-brand order counts (≡ counts over
    # the distinct (order, brand) relation) — both exact identities.
    arrs = (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .select("l_orderkey", "p_brand")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("bs"))
        .localCheckpoint(eager=False)
    )
    n = arrs.agg(F.count("*").alias("n_orders"))
    na = (
        arrs.select(F.explode("bs").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_a"))
    )
    nab = (
        arrs.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("bs"),
                        lambda a: F.filter(
                            F.transform(
                                F.col("bs"),
                                lambda b: F.struct(
                                    a.alias("brand_a"), b.alias("brand_b")
                                ),
                            ),
                            lambda s: s["brand_a"] != s["brand_b"],
                        ),
                    )
                )
            ).alias("e")
        )
        .select("e.brand_a", "e.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("n_ab"))
    )
    na_a = na.select(
        F.col("p_brand").alias("_ba"), F.col("n_a").alias("n_a_a")
    )
    na_b = na.select(
        F.col("p_brand").alias("_bb"), F.col("n_a").alias("n_a_b")
    )
    return (
        nab.join(F.broadcast(na_a), F.col("brand_a") == F.col("_ba"))
        .join(F.broadcast(na_b), F.col("brand_b") == F.col("_bb"))
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            (F.col("n_ab").cast("double") / F.col("n_orders")).alias(
                "support"
            ),
            (F.col("n_ab").cast("double") / F.col("n_a_a")).alias(
                "confidence"
            ),
            (
                F.col("n_ab").cast("double")
                * F.col("n_orders")
                / F.col("n_a_a")
                / F.col("n_a_b")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
        .limit(20)
    )


@query(
    "graph_degree_stats",
    """
WITH basket AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
    SELECT a.l_partkey AS src, b.l_partkey AS dst
    FROM basket a JOIN basket b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
deg AS (
    SELECT node, COUNT(*) AS d FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e
    ) GROUP BY 1
)
SELECT CAST(d AS BIGINT) AS degree, COUNT(*) AS n_nodes
FROM deg GROUP BY 1 ORDER BY degree
""",
)
def q_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the strong co-purchase subgraph (how
    connectivity is spread — the skew/hub diagnostic read before
    choosing broadcast vs shuffle for graph supersteps). Reads the
    STORED edge index; all-integer counting, hash-checked."""
    edges = _copurchase_edge_index(spark, sf_dir).filter(
        (F.col("weight") >= 2) & (F.col("src") < F.col("dst"))
    )
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("degree")
    )


@query(
    "graph_link_prediction",
    """
WITH basket AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
    SELECT a.l_partkey AS src, b.l_partkey AS dst
    FROM basket a JOIN basket b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
und AS (
    SELECT src AS u, dst AS v FROM e
    UNION ALL SELECT dst, src FROM e
),
deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY 1),
common AS (
    SELECT a.u AS node_a, b.u AS node_b, COUNT(*) AS n_common
    FROM und a JOIN und b ON a.v = b.v AND a.u < b.u
    WHERE NOT EXISTS (
        SELECT 1 FROM e WHERE e.src = a.u AND e.dst = b.u
    )
    GROUP BY 1, 2
)
SELECT node_a, node_b, CAST(n_common AS BIGINT) AS n_common,
       CAST(n_common AS DOUBLE)
           / (da.d + db.d - n_common) AS neighbor_jaccard
FROM common
JOIN deg da ON da.u = node_a
JOIN deg db ON db.u = node_b
ORDER BY neighbor_jaccard DESC, node_a, node_b
LIMIT 20
""",
)
def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the strong co-purchase subgraph: the 20
    NON-adjacent part pairs with the highest neighbor-overlap Jaccard
    (|N(a)∩N(b)| / |N(a)∪N(b)|) — "these two parts are never bought
    together, but share most of their co-purchase company", the
    recommender candidate-generation primitive. All-integer counts
    with one division → hash-checked. Scale shape: the wedge join
    (shared-neighbor pairing) is the bounded-fan-out triangle-join
    idiom; existing edges are removed by a broadcast anti-join before
    degrees attach."""
    # (r15: a localCheckpoint pin on edges was A/B-measured at
    # 0.78→0.91 s and REVERTED — the 5 repeated reads are pruned
    # scans of the already-materialized stored index, cheaper than
    # pinning a second copy.)
    edges = _copurchase_edge_index(spark, sf_dir).filter(
        (F.col("weight") >= 2) & (F.col("src") < F.col("dst"))
    ).select("src", "dst")
    und = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionAll(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    a = und.select(F.col("u").alias("node_a"), "v")
    b = und.select(F.col("u").alias("node_b"), F.col("v").alias("v2"))
    common = (
        a.join(b, (F.col("v") == F.col("v2")) & (F.col("node_a") < F.col("node_b")))
        .join(
            F.broadcast(edges),
            (F.col("src") == F.col("node_a")) & (F.col("dst") == F.col("node_b")),
            "left_anti",
        )
        .groupBy("node_a", "node_b")
        .agg(F.count("*").alias("n_common"))
    )
    da = deg.select(F.col("u").alias("_a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("_b"), F.col("d").alias("db"))
    return (
        common.join(F.broadcast(da), F.col("node_a") == F.col("_a"))
        .join(F.broadcast(db), F.col("node_b") == F.col("_b"))
        .select(
            "node_a",
            "node_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("da") + F.col("db") - F.col("n_common"))
            ).alias("neighbor_jaccard"),
        )
        .orderBy(F.desc("neighbor_jaccard"), "node_a", "node_b")
        .limit(20)
    )


# -- k-core decomposition --------------------------------------------------
# Synchronous peeling, unrolled in the oracle exactly like the
# pagerank CTE chain — all-integer, so hash-checked. 12 rounds: the
# sf0.01 strong co-purchase graph reaches its k=3 fixpoint after 10
# (pytest asserts rounds and rounds+1 agree).

_KCORE_K = 3


_KCORE_ROUNDS = 12


# AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
# round references the previous one ~3x (degree, two alive joins) —
# un-materialized, the 12-round chain would inline the base scan 3^12
# times and exhaust file handles before planning finishes.
_KCORE_STEP = """
d{i} AS MATERIALIZED (
    SELECT src AS node, COUNT(*) AS deg FROM e{i} GROUP BY 1),
a{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {k}),
e{next} AS MATERIALIZED (
    SELECT e.src, e.dst FROM e{i} e
    JOIN a{i} s ON e.src = s.node
    JOIN a{i} t ON e.dst = t.node
)"""


_KCORE_ORACLE = (
    """
WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS MATERIALIZED (
    SELECT a.l_partkey AS src, b.l_partkey AS dst
    FROM basket a JOIN basket b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
),"""
    + ",".join(
        _KCORE_STEP.format(i=i, next=i + 1, k=_KCORE_K)
        for i in range(_KCORE_ROUNDS)
    )
    + f"""
SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
FROM e{_KCORE_ROUNDS} GROUP BY 1
"""
)


@query("graph_kcore", _KCORE_ORACLE)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the strong co-purchase graph (weight >= 2): nodes
    surviving 12 synchronous peel-rounds (drop degree < 3, restrict
    edges, repeat) with their in-core degree — the dense backbone
    that separates structurally-embedded products from tendrils that
    merely touched a hub. Third hash-checked iterative algorithm
    (after PageRank and LPA): all-integer rounds need no fixed-point
    quantization at all; the oracle is the same 12 rounds as chained
    CTEs. Reads the STORED co-purchase edge index."""

    edges = _copurchase_edge_index(spark, sf_dir).filter(
        F.col("weight") >= 2
    )
    return graph.kcore(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)


# -- Bounded BFS from the dominant hub -------------------------------------

_BFS_ROUNDS = 10


_BFS_STEP = """
s{next} AS MATERIALIZED (
    SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM s{i}
        UNION ALL
        SELECT e.dst AS node, s{i}.dist + 1 AS dist
        FROM e JOIN s{i} ON e.src = s{i}.node
    ) GROUP BY node
)"""


_BFS_ORACLE = (
    """
WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
    SELECT a.l_partkey AS src, b.l_partkey AS dst
    FROM basket a JOIN basket b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
deg AS (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY 1),
s0 AS MATERIALIZED (
    SELECT node, CAST(0 AS BIGINT) AS dist
    FROM deg ORDER BY d DESC, node LIMIT 1
),"""
    + ",".join(
        _BFS_STEP.format(i=i, next=i + 1) for i in range(_BFS_ROUNDS)
    )
    + f"""
SELECT node, dist FROM s{_BFS_ROUNDS}
"""
)


@query("graph_bfs_distance", _BFS_ORACLE)
def q_graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from the dominant hub (highest-degree node,
    node-id tiebreak) of the strong co-purchase graph, bounded at 10
    hops → (node, dist) for the reached subgraph. The
    reachability/radius probe behind "how much of the catalog is
    within k recommendation hops of the flagship product" — and the
    fourth hash-checked iterative algorithm (PageRank, LPA, k-core,
    BFS), again all-integer so the unrolled MATERIALIZED-CTE oracle
    is bit-exact with no fixed-point quantization.

    Per round: ONE src-keyed contribution join + one map-side-combined
    min aggregate over a relation bounded by the reached set; pytest
    asserts 10 rounds is the fixpoint at oracle scale (hub
    eccentricity 9 at sf0.01)."""

    edges = _copurchase_edge_index(spark, sf_dir).filter(
        F.col("weight") >= 2
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("d")
    )
    hub = deg.orderBy(F.desc("d"), F.asc("node")).limit(1).select("node")
    return graph.bfs_distances(edges, hub, rounds=_BFS_ROUNDS)


# -- Deterministic random walks ---------------------------------------------
# node2vec-style walk-corpus generation (Grover & Leskovec KDD'16,
# uniform p=q=1 case) with md5-derived neighbor choice: at node v,
# step k, follow the neighbor whose dense rank equals
# H(v, k) mod degree(v). Deterministic -> the walk corpus itself is
# hash-checkable, unlike RNG-based samplers.

_WALK_LEN = 4


_WALK_STARTS = 20


def _walks_prelude() -> str:
    """The shared CTE chain (edges -> ranked adjacency -> starts ->
    unrolled hops) used by graph_random_walks and the skip-gram
    derivation."""
    steps = []
    for k in range(1, _WALK_LEN + 1):
        prev = "w0" if k == 1 else f"w{k-1}"
        steps.append(
            f"""w{k} AS MATERIALIZED (
    SELECT {prev}.start, r.dst AS cur
    FROM {prev} JOIN ranked r
      ON r.src = {prev}.cur
     AND r.rnk = ('0x' || substr(md5(CAST({prev}.cur AS VARCHAR)
                                      || '#{k}'), 1, 8))::BIGINT % r.deg
)"""
        )
    return (
        """
WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pw AS (
    SELECT a.l_partkey AS src, b.l_partkey AS dst
    FROM basket a JOIN basket b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    GROUP BY 1, 2
),
ranked AS MATERIALIZED (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk,
           COUNT(*) OVER (PARTITION BY src) AS deg
    FROM pw
),
starts AS MATERIALIZED (
    SELECT src AS start
    FROM (SELECT DISTINCT src, deg FROM ranked)
    ORDER BY deg DESC, src LIMIT """
        + str(_WALK_STARTS)
        + """
),
w0 AS (SELECT start, start AS cur FROM starts),
"""
        + ",\n".join(steps)
    )


def _walks_select() -> str:
    sel = ["SELECT start, CAST(0 AS BIGINT) AS step, start AS node"
           " FROM starts"]
    for k in range(1, _WALK_LEN + 1):
        sel.append(
            f"SELECT start, CAST({k} AS BIGINT) AS step, cur AS node"
            f" FROM w{k}"
        )
    return "\nUNION ALL ".join(sel)


@query("graph_random_walks", _walks_prelude() + "\n" + _walks_select())
def q_graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform random walks over the stored co-purchase
    edge index: length-4 walks from the 20 highest-degree parts, next
    hop = neighbor at dense rank H(node, step) mod degree →
    (start, step, node). The walk-corpus generator behind
    DeepWalk/node2vec graph embeddings, made md5-deterministic so the
    sampled corpus itself hash-checks (an RNG sampler can only be
    rows-checked).

    Shape: neighbor ranking is ONE src-partitioned window over the
    stored edge index; each hop is a BROADCAST of the tiny frontier
    (≤ |starts| rows) onto the ranked relation — 4 broadcast joins,
    the edge set never re-shuffles, and walk count scales the
    frontier, never the edge side. At 100 TB the ranked index is the
    write-once artifact and hops stay frontier-broadcast joins."""

    def build() -> DataFrame:
        e = _copurchase_edge_index(spark, sf_dir).select("src", "dst")
        wr = Window.partitionBy("src").orderBy("dst")
        wp = Window.partitionBy("src")
        return e.select(
            "src",
            "dst",
            (F.row_number().over(wr) - 1).alias("rnk"),
            F.count("*").over(wp).alias("deg"),
        )

    # the ranked adjacency is itself a write-once artifact: without
    # it, every hop join re-runs the src window over the full edge
    # relation (measured 4.1 s warm at sf0.1; 0.7 s from the index)
    ranked = stored_index(
        spark,
        sf_dir,
        "lineitem",
        "walk_ranked_adjacency",
        "ranked.parquet",
        build,
    )
    # r15 (guide §2.4): pin the tiny frontier (≤ _WALK_STARTS rows)
    # after the starts pick and after EVERY hop. Without the cuts,
    # part k's plan embeds hops 1..k AND the starts sort — the
    # _WALK_LEN+1-way union re-executed each hop O(len²/2) times and
    # re-scanned the ranked index ~15× per walk relation (60× in the
    # skip-gram self-join; plans/r15/graph_random_walks_before.txt).
    # localCheckpoint of a ≤20-row frontier costs one sub-100ms job
    # per hop and makes every hop execute exactly once at any scale.
    starts = (
        ranked.select("src", "deg")
        .distinct()
        .orderBy(F.desc("deg"), F.asc("src"))
        .limit(_WALK_STARTS)
        .select(F.col("src").alias("start"))
        .localCheckpoint(eager=False)
    )
    parts = [
        starts.select(
            "start",
            F.lit(0).cast("bigint").alias("step"),
            F.col("start").alias("node"),
        )
    ]
    cur = starts.select("start", F.col("start").alias("cur"))
    for k in range(1, _WALK_LEN + 1):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col("cur").cast("string"), F.lit(f"#{k}"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        step = (
            ranked.join(F.broadcast(cur), ranked["src"] == cur["cur"])
            .filter(F.col("rnk") == h % F.col("deg"))
            .select("start", F.col("dst").alias("cur"))
            # lazy (r15 advisory): cuts lineage identically while
            # deferring execution to the first action, so EXPLAIN-only
            # callers don't run per-hop jobs at construction time
            .localCheckpoint(eager=False)  # ≤ |starts| rows
        )
        parts.append(
            step.select(
                "start",
                F.lit(k).cast("bigint").alias("step"),
                F.col("cur").alias("node"),
            )
        )
        cur = step
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_SKIPGRAM_ORACLE = (
    _walks_prelude()
    + ",\nwalks AS (\n"
    + _walks_select()
    + """
)
SELECT a.node AS center, b.node AS context,
       CAST(COUNT(*) AS BIGINT) AS n
FROM walks a JOIN walks b
  ON a.start = b.start AND abs(a.step - b.step) BETWEEN 1 AND 2
GROUP BY 1, 2
"""
)


@query("graph_walk_skipgram_pairs", _SKIPGRAM_ORACLE)
def q_graph_walk_skipgram_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Skip-gram training pairs from the deterministic walk corpus
    (window = 2, both directions) → (center, context, n) — the final
    derivation of the DeepWalk/node2vec pipeline: stored edge index →
    ranked adjacency → walks → (center, context) co-occurrence
    counts, which is exactly what a word2vec-style embedding trainer
    consumes. Counts are exact and the walks deterministic, so the
    training corpus itself hash-checks.

    Shape: the walk relation is tiny (|starts|·(len+1) rows); the
    window join is a self-join on the walk id — bounded by
    |walks|·(2·window), never touching the edge relation again."""
    # r15 (guide §2.4): pin the ≤ |starts|·(len+1)-row walk relation
    # before the self-join — otherwise the whole hop chain (stored-
    # index scans + frontier broadcasts) is embedded twice in the
    # join's plan and built twice.
    walks = q_graph_random_walks(spark, sf_dir).localCheckpoint(
        eager=False  # lazy pin (r15 advisory): no construction-time job
    )
    a, b = walks.alias("a"), walks.alias("b")
    dist = F.abs(F.col("a.step") - F.col("b.step"))
    return (
        a.join(
            b,
            (F.col("a.start") == F.col("b.start"))
            & (dist >= 1)
            & (dist <= 2),
        )
        .groupBy(
            F.col("a.node").alias("center"),
            F.col("b.node").alias("context"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )


# -- Degree assortativity of the co-purchase graph ----------------------------
# Network-science structure metric the graph family lacked: do
# high-degree parts co-purchase with other high-degree parts
# (assortative, r>0) or with the periphery (disassortative, r<0)?
# Over the symmetric directed edge list, r = (M*Sjk - Sj^2) /
# (M*Sj2 - Sj^2) — every sum an exact int64, ONE double division,
# micro-floored (int64 holds the products through ~sf100 of this
# graph's density; the raise-don't-wrap audit is the CAST itself).

_ASSORT_ORACLE = """
WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
    SELECT a.l_partkey AS src, b.l_partkey AS dst
    FROM basket a JOIN basket b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
und AS (
    SELECT src AS u, dst AS v FROM e
    UNION ALL SELECT dst, src FROM e
),
deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY 1),
ed AS (
    SELECT da.d AS j, db.d AS k
    FROM und JOIN deg da ON da.u = und.u
    JOIN deg db ON db.u = und.v
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m,
           CAST(SUM(j) AS BIGINT) AS sj,
           CAST(SUM(j * k) AS BIGINT) AS sjk,
           CAST(SUM(j * j) AS BIGINT) AS sj2
    FROM ed
)
SELECT m AS m_directed, sj, sjk, sj2,
       CAST(FLOOR(CAST(m * sjk - sj * sj AS DOUBLE)
           / CAST(m * sj2 - sj * sj AS DOUBLE)
           * 1000000.0) AS BIGINT) AS r_micro
FROM s
"""


@query("graph_assortativity", _ASSORT_ORACLE)
def q_graph_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity coefficient of the weight>=2 co-purchase
    graph → (m_directed, sj, sjk, sj2, r_micro): the Pearson
    correlation of endpoint degrees over edges, in Newman's
    symmetric-edge-list simplification r = (M*Sjk - Sj^2)/(M*Sj2 -
    Sj^2). Positive r = hubs prefer hubs (assortative mixing),
    negative = hub-and-spoke. All four power sums are exact int64
    aggregates; the numerator/denominator products stay in int64 and
    the single double division is micro-floored.

    Scale shape: degrees = one node-keyed count over the stored edge
    relation; attaching both endpoint degrees = two key-shuffled
    joins; the moment rollup is one map-side-combined aggregate to a
    1-row relation. Nothing holds more than (edge, j, k) rows."""

    e = _copurchase_edge_index(spark, sf_dir).filter(
        (F.col("weight") >= 2) & (F.col("src") < F.col("dst"))
    ).select("src", "dst")
    und = e.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionAll(
        e.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    ed = (
        und.join(deg.select(F.col("u"), F.col("d").alias("j")), "u")
        .join(
            deg.select(
                F.col("u").alias("v"), F.col("d").alias("k")
            ),
            "v",
        )
        .select("j", "k")
    )
    s = ed.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("j").cast("bigint").alias("sj"),
        F.sum(F.col("j") * F.col("k")).cast("bigint").alias("sjk"),
        F.sum(F.col("j") * F.col("j")).cast("bigint").alias("sj2"),
    )
    return s.select(
        F.col("m").alias("m_directed"),
        "sj",
        "sjk",
        "sj2",
        F.floor(
            (
                F.col("m") * F.col("sjk")
                - F.col("sj") * F.col("sj")
            ).cast("double")
            / (
                F.col("m") * F.col("sj2")
                - F.col("sj") * F.col("sj")
            ).cast("double")
            * F.lit(1000000.0)
        )
        .cast("bigint")
        .alias("r_micro"),
    )


# -- Modularity of the LPA communities ----------------------------------------
# The quality number for graph_communities_lpa's partition: Newman
# modularity Q = sum_c [ din_c/(2m) - (D_c/(2m))^2 ] over the same
# weight>=2 co-purchase graph (unit edge weights, directed-symmetric
# edge list). Scaled by (2m)^2 everything is integer: Q_num =
# sum_c (din_c * 2m - D_c^2), Q_den = (2m)^2 — the oracle reuses the
# LPA CTE chain verbatim (same 5 supersteps) and the engine reuses
# the same label_propagation operator, so the partition is
# bit-identical by construction.


def _modularity_oracle() -> str:

    prelude = _LPA_ORACLE.rsplit("SELECT label,", 1)[0]
    assert prelude.rstrip().endswith(")")  # splice point contract
    return (
        prelude
        + """,
lab AS MATERIALIZED (SELECT node, label FROM l5),
m2 AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM e),
din AS MATERIALIZED (
    SELECT la.label, CAST(COUNT(*) AS BIGINT) AS din
    FROM e JOIN lab la ON e.src = la.node
    JOIN lab lb ON e.dst = lb.node
    WHERE la.label = lb.label
    GROUP BY 1
),
degc AS MATERIALIZED (
    SELECT la.label, CAST(COUNT(*) AS BIGINT) AS dc
    FROM e JOIN lab la ON e.src = la.node
    GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       MAX(m2.m2) AS m_directed,
       CAST(SUM(COALESCE(din.din, 0) * m2.m2 - degc.dc * degc.dc)
           AS BIGINT) AS q_num,
       CAST(MAX(m2.m2) * MAX(m2.m2) AS BIGINT) AS q_den
FROM degc LEFT JOIN din USING (label) CROSS JOIN m2
"""
    )


@query("graph_modularity", _modularity_oracle())
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA community partition on the
    weight>=2 co-purchase graph → (n_communities, m_directed, q_num,
    q_den) with Q = q_num/q_den. The acceptance metric for
    graph_communities_lpa: Q near 0 means the partition explains no
    more intra-community mass than a degree-preserving random graph;
    the integer scaling by (2m)^2 keeps the entire computation exact
    (no float enters the query).

    Scale shape: the partition comes from the same 5-superstep
    label_propagation over the stored edge index (hash-exact since
    round 8); modularity itself is two label-keyed joins of the edge
    relation onto the label map (intra-edge count + community degree
    mass) and a rollup over the <=|communities| relation."""
    edges = _copurchase_edge_index(spark, sf_dir).filter(
        F.col("weight") >= 2
    )
    lab = graph.label_propagation(edges).select("node", "label")
    lab = lab.localCheckpoint(eager=False)
    e = edges.select("src", "dst")
    m2 = e.agg(F.count("*").cast("bigint").alias("m2"))
    la = lab.select(
        F.col("node").alias("src"), F.col("label").alias("la")
    )
    lb = lab.select(
        F.col("node").alias("dst"), F.col("label").alias("lb")
    )
    din = (
        e.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count("*").cast("bigint").alias("din"))
    )
    degc = (
        e.join(la, "src")
        .groupBy(F.col("la").alias("label"))
        .agg(F.count("*").cast("bigint").alias("dc"))
    )
    g = (
        degc.join(din, "label", "left")
        .withColumn("din", F.coalesce(F.col("din"), F.lit(0)))
        .crossJoin(F.broadcast(m2))
    )
    return g.agg(
        F.count("*").cast("bigint").alias("n_communities"),
        F.max("m2").alias("m_directed"),
        F.sum(
            F.col("din") * F.col("m2") - F.col("dc") * F.col("dc")
        )
        .cast("bigint")
        .alias("q_num"),
        (F.max("m2") * F.max("m2")).cast("bigint").alias("q_den"),
    )
