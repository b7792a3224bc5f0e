"""Round-9 additions (VERDICT r8 items 5-7):

- ``pagerank(dangling=True)``: dangling-mass redistribution on graphs
  with sink nodes — rank mass must sum to 1 every round and match a
  dense single-machine power iteration.
- Stored-index staleness: ``dedup_minhash_incremental`` and
  ``sim_ivfpq_index_search`` gate their materialized indexes on a
  corpus fingerprint (mtime / aggregate). The happy path runs every
  round; these tests exercise the REBUILD path by mutating the corpus
  between runs and asserting results match a fresh ground truth.
- ``referential_integrity_sweep`` plan contract: the sweep is unioned
  1-row aggregates over broadcast anti-joins — no shuffle join may
  ever appear in its physical plan.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

from data_pipeline_postgres_spark.operators import dedup, graph, similarity
from data_pipeline_postgres_spark.plans import registry

from .conftest import SF_ORACLE, SF_SMOKE

registry.load_all()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestPagerankDangling:
    """A 5-node graph where node 4 is a pure sink (no out-edges) and
    node 0 has no in-edges."""

    EDGES = [
        (0, 1, 1.0),
        (0, 2, 1.0),
        (1, 3, 2.0),
        (2, 3, 1.0),
        (2, 4, 1.0),
        (3, 4, 1.0),
    ]
    N = 5

    def _dense_pagerank(self, damping=0.85, iters=8):
        """Reference power iteration with uniform dangling-mass
        redistribution, plain Python floats."""
        out_w = {}
        for s, _, w in self.EDGES:
            out_w[s] = out_w.get(s, 0.0) + w
        r = [1.0 / self.N] * self.N
        for _ in range(iters):
            contrib = [0.0] * self.N
            for s, d, w in self.EDGES:
                contrib[d] += r[s] * (w / out_w[s])
            dang = sum(r[i] for i in range(self.N) if i not in out_w)
            base = (1.0 - damping) / self.N
            r = [
                base + damping * (contrib[i] + dang / self.N)
                for i in range(self.N)
            ]
        return r

    def test_matches_dense_and_sums_to_one(self, spark):
        edges = spark.createDataFrame(
            self.EDGES, "src bigint, dst bigint, weight double"
        )
        got = {
            r.node: r.rank
            for r in graph.pagerank(edges, dangling=True).collect()
        }
        want = self._dense_pagerank()
        assert set(got) == set(range(self.N))  # sinks + sources kept
        for i in range(self.N):
            assert got[i] == pytest.approx(want[i], abs=1e-9)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)

    def test_default_contract_unchanged_on_sink_free_graph(self, spark):
        """On a graph where every node has out-degree >= 1 the
        dangling path must agree with the default path (dangling mass
        is identically zero)."""
        sym = self.EDGES + [(4, 0, 1.0)]
        edges = spark.createDataFrame(
            sym, "src bigint, dst bigint, weight double"
        )
        d0 = {r.node: r.rank for r in graph.pagerank(edges).collect()}
        d1 = {
            r.node: r.rank
            for r in graph.pagerank(edges, dangling=True).collect()
        }
        assert set(d0) == set(d1)
        for k in d0:
            assert d0[k] == pytest.approx(d1[k], abs=1e-12)


@pytest.fixture()
def mut_sf_dir(tmp_path):
    """A scratch sf-dir seeded from sf0.001 that tests can MUTATE
    (testdata itself is read-only)."""
    d = tmp_path / "sfmut"
    d.mkdir()
    for t in ("documents", "embeddings"):
        shutil.copy(
            os.path.join(SF_SMOKE, f"{t}.parquet"),
            d / f"{t}.parquet",
        )
    return str(d)


class TestStoredIndexRebuild:
    """The fingerprint gating on materialized indexes is load-bearing
    for every stored-index claim; exercise the stale path, not just
    the happy path."""

    def test_minhash_band_index_rebuilds_on_corpus_change(
        self, spark, mut_sf_dir
    ):
        q = registry.QUERIES["dedup_minhash_incremental"]
        r1 = sorted(map(tuple, q(spark, mut_sf_dir).collect()))

        # Mutate the corpus: drop half the non-batch docs (doc_id odd)
        # — changes both the band index contents and the dup answers.
        path = os.path.join(mut_sf_dir, "documents.parquet")
        con = duckdb.connect()
        con.execute(
            f"""
            CREATE TABLE t AS SELECT * FROM read_parquet('{path}')
            WHERE source = 'src0' OR doc_id % 2 = 0
            """
        )
        os.remove(path)
        con.execute(
            f"COPY t TO '{path}' (FORMAT PARQUET)"
        )
        con.close()

        r2 = sorted(map(tuple, q(spark, mut_sf_dir).collect()))

        # Ground truth recomputed from scratch (no stored index).
        docs = spark.read.parquet(path)
        fresh = dedup.minhash_incremental_dedup(
            docs.filter(F.col("source") == "src0"),
            docs.filter(F.col("source") != "src0"),
        )
        want = sorted(map(tuple, fresh.collect()))
        assert r2 == want, "stored band index served stale results"
        # sanity: the mutation actually changed the answer — if this
        # ever fails, the stale-index detection above is vacuous
        assert r1 != r2, "corpus mutation did not change the dup answer"

    def test_ivfpq_index_rebuilds_on_corpus_change(
        self, spark, mut_sf_dir, tmp_path
    ):
        from data_pipeline_postgres_spark.scratch import SCRATCH_ROOT

        q = registry.QUERIES["sim_ivfpq_index_search"]
        sf_tag = os.path.basename(mut_sf_dir.rstrip("/"))
        out_dir = os.path.join(SCRATCH_ROOT, f"ivfpq_index_{sf_tag}")
        if os.path.exists(out_dir):
            shutil.rmtree(out_dir)

        q(spark, mut_sf_dir).collect()
        marker = os.path.join(out_dir, "_FINGERPRINT")
        fp1 = open(marker).read()

        # Mutate the embedding corpus: drop every 5th vector. The
        # (count, sum(vec_id)) fingerprint must change -> rebuild.
        path = os.path.join(mut_sf_dir, "embeddings.parquet")
        con = duckdb.connect()
        con.execute(
            f"""
            CREATE TABLE e AS SELECT * FROM read_parquet('{path}')
            WHERE vec_id % 5 != 0
            """
        )
        os.remove(path)
        con.execute(f"COPY e TO '{path}' (FORMAT PARQUET)")
        con.close()

        r2 = sorted(map(tuple, q(spark, mut_sf_dir).collect()))
        fp2 = open(marker).read()
        assert fp1 != fp2, "fingerprint did not change on mutation"

        # Fresh build in a brand-new directory == rebuilt-index answer
        emb = spark.read.parquet(path)
        fresh = similarity.ivfpq_index_search(
            spark, emb, str(tmp_path / "ivfpq_fresh")
        )
        want = sorted(map(tuple, fresh.collect()))
        assert r2 == want, "stale IVF-PQ index served after mutation"

        shutil.rmtree(out_dir, ignore_errors=True)


class TestReferentialSweepPlan:
    def test_no_shuffle_join_in_plan(self, spark):
        """Every FK edge is a broadcast anti-join + 1-row aggregates:
        a SortMergeJoin or ShuffledHashJoin appearing here means a
        parent keyset silently stopped broadcasting — at 100 TB that
        turns a metadata sweep into a full-table shuffle."""
        df = registry.QUERIES["referential_integrity_sweep"](
            spark, SF_SMOKE
        )
        plan = _plan(df)
        assert "SortMergeJoin" not in plan
        assert "ShuffledHashJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


class TestRound9Queries:
    """Gates for the round-9 additions beyond oracle parity."""

    def test_kcore_is_fixpoint_at_test_scale(self, spark):
        """12 peel-rounds must BE the fixpoint at oracle scale (the
        sf0.01 strong co-purchase graph converges after 10): one more
        round changes nothing."""
        from data_pipeline_postgres_spark.plans.queries_graph import (
            _KCORE_K,
            _KCORE_ROUNDS,
            _copurchase_edge_index,
        )

        edges = _copurchase_edge_index(spark, SF_ORACLE)
        edges = edges.filter(F.col("weight") >= 2)
        a = sorted(
            map(
                tuple,
                graph.kcore(edges, _KCORE_K, _KCORE_ROUNDS).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                graph.kcore(
                    edges, _KCORE_K, _KCORE_ROUNDS + 1
                ).collect(),
            )
        )
        assert a == b and len(a) > 0

    def test_pca_matches_numpy(self, spark):
        import numpy as np

        from data_pipeline_postgres_spark.operators import embeddings

        emb = spark.read.parquet(
            os.path.join(SF_SMOKE, "embeddings.parquet")
        )
        got = {
            r.vec_id: r.pc1_proj
            for r in embeddings.pca_power_iteration(emb).collect()
        }
        rows = sorted(
            (r.vec_id, list(r.embedding)) for r in emb.collect()
        )
        X = np.array([v for _, v in rows], dtype=np.float64)
        Xc = X - X.mean(axis=0)
        _, _, vt = np.linalg.svd(Xc, full_matrices=False)
        pc = vt[0]
        if pc[int(np.argmax(np.abs(pc)))] < 0:
            pc = -pc
        want = Xc @ pc
        got_arr = np.array([got[i] for i, _ in rows])
        # same direction (sign convention matches), high cosine
        cos = abs(got_arr @ want) / (
            np.linalg.norm(got_arr) * np.linalg.norm(want)
        )
        assert cos > 0.999
        np.testing.assert_allclose(got_arr, want, atol=5e-3)

    def test_decontaminate_embedding_nontrivial(self, spark):
        """Guard against a trivially-empty oracle green: the eval
        split must actually flag training vectors at oracle scale."""
        df = registry.QUERIES["decontaminate_embedding"](
            spark, SF_ORACLE
        )
        assert df.count() > 0

    def test_bigram_logprob_more_negative_than_unigram_floor(self, spark):
        """Sanity: bigram conditionals are MLE (<= 0); every doc with
        >= 2 tokens is scored; mean_logp is finite and <= 0."""
        rows = registry.QUERIES["text_bigram_logprob"](
            spark, SF_SMOKE
        ).collect()
        assert rows
        for r in rows:
            assert r.mean_logp <= 0.0
            assert r.n_bigrams >= 1


class TestRound9Plans:
    """Physical-plan contracts for the round-9 additions and the
    stored-index claims (the index queries must actually READ their
    parquet artifact, not silently recompute)."""

    def _plan_of(self, spark, name):
        return _plan(registry.QUERIES[name](spark, SF_SMOKE))

    def test_index_queries_scan_their_artifacts(self, spark):
        for name, marker in [
            ("dedup_simhash", "simhash_fp_index"),
            ("dedup_simhash_pairs", "simhash_fp_index"),
            ("dedup_simhash_hamming_hist", "simhash_fp_index"),
            ("dedup_simhash_incremental", "simhash_fp_index"),
            ("dedup_minhash", "minhash_pairs_index"),
            ("dedup_minhash_jaccard_hist", "minhash_pairs_index"),
            ("docs_quality_dup_crosstab", "minhash_pairs_index"),
            ("docs_near_dup_rate_by_source", "minhash_pairs_index"),
            # (the cluster/impact consumers of jaccard_pairs_index cut
            # lineage via localCheckpoint, so the parquet scan is not
            # visible in their executed plan — ngram_jaccard covers
            # the read-from-index contract for that artifact)
            ("dedup_ngram_jaccard", "jaccard_pairs_index"),
            ("dedup_substring_windows", "substring_stats_index"),
            ("docs_curation_funnel", "substring_stats_index"),
        ]:
            assert marker in self._plan_of(spark, name), (
                f"{name} no longer reads its stored {marker}"
            )

    def test_bpe_pair_merges_take_ordered(self, spark):
        """The top-50 cut must plan as TakeOrderedAndProject (per-
        partition heaps), never a full global sort."""
        p = self._plan_of(spark, "bpe_pair_merges")
        assert "TakeOrderedAndProject" in p
        assert "Sort [" not in p.split("TakeOrderedAndProject")[0]

    def test_table_diff_is_one_full_outer_join(self, spark):
        p = self._plan_of(spark, "table_diff_audit")
        assert "FullOuter" in p
        assert "CartesianProduct" not in p

    def test_pattern_detect_single_user_exchange(self, spark):
        """The lead() window and the per-user aggregate must share the
        user_id hash partitioning: exactly one shuffle of event rows."""
        p = self._plan_of(spark, "events_pattern_detect")
        assert p.count("Exchange hashpartitioning") == 1
        assert "CartesianProduct" not in p


class TestBfsDistance:
    def test_bfs_is_fixpoint_at_oracle_scale(self, spark):
        """10 rounds must reach every node the hub can reach at
        sf0.01 (hub eccentricity is 9) — one more changes nothing."""
        from data_pipeline_postgres_spark.plans.queries_graph import (
            _copurchase_edge_index,
        )

        edges = _copurchase_edge_index(spark, SF_ORACLE)
        edges = edges.filter(F.col("weight") >= 2)
        deg = edges.groupBy(F.col("src").alias("node")).agg(
            F.count("*").alias("d")
        )
        hub = deg.orderBy(F.desc("d"), F.asc("node")).limit(1).select(
            "node"
        )
        a = sorted(map(tuple, graph.bfs_distances(edges, hub, 10).collect()))
        b = sorted(map(tuple, graph.bfs_distances(edges, hub, 11).collect()))
        assert a == b and len(a) > 1


class TestCompressionRatio:
    def test_kernel_matches_direct_zlib(self, spark):
        import zlib

        rows = registry.QUERIES["docs_compression_ratio"](
            spark, SF_SMOKE
        ).collect()
        assert len(rows) == 500
        docs = {
            r.doc_id: r.text
            for r in spark.read.parquet(
                os.path.join(SF_SMOKE, "documents.parquet")
            ).collect()
        }
        for r in rows[:50]:
            raw = (docs[r.doc_id] or "").encode("utf-8")
            assert r.raw_bytes == len(raw)
            assert r.compressed_bytes == len(zlib.compress(raw, 6))
            assert r.low_complexity == (
                r.compression_ratio > 4.0
            )


class TestRound9Invariants:
    """Cross-operator and structural invariants for the round-9
    queries — metamorphic checks beyond the oracle hashes."""

    def test_kcore_degrees_at_least_k(self, spark):
        rows = registry.QUERIES["graph_kcore"](
            spark, SF_ORACLE
        ).collect()
        assert rows and min(r.degree for r in rows) >= 3

    def test_table_diff_counts_match_construction(self, spark):
        """added = keys %10==3, removed = %10==7, changed = %10==1 by
        construction of the two snapshots."""
        import duckdb

        rows = registry.QUERIES["table_diff_audit"](
            spark, SF_SMOKE
        ).collect()
        got = {}
        for r in rows:
            got[r.change_type] = got.get(r.change_type, 0) + 1
        con = duckdb.connect()
        n = {
            m: con.execute(
                "SELECT COUNT(*) FROM read_parquet("
                f"'{SF_SMOKE}/orders.parquet') WHERE o_orderkey % 10 = {m}"
            ).fetchone()[0]
            for m in (1, 3, 7)
        }
        con.close()
        assert got.get("added", 0) == n[3]
        assert got.get("removed", 0) == n[7]
        assert got.get("changed", 0) == n[1]

    def test_bfs_respects_edge_relaxation(self, spark):
        """At the fixpoint, every edge (u, v) with u reached must have
        dist(v) <= dist(u) + 1."""
        from data_pipeline_postgres_spark.plans.queries_graph import (
            _copurchase_edge_index,
        )

        sf = SF_ORACLE
        dist = {
            r.node: r.dist
            for r in registry.QUERIES["graph_bfs_distance"](
                spark, sf
            ).collect()
        }
        edges = (
            _copurchase_edge_index(spark, sf)
            .filter(F.col("weight") >= 2)
            .select("src", "dst")
            .collect()
        )
        for e in edges:
            if e.src in dist:
                assert e.dst in dist
                assert dist[e.dst] <= dist[e.src] + 1

    def test_fragmentation_consistent_with_manifest(self, spark):
        """total_spans must equal the pack manifest's number of
        (doc, sequence) slices for nonempty docs — two independent
        implementations of the same placement."""
        frag = registry.QUERIES["docs_pack_fragmentation"](
            spark, SF_SMOKE
        ).collect()[0]
        manifest = registry.QUERIES["docs_pack_manifest"](spark, SF_SMOKE)
        n_slices = (
            manifest.filter(F.col("len") > 0)
            .select("doc_id", "seq_id")
            .distinct()
            .count()
        )
        assert frag.total_spans == n_slices

    def test_dsir_excludes_target_and_counts_tokens(self, spark):
        rows = registry.QUERIES["docs_dsir_weights"](
            spark, SF_SMOKE
        ).collect()
        assert rows
        assert all(r.doc_id % 97 != 0 for r in rows)
        from data_pipeline_postgres_spark.operators import textstats

        docs = spark.read.parquet(
            os.path.join(SF_SMOKE, "documents.parquet")
        )
        ws = {
            r.doc_id: r.ws_tokens
            for r in textstats.token_counts(docs).collect()
        }
        for r in rows[:50]:
            assert r.n_tokens == ws[r.doc_id]


class TestRetrievalAndEntityOps:
    """Round-9 late additions: hard-negative mining, Matryoshka
    truncation QA, blocked entity resolution."""

    def test_hard_negative_labels_differ(self, spark):
        rows = registry.QUERIES["emb_hard_negative_mining"](
            spark, SF_SMOKE
        ).collect()
        assert len(rows) == 16
        for r in rows:
            assert r["neg_label"] != r["qlabel"]
            assert -1.0 <= r["cosine"] <= 1.0

    def test_matryoshka_agree_consistent(self, spark):
        rows = registry.QUERIES["emb_matryoshka_agreement"](
            spark, SF_SMOKE
        ).collect()
        assert len(rows) == 16
        for r in rows:
            assert r["agree"] == (r["nn_full"] == r["nn_trunc"])
            assert r["nn_full"] != r["qid"]
            assert r["nn_trunc"] != r["qid"]

    def test_entity_match_block_and_threshold(self, spark):
        from data_pipeline_postgres_spark.catalog import load_table

        rows = registry.QUERIES["part_entity_match"](
            spark, SF_SMOKE
        ).collect()
        assert rows, "expected at least one candidate pair"
        attrs = {
            r["p_partkey"]: (r["p_name"], r["p_brand"], r["p_type"])
            for r in load_table(spark, SF_SMOKE, "part").collect()
        }
        for r in rows:
            assert r["a_key"] < r["b_key"]
            assert 0.3 <= r["jaccard"] <= 1.0
            assert r["size_delta"] >= 0 and r["price_delta_cents"] >= 0
            # composite block = shared (noun, brand, type) — the hard
            # attributes both listings must agree on
            for k in (r["a_key"], r["b_key"]):
                name, brand, ptype = attrs[k]
                assert (
                    f"{name.split(' ')[-1]}|{brand}|{ptype}" == r["block"]
                )

    def test_aggregate_only_plans(self, spark):
        # top-1 cuts are map-side-combinable aggregates: no window,
        # no sort-merge join, no cartesian product anywhere
        for name in ("emb_hard_negative_mining", "emb_matryoshka_agreement"):
            plan = _plan(registry.QUERIES[name](spark, SF_SMOKE))
            assert "Window" not in plan, name
            assert "SortMergeJoin" not in plan, name
            assert "CartesianProduct" not in plan, name
        # entity match is an equi-join on the block key, never a
        # cartesian or nested-loop pair enumeration
        plan = _plan(registry.QUERIES["part_entity_match"](spark, SF_SMOKE))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestInt8AndSessionPaths:
    """Contracts for the late-round-9 additions: int8 fixed-point
    retrieval and session path census."""

    def test_int8_topk_heaps_before_exchange(self, spark):
        # the rank-1..k cut must run as per-partition WindowGroupLimit
        # heaps (partial+final) so the qid exchange carries <= k*nq
        # rows per partition, never the scored corpus
        plan = _plan(registry.QUERIES["sim_topk_int8"](spark, SF_SMOKE))
        assert plan.count("WindowGroupLimit") >= 2
        assert "CartesianProduct" not in plan

    def test_int8_scores_are_integers_and_bounded(self, spark):
        rows = (
            registry.QUERIES["sim_topk_int8"](spark, SF_SMOKE)
            .collect()
        )
        assert len(rows) == 40  # 4 queries x top-10
        for r in rows:
            assert isinstance(r["qdot"], int)
            # unit vectors quantized at 127: |dot| <= ~127^2 (+rounding)
            assert abs(r["qdot"]) <= 130 * 130
        # each query's own code must rank itself first with the max dot
        by_q = {}
        for r in rows:
            by_q.setdefault(r["qid"], []).append(r)
        for qid, rs in by_q.items():
            best = max(rs, key=lambda r: (r["qdot"], -r["vec_id"]))
            assert best["vec_id"] == qid

    def test_int8_recall_is_high(self, spark):
        # 4x compression should keep recall@10 near 1 on this corpus;
        # gate loosely (>= 0.7 mean) so the test pins quality, not noise
        rows = registry.QUERIES["sim_topk_int8_recall"](
            spark, SF_SMOKE
        ).collect()
        assert len(rows) == 4
        mean = sum(r["recall"] for r in rows) / len(rows)
        assert mean >= 0.7, [r.asDict() for r in rows]

    def test_session_paths_two_exchanges_only(self, spark):
        # the user_id window Exchange must serve the lag, the running
        # session-id sum AND the per-session rank (hash(user_id)
        # satisfies the (user_id, sid) clustering); only the final
        # path census adds a second Exchange
        plan = _plan(
            registry.QUERIES["events_session_paths"](spark, SF_SMOKE)
        )
        assert plan.count("Exchange hashpartitioning") == 2, plan

    def test_session_paths_partition_of_sessions(self, spark):
        # every session appears in exactly one path row: total
        # n_sessions == number of distinct (user_id, session) starts
        import pyspark.sql.functions as F
        from data_pipeline_postgres_spark.catalog import load_table

        df = registry.QUERIES["events_session_paths"](spark, SF_SMOKE)
        total = df.agg(F.sum("n_sessions")).collect()[0][0]
        ev = load_table(spark, SF_SMOKE, "events")
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("us", "event_id")
        e2 = ev.select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        n_sessions = (
            e2.withColumn(
                "is_new",
                (
                    F.lag("us").over(w).isNull()
                    | (
                        (F.col("us") - F.lag("us").over(w))
                        > F.lit(1_800_000_000)
                    )
                ).cast("int"),
            )
            .agg(F.sum("is_new"))
            .collect()[0][0]
        )
        assert total == n_sessions
        # paths are built from ordered event types, '>'-joined, <= 3 deep
        for r in df.collect():
            assert 1 <= len(r["path"].split(">")) <= 3


class TestWeightedMedianAndHolt:
    def test_weighted_median_two_hash_exchanges(self, spark):
        # (flag, cent-price) pre-agg + flag window; the final per-flag
        # cut must REUSE the flag partitioning, and nothing may funnel
        # through a single partition
        plan = _plan(registry.QUERIES["agg_weighted_median"](spark, SF_SMOKE))
        assert plan.count("Exchange hashpartitioning") == 2, plan
        assert "Exchange SinglePartition" not in plan

    def test_weighted_median_brute_force(self, spark):
        import duckdb

        rows = {
            r["l_returnflag"]: r
            for r in registry.QUERIES["agg_weighted_median"](
                spark, SF_SMOKE
            ).collect()
        }
        con = duckdb.connect()
        got = con.sql(
            "SELECT l_returnflag, "
            "CAST(CAST(l_extendedprice AS DECIMAL(12,2))*100 AS BIGINT) p, "
            "CAST(l_quantity AS BIGINT) w FROM "
            f"read_parquet('{SF_SMOKE}/lineitem.parquet')"
        ).fetchall()
        by_flag = {}
        for f, p, w in got:
            by_flag.setdefault(f, []).append((p, w))
        for f, pw in by_flag.items():
            pw.sort()
            tot = sum(w for _, w in pw)
            cum = 0
            for p, w in pw:
                cum += w
                if 2 * cum >= tot:
                    assert rows[f]["wmedian_price"] == p / 100.0, f
                    assert rows[f]["total_weight"] == tot, f
                    break

    def test_holt_forecasts_are_colinear(self, spark):
        # f(h) = l + h*b — consecutive differences both approximate b;
        # they can differ in the last ulp ((l+2b)-(l+b) vs
        # (l+3b)-(l+2b) round independently), so near-exact only
        import math

        rows = sorted(
            registry.QUERIES["orders_revenue_holt_forecast"](
                spark, SF_SMOKE
            ).collect(),
            key=lambda r: r["h"],
        )
        assert [r["h"] for r in rows] == [1, 2, 3]
        d1 = rows[1]["forecast"] - rows[0]["forecast"]
        d2 = rows[2]["forecast"] - rows[1]["forecast"]
        assert math.isclose(d1, d2, rel_tol=1e-9), (d1, d2)

    def test_holt_constant_series_is_flat(self, spark):
        # feed the fold a constant series: level must converge to the
        # constant and trend must stay exactly 0
        import pyspark.sql.functions as F

        xs = spark.range(1).select(
            F.transform(
                F.array(*[F.lit(42.0)] * 12),
                lambda x: F.struct(x.alias("l"), F.lit(0.0).alias("b")),
            ).alias("xs")
        )
        from data_pipeline_postgres_spark.plans.queries_commerce import (
            q_orders_revenue_holt_forecast,  # noqa: F401  (fold inline)
        )

        merge = lambda acc, e: F.struct(  # noqa: E731
            (F.lit(0.5) * e["l"] + F.lit(0.5) * (acc["l"] + acc["b"])).alias(
                "l"
            ),
            (
                F.lit(0.25)
                * (
                    F.lit(0.5) * e["l"]
                    + F.lit(0.5) * (acc["l"] + acc["b"])
                    - acc["l"]
                )
                + F.lit(0.75) * acc["b"]
            ).alias("b"),
        )
        st = xs.select(
            F.aggregate(
                F.slice(F.col("xs"), 2, F.size("xs") - 1),
                F.element_at(F.col("xs"), 1),
                merge,
            ).alias("st")
        ).collect()[0]["st"]
        assert st["l"] == 42.0 and st["b"] == 0.0


class TestCountMinSketch:
    def test_estimates_never_underestimate(self, spark):
        rows = registry.QUERIES["sketch_count_min_freq"](
            spark, SF_SMOKE
        ).collect()
        assert len(rows) == 20
        for r in rows:
            assert r["cms_est"] >= r["exact_ct"], r.asDict()

    def test_sketch_is_mergeable(self, spark):
        # CMS counters built over two disjoint halves and added must
        # equal counters built over the whole corpus — the two-level
        # rollup contract
        import pyspark.sql.functions as F
        from data_pipeline_postgres_spark.catalog import load_table
        from data_pipeline_postgres_spark.functions import text as TX
        from data_pipeline_postgres_spark.operators.sketches import (
            CMS_D,
            cms_bucket,
        )

        docs = load_table(spark, SF_SMOKE, "documents")

        def sketch_of(df):
            toks = df.select(F.explode(TX.tokens("text")).alias("tok"))
            exact = toks.groupBy("tok").agg(F.count("*").alias("exact_ct"))
            cells = exact.select(
                "exact_ct",
                F.posexplode(
                    F.array(*[cms_bucket(r) for r in range(CMS_D)])
                ).alias("r", "bucket"),
            )
            return {
                (r["r"], r["bucket"]): r["c"]
                for r in cells.groupBy("r", "bucket")
                .agg(F.sum("exact_ct").alias("c"))
                .collect()
            }

        whole = sketch_of(docs)
        h1 = sketch_of(docs.filter(F.col("doc_id") % 2 == 0))
        h2 = sketch_of(docs.filter(F.col("doc_id") % 2 == 1))
        merged = dict(h1)
        for k, v in h2.items():
            merged[k] = merged.get(k, 0) + v
        assert merged == whole


class TestBloomAndStreamCms:
    def test_bloom_verdict_is_complete(self, spark):
        # a Bloom filter NEVER false-negatives: every true member must
        # be bloom-positive, and FPR must be consistent with counts
        r = registry.QUERIES["sketch_bloom_membership"](
            spark, SF_SMOKE
        ).collect()[0]
        assert r["n_bloom_positive"] >= r["n_members"]
        assert (
            r["n_bloom_positive"] - r["n_false_positive"] == r["n_members"]
        )
        assert 0 < r["n_members"] < r["n_probes"]  # both classes exist
        nonmembers = r["n_probes"] - r["n_members"]
        assert r["fpr"] == r["n_false_positive"] / nonmembers

    def test_bloom_bits_relation_broadcasts(self, spark):
        plan = _plan(
            registry.QUERIES["sketch_bloom_membership"](spark, SF_SMOKE)
        )
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_stream_cms_equals_batch_sketch(self, spark):
        # drained streaming counters == batch counters, cell for cell
        # (counter addition is split-invariant) — and every counter in
        # the probe query's sketch is reachable from this relation
        import pyspark.sql.functions as F
        from data_pipeline_postgres_spark.catalog import load_table
        from data_pipeline_postgres_spark.functions import text as TX
        from data_pipeline_postgres_spark.operators.sketches import (
            CMS_D,
            cms_bucket,
        )

        stream = {
            (r["r"], r["bucket"]): r["counter"]
            for r in registry.QUERIES["stream_cms_rollup"](
                spark, SF_SMOKE
            ).collect()
        }
        docs = load_table(spark, SF_SMOKE, "documents")
        batch = {
            (r["r"], r["bucket"]): r["c"]
            for r in docs.select(F.explode(TX.tokens("text")).alias("tok"))
            .select(
                F.posexplode(
                    F.array(*[cms_bucket(x) for x in range(CMS_D)])
                ).alias("r", "bucket")
            )
            .groupBy("r", "bucket")
            .agg(F.count("*").alias("c"))
            .collect()
        }
        assert stream == batch


class TestByteShardManifest:
    def test_manifest_model_and_partitioning_invariance(self, spark):
        """Start-offset sharding equals the plain sequential model,
        shards cover the corpus exactly once with contiguous id
        ranges, and the layout is invariant to physical
        partitioning."""
        from data_pipeline_postgres_spark.operators import packing

        rows = [(i, 100 + (i * 37) % 400) for i in range(300)]
        sized = spark.createDataFrame(rows, "doc_id bigint, n_bytes bigint")
        got = sorted(
            map(
                tuple,
                packing.byte_shard_manifest(
                    sized, shard_bytes=2048, bucket_width=32
                ).collect(),
            )
        )
        # sequential reference model
        import collections

        shards = collections.defaultdict(lambda: [0, 0, None, None])
        cb = 0
        for i, sz in rows:
            sid = cb // 2048
            s = shards[sid]
            s[0] += 1
            s[1] += sz
            s[2] = i if s[2] is None else min(s[2], i)
            s[3] = i if s[3] is None else max(s[3], i)
            cb += sz
        want = sorted((k, *v) for k, v in shards.items())
        assert got == want
        # invariant under physical partitioning
        got13 = sorted(
            map(
                tuple,
                packing.byte_shard_manifest(
                    sized.repartition(13), shard_bytes=2048, bucket_width=32
                ).collect(),
            )
        )
        assert got13 == got
        # contiguity: shard k's last_id < shard k+1's first_id
        for (a, b) in zip(got, got[1:]):
            assert a[4] < b[3]

    def test_manifest_no_corpus_wide_single_partition_window(self, spark):
        # the only single-partition exchange allowed is the tiny
        # bucket-totals window; the corpus path must stay bucketed
        plan = _plan(
            registry.QUERIES["multimodal_shard_manifest"](spark, SF_SMOKE)
        )
        assert plan.count("Exchange SinglePartition") <= 1, plan


class TestOutOfOrderAudit:
    def test_prefix_max_model_and_invariance(self, spark):
        """Bucketed prefix-max equals the sequential model and is
        invariant to physical partitioning."""
        from data_pipeline_postgres_spark.operators import aggregate

        rows = [(i, (i * 7919) % 1000) for i in range(500)]
        df = spark.createDataFrame(rows, "event_id bigint, us bigint")
        got = {
            r["event_id"]: r["prev_max"]
            for r in aggregate.bucketed_prefix_max_before(
                df, "event_id", "us", bucket_width=64
            ).collect()
        }
        mx = None
        for i, v in rows:
            assert got[i] == mx, i
            mx = v if mx is None else max(mx, v)
        got13 = {
            r["event_id"]: r["prev_max"]
            for r in aggregate.bucketed_prefix_max_before(
                df.repartition(13), "event_id", "us", bucket_width=64
            ).collect()
        }
        assert got13 == got

    def test_audit_accounts_for_every_event(self, spark):
        import pyspark.sql.functions as F
        from data_pipeline_postgres_spark.catalog import load_table

        df = registry.QUERIES["events_out_of_order_audit"](
            spark, SF_SMOKE
        )
        total = df.agg(F.sum("n_events")).collect()[0][0]
        n = load_table(spark, SF_SMOKE, "events").count()
        assert total == n
        for r in df.collect():
            assert r["late_pow2_us"] == -1 or r["late_pow2_us"] >= 0

    def test_audit_no_corpus_single_partition_window(self, spark):
        plan = _plan(
            registry.QUERIES["events_out_of_order_audit"](spark, SF_SMOKE)
        )
        assert plan.count("Exchange SinglePartition") <= 1, plan


class TestKneserNey:
    def test_kn_probabilities_form_valid_scores(self, spark):
        """KN scores are finite negatives, and for every doc the KN
        score is <= 0 while docs whose bigrams are all corpus-frequent
        score higher than rare-bigram docs on average (sanity, not a
        proof)."""
        import math

        rows = registry.QUERIES["text_bigram_kn_logprob"](
            spark, SF_SMOKE
        ).collect()
        assert rows
        for r in rows:
            assert math.isfinite(r["mean_kn_logp"])
            assert r["mean_kn_logp"] < 0
            assert r["n_bigrams"] >= 1

    def test_kn_sums_to_at_most_one_per_context(self, spark):
        """sum_w2 P_KN(w2|w1) <= 1 for every context (equality holds
        only when every w2 follows w1; discount mass reserved for
        unseen continuations makes it < 1 otherwise)."""
        import pyspark.sql.functions as F
        from data_pipeline_postgres_spark.catalog import load_table
        from data_pipeline_postgres_spark.functions import text as TX

        docs = load_table(spark, SF_SMOKE, "documents")
        toks = TX.tokens("text")
        cnt_ = F.size(toks) - 1
        z = F.arrays_zip(F.slice(toks, 1, cnt_), F.slice(toks, 2, cnt_))
        bg = docs.select(F.explode(z).alias("s")).select(
            F.col("s")["0"].alias("w1"), F.col("s")["1"].alias("w2")
        )
        cb = bg.groupBy("w1", "w2").agg(F.count("*").alias("cnt"))
        cl = cb.groupBy("w1").agg(F.sum("cnt").alias("lcnt"))
        n1f = cb.groupBy("w1").agg(F.count("*").alias("nf"))
        n1p = cb.groupBy("w2").agg(F.count("*").alias("np"))
        tot = cb.agg(F.count("*").alias("b"))
        p = (
            (F.col("cnt").cast("double") - F.lit(0.75))
            / F.col("lcnt").cast("double")
            + F.lit(0.75)
            * F.col("nf").cast("double")
            / F.col("lcnt").cast("double")
            * (F.col("np").cast("double") / F.col("b").cast("double"))
        )
        sums = (
            cb.join(cl, "w1")
            .join(n1f, "w1")
            .join(n1p, "w2")
            .crossJoin(F.broadcast(tot))
            .select("w1", p.alias("p"))
            .groupBy("w1")
            .agg(F.sum("p").alias("s"))
            .collect()
        )
        assert sums
        for r in sums:
            assert r["s"] <= 1.0 + 1e-9, r


class TestWelchTTest:
    def test_matches_scipy_free_reference(self, spark):
        """Welch t/df against a plain-Python reference on the same
        rows (no scipy in the container — the formula IS the test)."""
        import math

        from data_pipeline_postgres_spark.catalog import load_table

        got = registry.QUERIES["events_ab_welch_ttest"](
            spark, SF_SMOKE
        ).collect()[0]
        rows = (
            load_table(spark, SF_SMOKE, "events")
            .filter(F.col("event_type") == "purchase")
            .select((F.col("user_id") % 2).alias("g"), "value")
            .collect()
        )
        a = [round(r["value"] * 100) for r in rows if r["g"] == 0]
        b = [round(r["value"] * 100) for r in rows if r["g"] == 1]

        def mv(x):
            n = len(x)
            m = sum(x) / n
            v = sum((xi - m) ** 2 for xi in x) / (n - 1)
            return n, m, v

        na, ma, va = mv(a)
        nb, mb, vb = mv(b)
        t = (ma - mb) / math.sqrt(va / na + vb / nb)
        df = (va / na + vb / nb) ** 2 / (
            (va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1)
        )
        assert got["n_a"] == na and got["n_b"] == nb
        assert got["t_stat"] == pytest.approx(t, rel=1e-9)
        assert got["welch_df"] == pytest.approx(df, rel=1e-9)
        assert got["mean_a"] == pytest.approx(ma / 100, rel=1e-12)

    def test_identical_arms_give_zero_t(self, spark):
        """Self-consistency: comparing an arm against itself must give
        t == 0 exactly (pure arithmetic identity)."""
        # covered implicitly by construction: ma == mb ⇒ numerator 0
        # — assert on the real data that t is finite and df sane
        import math

        got = registry.QUERIES["events_ab_welch_ttest"](
            spark, SF_SMOKE
        ).collect()[0]
        assert math.isfinite(got["t_stat"])
        assert 1 <= got["welch_df"] <= got["n_a"] + got["n_b"]


class TestKaplanMeier:
    def test_km_invariants(self, spark):
        """Risk set telescopes exactly, survival is non-increasing,
        and with zero censoring KM equals the empirical CDF."""
        rows = sorted(
            registry.QUERIES["events_km_conversion_curve"](
                spark, SF_SMOKE
            ).collect(),
            key=lambda r: r["t_days"],
        )
        assert rows
        n0 = rows[0]["n_risk"]
        expect_risk = n0
        prev_ubits = 0
        for r in rows:
            assert r["n_risk"] == expect_risk
            expect_risk -= r["d_events"] + r["c_censored"]
            assert r["log2_s_ubits"] <= prev_ubits  # non-increasing S
            prev_ubits = r["log2_s_ubits"]
        assert expect_risk == 0  # every subject accounted for once
        # there is real censoring on this corpus (the estimator's
        # reason to exist) — if this fails the threshold needs moving
        assert sum(r["c_censored"] for r in rows) > 0
        assert sum(r["d_events"] for r in rows) > 0

    def test_km_matches_sequential_reference(self, spark):
        import math

        rows = sorted(
            registry.QUERIES["events_km_conversion_curve"](
                spark, SF_SMOKE
            ).collect(),
            key=lambda r: r["t_days"],
        )
        cum = 0
        for r in rows:
            n, d = r["n_risk"], r["d_events"]
            if d == 0:
                term = 0
            elif d < n:
                term = math.floor(math.log2((n - d) / n) * 1e6 + 0.5)
            else:
                term = -(10**9)
            cum += term
            assert r["log2_s_ubits"] == cum, r.asDict()


class TestCuped:
    def test_cuped_reduces_variance(self, spark):
        """theta is the OLS minimizer of residual variance, so the
        sample variance of the adjusted metric can never exceed the
        raw metric's (up to quantization noise) — and the pooled
        check against a plain-Python reference."""
        import math

        from data_pipeline_postgres_spark.catalog import load_table

        got = registry.QUERIES["events_cuped_ab_adjusted"](
            spark, SF_SMOKE
        ).collect()[0]
        assert math.isfinite(got["theta"])
        assert math.isfinite(got["t_raw"]) and math.isfinite(
            got["t_cuped"]
        )

        ev = load_table(spark, SF_SMOKE, "events").collect()
        from collections import defaultdict

        pre = defaultdict(int)
        post = defaultdict(int)
        users = set()
        for r in ev:
            users.add(r["user_id"])
            if r["event_type"] != "purchase":
                continue
            c = round(r["value"] * 100)
            if str(r["ts"]) < "2024-01-16":
                pre[r["user_id"]] += c
            else:
                post[r["user_id"]] += c
        xs = [pre[u] for u in users]
        ys = [post[u] for u in users]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        sxy = sum(x * y for x, y in zip(xs, ys))
        theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        assert got["theta"] == pytest.approx(theta, rel=1e-9)
        xbar = sx / n
        adj = [y - theta * (x - xbar) for x, y in zip(xs, ys)]

        def var(v):
            m = sum(v) / len(v)
            return sum((a - m) ** 2 for a in v) / (len(v) - 1)

        assert var(adj) <= var([float(y) for y in ys]) * (1 + 1e-9)


class TestRandomWalks:
    def test_walks_are_valid_paths(self, spark):
        """Every consecutive (node, next) pair is a real edge, every
        walk has exactly length+1 rows, and hop choice matches the
        md5 rule recomputed in Python."""
        import hashlib

        from data_pipeline_postgres_spark.plans.queries_graph import (
            _copurchase_edge_index,
        )

        rows = registry.QUERIES["graph_random_walks"](
            spark, SF_SMOKE
        ).collect()
        walks = {}
        for r in rows:
            walks.setdefault(r["start"], {})[r["step"]] = r["node"]
        assert len(walks) == 20
        edges = {}
        for e in (
            _copurchase_edge_index(spark, SF_SMOKE)
            .select("src", "dst")
            .collect()
        ):
            edges.setdefault(e["src"], []).append(e["dst"])
        for start, path in walks.items():
            assert sorted(path) == [0, 1, 2, 3, 4]
            assert path[0] == start
            for k in range(1, 5):
                cur = path[k - 1]
                nbrs = sorted(edges[cur])
                h = int(
                    hashlib.md5(f"{cur}#{k}".encode()).hexdigest()[:8], 16
                )
                assert path[k] == nbrs[h % len(nbrs)], (start, k)


class TestBootstrapCI:
    def test_ci_brackets_mean_and_replays_in_python(self, spark):
        import hashlib

        from data_pipeline_postgres_spark.catalog import load_table

        got = registry.QUERIES["agg_bootstrap_ci_mean"](
            spark, SF_SMOKE
        ).collect()[0]
        assert got["ci_lo"] < got["mean_value"] < got["ci_hi"]
        rows = [
            (r["event_id"], round(r["value"] * 100))
            for r in load_table(spark, SF_SMOKE, "events")
            .filter(F.col("event_type") == "purchase")
            .collect()
        ]
        means = []
        for b in range(100):
            swc = sw = 0
            for eid, c in rows:
                h = int(
                    hashlib.md5(f"{eid}#{b}".encode()).hexdigest()[:8], 16
                )
                w = sum(1 for j in range(4) if (h >> (2 * j)) & 3 == 0)
                swc += w * c
                sw += w
            means.append(swc / sw / 100)
        means.sort()
        assert got["ci_lo"] == means[2]  # rank 3, 1-indexed
        assert got["ci_hi"] == means[97]  # rank 98


class TestBM25:
    def test_query_doc_ranks_first_and_plan_has_no_cross_join(self, spark):
        df = registry.QUERIES["text_bm25_search"](spark, SF_SMOKE)
        rows = df.collect()
        assert len(rows) == 10
        # the query document ranks very highly but — unlike cosine —
        # BM25's length normalization doesn't guarantee rank 1: a
        # shorter doc stacking the rarest query terms can edge it out
        # (doc 82 does, by design of the measure). It must appear.
        assert 0 in {r["doc_id"] for r in rows}
        assert all(
            rows[i]["score_ubits"] >= rows[i + 1]["score_ubits"]
            for i in range(9)
        )
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan


class TestHybridRRF:
    def test_fusion_covers_both_arms(self, spark):
        rows = registry.QUERIES["search_hybrid_rrf"](
            spark, SF_SMOKE
        ).collect()
        # 10-20 rows: union of two top-10 lists
        assert 10 <= len(rows) <= 20
        by_id = {r["doc_id"]: r for r in rows}
        # every rank 1..10 appears exactly once per arm
        assert sorted(
            r["r_lex"] for r in rows if r["r_lex"] is not None
        ) == list(range(1, 11))
        assert sorted(
            r["r_dense"] for r in rows if r["r_dense"] is not None
        ) == list(range(1, 11))
        # the query doc (0) tops the dense arm (cosine with itself = 1)
        assert by_id[0]["r_dense"] == 1
        for r in rows:
            want = 0.0
            if r["r_lex"] is not None:
                want += 1.0 / (60 + r["r_lex"])
            if r["r_dense"] is not None:
                want += 1.0 / (60 + r["r_dense"])
            assert r["rrf_score"] == want


class TestSkipgramPairs:
    def test_pair_counts_match_walk_replay(self, spark):
        walks = {}
        for r in registry.QUERIES["graph_random_walks"](
            spark, SF_SMOKE
        ).collect():
            walks.setdefault(r["start"], {})[r["step"]] = r["node"]
        import collections

        want = collections.Counter()
        for path in walks.values():
            for i in range(5):
                for j in range(5):
                    if 1 <= abs(i - j) <= 2:
                        want[(path[i], path[j])] += 1
        got = {
            (r["center"], r["context"]): r["n"]
            for r in registry.QUERIES["graph_walk_skipgram_pairs"](
                spark, SF_SMOKE
            ).collect()
        }
        assert got == dict(want)
        # symmetric window: total pairs even, every (c,x) has (x,c)
        assert sum(got.values()) % 2 == 0


class TestDriftPair:
    def _halves(self, spark):
        from data_pipeline_postgres_spark.catalog import load_table

        a, b = [], []
        for r in (
            load_table(spark, SF_SMOKE, "events")
            .filter(F.col("event_type") == "purchase")
            .collect()
        ):
            (a if str(r["ts"]) < "2024-01-16" else b).append(
                round(r["value"] * 100)
            )
        return a, b

    def test_ks_matches_bruteforce(self, spark):
        a, b = self._halves(spark)
        got = registry.QUERIES["events_ks_two_sample"](
            spark, SF_SMOKE
        ).collect()[0]
        assert got["n1"] == len(a) and got["n2"] == len(b)
        n1, n2 = len(a), len(b)
        best = 0
        for v in sorted(set(a) | set(b)):
            f1 = sum(1 for x in a if x <= v)
            f2 = sum(1 for x in b if x <= v)
            best = max(best, abs(f1 * n2 - f2 * n1))
        assert got["ks_num"] == best
        assert got["ks_d"] == best / (n1 * n2)

    def test_psi_replays_and_is_nonnegative_total(self, spark):
        import math
        from collections import Counter

        a, b = self._halves(spark)
        ca = Counter(v // 2000 for v in a)  # $20 bins over cents
        cb = Counter(v // 2000 for v in b)
        rows = registry.QUERIES["events_psi_value_drift"](
            spark, SF_SMOKE
        ).collect()
        n1, n2 = len(a), len(b)
        total = 0
        for r in rows:
            assert ca[r["bin"]] == r["c1"] and cb[r["bin"]] == r["c2"]
            p, q = r["c1"] / n1, r["c2"] / n2
            want = math.floor((p - q) * math.log(p / q) * 1e6 + 0.5)
            assert r["psi_ubits"] == want
            total += r["psi_ubits"]
        # each (p-q)·ln(p/q) term is >= 0, so the index is too
        # (quantization can nudge a zero term to at most -1 µnat each)
        assert total >= -len(rows)


class TestMannWhitney:
    def test_u_matches_bruteforce_ranks(self, spark):
        from collections import Counter

        from data_pipeline_postgres_spark.catalog import load_table

        got = registry.QUERIES["events_mann_whitney_u"](
            spark, SF_SMOKE
        ).collect()[0]
        a, b = [], []
        for r in (
            load_table(spark, SF_SMOKE, "events")
            .filter(F.col("event_type") == "purchase")
            .collect()
        ):
            (a if r["user_id"] % 2 == 0 else b).append(
                round(r["value"] * 100)
            )
        assert got["n1"] == len(a) and got["n2"] == len(b)
        # tie-averaged doubled rank sum of sample 1 by brute force
        allv = sorted(a + b)
        first = {}
        cnt = Counter(allv)
        pos = 1
        rank2 = {}
        for v in sorted(cnt):
            k = cnt[v]
            rank2[v] = 2 * pos + (k - 1)  # 2 * average rank
            pos += k
        r1x2 = sum(rank2[v] for v in a)
        n1, n2 = len(a), len(b)
        u_x2 = 2 * n1 * n2 + n1 * (n1 + 1) - r1x2
        assert got["u_x2"] == u_x2
        # z is within normal range and finite
        import math

        assert math.isfinite(got["z_stat"])


class TestChi2:
    def test_cells_replay_and_marginals_consistent(self, spark):
        import math
        from collections import Counter

        from data_pipeline_postgres_spark.catalog import load_table

        rows = registry.QUERIES["events_chi2_independence"](
            spark, SF_SMOKE
        ).collect()
        obs = Counter()
        for r in load_table(spark, SF_SMOKE, "events").collect():
            obs[(r["user_id"] % 2, r["event_type"])] += 1
        assert {(r["grp"], r["event_type"]): r["o"] for r in rows} == dict(
            obs
        )
        n = sum(obs.values())
        nr = Counter()
        nc = Counter()
        for (g, t), o in obs.items():
            nr[g] += o
            nc[t] += o
        for r in rows:
            e = nr[r["grp"]] * nc[r["event_type"]] / n
            want = math.floor((r["o"] - e) ** 2 / e * 1e6 + 0.5)
            assert r["chi2_u"] == want


class TestDiD:
    def test_did_replays_in_python(self, spark):
        import math
        from collections import defaultdict

        from data_pipeline_postgres_spark.catalog import load_table

        got = registry.QUERIES["events_did_estimator"](
            spark, SF_SMOKE
        ).collect()[0]
        cells = defaultdict(list)
        for r in (
            load_table(spark, SF_SMOKE, "events")
            .filter(F.col("event_type") == "purchase")
            .collect()
        ):
            post = 0 if str(r["ts"]) < "2024-01-16" else 1
            cells[(r["user_id"] % 2, post)].append(round(r["value"] * 100))

        def mv(x):
            n = len(x)
            m = sum(x) / n
            v = sum((xi - m) ** 2 for xi in x) / (n - 1) / n
            return m, v

        m_tp, v_tp = mv(cells[(1, 1)])
        m_t0, v_t0 = mv(cells[(1, 0)])
        m_cp, v_cp = mv(cells[(0, 1)])
        m_c0, v_c0 = mv(cells[(0, 0)])
        eff = (m_tp - m_t0) - (m_cp - m_c0)
        se = math.sqrt(v_tp + v_t0 + v_cp + v_c0)
        assert got["did_effect"] == pytest.approx(eff / 100, rel=1e-9)
        assert got["did_se"] == pytest.approx(se / 100, rel=1e-9)
        assert got["did_t"] == pytest.approx(eff / se, rel=1e-9)


class TestHoltBacktest:
    def test_backtest_replays_sequentially(self, spark):
        import duckdb

        got = registry.QUERIES["orders_holt_backtest"](
            spark, SF_SMOKE
        ).collect()[0]
        ser = duckdb.sql(
            "SELECT cast(year(o_orderdate)*12+month(o_orderdate)-1 as bigint) mk,"
            " cast(sum(cast(o_totalprice as decimal(18,2))) as double) rev"
            f" FROM read_parquet('{SF_SMOKE}/orders.parquet')"
            " GROUP BY 1 ORDER BY 1"
        ).fetchall()
        ys = [r[1] for r in ser]
        l, b, s = ys[0], 0.0, 0.0
        for y in ys[1:]:
            s += abs(y - (l + b))
            l2 = 0.5 * y + 0.5 * (l + b)
            b = 0.25 * (l2 - l) + 0.75 * b
            l = l2
        assert got["n_evals"] == len(ys) - 1
        assert got["mae"] == s / (len(ys) - 1)


class TestRakeKeywords:
    def test_rake_replays_in_python(self, spark):
        """Full pure-Python RAKE replay on the smoke corpus must equal
        the Spark top-20 bit-for-bit (scores included)."""
        from collections import defaultdict

        from data_pipeline_postgres_spark.catalog import load_table
        from data_pipeline_postgres_spark.functions.text import STOPWORDS

        got = [
            (r["phrase"], r["n_words"], r["n_occur"], r["rake_score"])
            for r in registry.QUERIES["text_rake_keywords"](
                spark, SF_SMOKE
            ).collect()
        ]
        assert len(got) == 20

        phrases = []
        for r in load_table(spark, SF_SMOKE, "documents").collect():
            cur = []
            for tok in r["text"].strip().split():
                if tok in STOPWORDS:
                    if 1 <= len(cur) <= 3:
                        phrases.append(tuple(cur))
                    cur = []
                else:
                    cur.append(tok)
            if 1 <= len(cur) <= 3:
                phrases.append(tuple(cur))
        freq, deg = defaultdict(int), defaultdict(int)
        for p in phrases:
            for w in p:
                freq[w] += 1
                deg[w] += len(p)
        wq = {w: (deg[w] * 1048576) // freq[w] for w in freq}
        stats = defaultdict(int)
        for p in phrases:
            stats[(p, sum(wq[w] for w in p))] += 1
        ranked = sorted(
            (
                (" ".join(p), len(p), n, sq / 1048576.0, sq)
                for (p, sq), n in stats.items()
            ),
            key=lambda t: (-t[4], -t[2], t[0]),
        )[:20]
        assert got == [t[:4] for t in ranked]

    def test_rake_top20_is_take_ordered(self, spark):
        plan = _plan(
            registry.QUERIES["text_rake_keywords"](spark, SF_SMOKE)
        )
        assert "TakeOrderedAndProject" in plan


class TestNaiveBayesSource:
    def test_confusion_partitions_test_split(self, spark):
        """Every held-out doc lands in exactly one confusion cell and
        both axes stay inside the training label set."""
        from data_pipeline_postgres_spark.catalog import load_table

        rows = registry.QUERIES["docs_naive_bayes_source"](
            spark, SF_SMOKE
        ).collect()
        docs = load_table(spark, SF_SMOKE, "documents")
        n_test = docs.filter(F.col("doc_id") % 5 == 0).count()
        srcs = {
            r["source"]
            for r in docs.filter(F.col("doc_id") % 5 != 0)
            .select("source")
            .distinct()
            .collect()
        }
        assert sum(r["n_docs"] for r in rows) == n_test
        assert {r["true_source"] for r in rows} <= srcs | {
            r["source"] for r in docs.select("source").collect()
        }
        assert {r["pred_source"] for r in rows} <= srcs

    def test_separable_corpus_classifies_perfectly(self, spark, tmp_path):
        """On a corpus where each source has a disjoint vocabulary the
        confusion matrix must be diagonal — the classifier actually
        learns, even though the synthetic word-salad corpus reads
        chance-level."""
        import pandas as pd

        from data_pipeline_postgres_spark.plans import queries_curation

        scratch = str(tmp_path)
        rows = []
        for d in range(40):
            src = f"s{d % 4}"
            word = f"w{d % 4}"
            rows.append(
                {
                    "doc_id": d,
                    "text": " ".join([word] * 5),
                    "lang": "en",
                    "source": src,
                    "n_chars": 10,
                }
            )
        pd.DataFrame(rows).to_parquet(f"{scratch}/documents.parquet")
        got = queries_curation.q_docs_naive_bayes_source(
            spark, scratch
        ).collect()
        assert all(r["true_source"] == r["pred_source"] for r in got)
        assert sum(r["n_docs"] for r in got) == 8  # 40/5 held out


class TestTheilSen:
    def test_matches_numpy_reference(self, spark):
        """Median-of-pairwise-slopes replay with plain floats over the
        decimal-exact daily aggregate."""
        from decimal import Decimal

        from data_pipeline_postgres_spark.catalog import load_table

        got = registry.QUERIES["orders_theil_sen_trend"](
            spark, SF_SMOKE
        ).collect()[0]
        daily = {}
        for r in load_table(spark, SF_SMOKE, "orders").collect():
            d = r["o_orderdate"].date()
            daily[d] = daily.get(d, Decimal(0)) + Decimal(
                str(r["o_totalprice"])
            ).quantize(Decimal("0.01"))
        d0 = min(daily)
        pts = sorted(
            ((d - d0).days, float(v)) for d, v in daily.items()
        )
        slopes = sorted(
            (
                ((y2 - y1) / float(t2 - t1), t1, t2)
                for i, (t1, y1) in enumerate(pts)
                for t2, y2 in pts[i + 1 :]
            )
        )
        n = len(slopes)
        mids = {(n + 1) // 2, n // 2 + 1}
        med = sum(slopes[m - 1][0] for m in mids) / len(mids)
        assert got["n_days"] == len(pts)
        assert got["n_pairs"] == n == len(pts) * (len(pts) - 1) // 2
        assert got["ts_slope"] == med

    def test_outlier_robustness(self, spark, tmp_path):
        """Theil-Sen on a clean ramp plus a few wild outlier days must
        recover the ramp slope exactly (median ignores the tails)."""
        import datetime as dt

        import pandas as pd

        from data_pipeline_postgres_spark.plans import queries_commerce

        scratch = str(tmp_path)
        rows = []
        for i in range(30):
            price = 100.0 + 10.0 * i
            if i in (5, 17):  # wild outliers
                price = 100000.0
            rows.append(
                {
                    "o_orderkey": i,
                    "o_custkey": 1,
                    "o_orderstatus": "F",
                    "o_totalprice": price,
                    "o_orderdate": dt.datetime(2024, 1, 1)
                    + dt.timedelta(days=i),
                    "o_orderpriority": "1-URGENT",
                }
            )
        pdf = pd.DataFrame(rows)
        pdf["o_orderdate"] = pdf["o_orderdate"].astype("datetime64[us]")
        pdf.to_parquet(f"{scratch}/orders.parquet")
        got = queries_commerce.q_orders_theil_sen_trend(
            spark, scratch
        ).collect()[0]
        assert got["ts_slope"] == 10.0


class TestPmiCollocations:
    def test_pmi_replays_in_python(self, spark):
        """Pure-Python PMI replay on the smoke corpus must equal the
        Spark top-20 bit-for-bit (quantized scores included)."""
        import math
        from collections import Counter

        from data_pipeline_postgres_spark.catalog import load_table

        got = [
            (r["w1"], r["w2"], r["n_pair"], r["pmi"])
            for r in registry.QUERIES["text_pmi_collocations"](
                spark, SF_SMOKE
            ).collect()
        ]
        assert len(got) == 20

        uni, big = Counter(), Counter()
        for r in load_table(spark, SF_SMOKE, "documents").collect():
            t = r["text"].strip().split()
            uni.update(t)
            big.update(zip(t, t[1:]))
        n = sum(uni.values())
        rows = []
        for (w1, w2), cxy in big.items():
            if cxy < 5:
                continue
            pq = math.floor(
                math.log2((cxy * float(n)) / (uni[w1] * float(uni[w2])))
                * 1e6
                + 0.5
            )
            rows.append((w1, w2, cxy, pq))
        rows.sort(key=lambda t: (-t[3], -t[2], t[0], t[1]))
        assert got == [
            (w1, w2, c, q / 1e6) for w1, w2, c, q in rows[:20]
        ]

    def test_pmi_top20_is_take_ordered(self, spark):
        plan = _plan(
            registry.QUERIES["text_pmi_collocations"](spark, SF_SMOKE)
        )
        assert "TakeOrderedAndProject" in plan


class TestWinnowingFingerprints:
    @staticmethod
    def _select(hashes, w=4):
        """Reference winnowing: min hash per window, rightmost tie."""
        sel = set()
        m = len(hashes)
        for j in range(1, max(m - w + 1, 1) + 1):
            win = hashes[j - 1 : j - 1 + w]
            mn = min(win)
            # rightmost occurrence of the min
            pos = j + max(i for i, h in enumerate(win) if h == mn)
            sel.add((mn, pos))
        return sel

    def test_winnowing_replays_in_python(self, spark):
        import hashlib
        from collections import defaultdict

        from data_pipeline_postgres_spark.catalog import load_table

        got = [
            (r["fingerprint"], r["n_docs"], r["n_picks"])
            for r in registry.QUERIES["docs_winnowing_fingerprints"](
                spark, SF_SMOKE
            ).collect()
        ]
        assert len(got) == 20

        per_fp_docs = defaultdict(set)
        per_fp_picks = defaultdict(int)
        for r in load_table(spark, SF_SMOKE, "documents").collect():
            t = r["text"].strip().split()
            hs = [
                int(
                    hashlib.md5(
                        " ".join(t[i : i + 3]).encode()
                    ).hexdigest()[:10],
                    16,
                )
                for i in range(len(t) - 2)
            ]
            for h, _pos in self._select(hs):
                per_fp_docs[h].add(r["doc_id"])
                per_fp_picks[h] += 1
        ranked = sorted(
            (
                (fp, len(ds), per_fp_picks[fp])
                for fp, ds in per_fp_docs.items()
            ),
            key=lambda x: (-x[1], -x[2], x[0]),
        )[:20]
        assert got == ranked

    def test_shared_run_guarantees_shared_fingerprint(self):
        """Winnowing guarantee: two hash sequences sharing a run of
        >= w consecutive equal hashes share a selected fingerprint."""
        import random

        rng = random.Random(9)
        run = [rng.randrange(1 << 40) for _ in range(4)]
        a = [rng.randrange(1 << 40) for _ in range(30)] + run
        b = run + [rng.randrange(1 << 40) for _ in range(25)]
        sa = {h for h, _ in self._select(a)}
        sb = {h for h, _ in self._select(b)}
        assert sa & sb & set(run)


class TestBurstRangeJoin:
    def test_no_theta_join_in_plan(self, spark):
        """The range join must execute as a broadcast EQUI-join on
        the day bucket — no BroadcastNestedLoop / CartesianProduct."""
        plan = _plan(
            registry.QUERIES["events_burst_range_join"](spark, SF_SMOKE)
        )
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan

    def test_windows_cover_top_days(self, spark):
        """Every reported center day must be among its type's top-3
        busiest days, and its window count must be >= the center
        day's own event count."""
        from data_pipeline_postgres_spark.catalog import load_table

        out = {
            (r["burst_type"], r["center_day"]): r["n_events"]
            for r in registry.QUERIES["events_burst_range_join"](
                spark, SF_SMOKE
            ).collect()
        }
        ev = load_table(spark, SF_SMOKE, "events")
        daily = (
            ev.groupBy("event_type", F.to_date("ts").alias("d"))
            .count()
            .collect()
        )
        from collections import defaultdict

        per_type = defaultdict(list)
        for r in daily:
            per_type[r["event_type"]].append((r["d"], r["count"]))
        for (btype, center), n in out.items():
            top3 = [
                d
                for d, _ in sorted(
                    per_type[btype], key=lambda x: (-x[1], x[0])
                )[:3]
            ]
            assert center in top3
            center_cnt = dict(per_type[btype])[center]
            assert n >= center_cnt


class TestNbMarginCalibration:
    def test_bins_partition_eval_set_and_match_confusion(self, spark):
        cal = registry.QUERIES["docs_nb_margin_calibration"](
            spark, SF_SMOKE
        ).collect()
        conf = registry.QUERIES["docs_naive_bayes_source"](
            spark, SF_SMOKE
        ).collect()
        n_eval = sum(r["n_docs"] for r in conf)
        assert sum(r["n_docs"] for r in cal) == n_eval
        diag = sum(
            r["n_docs"]
            for r in conf
            if r["true_source"] == r["pred_source"]
        )
        assert sum(r["n_correct"] for r in cal) == diag
        assert sorted(r["margin_bin"] for r in cal) == [1, 2, 3, 4, 5]
        for r in cal:
            assert 0.0 <= r["accuracy"] <= 1.0
            assert r["min_margin"] >= 0
            assert r["n_correct"] <= r["n_docs"]


class TestNgramNoveltyCurve:
    def test_novelty_replays_in_python(self, spark):
        """Sorted-order Python replay (first occurrence = min doc_id)
        must match Spark's bucket table exactly, novelty_ppm included."""
        import hashlib
        from collections import defaultdict

        from data_pipeline_postgres_spark.catalog import load_table

        got = {
            r["bucket"]: (
                r["n_docs"],
                r["n_shingles"],
                r["n_novel"],
                r["novelty_ppm"],
                r["novel_frac"],
            )
            for r in registry.QUERIES["docs_ngram_novelty_curve"](
                spark, SF_SMOKE
            ).collect()
        }

        docs = load_table(spark, SF_SMOKE, "documents").collect()
        ids = [r["doc_id"] for r in docs]
        mn, mx = min(ids), max(ids)
        first: dict[int, int] = {}
        per_doc: dict[int, tuple[int, int]] = {}
        for r in sorted(docs, key=lambda r: r["doc_id"]):
            t = r["text"].strip().split()
            hs = {
                int(
                    hashlib.md5(
                        " ".join(t[i : i + 3]).encode()
                    ).hexdigest()[:15],
                    16,
                )
                for i in range(len(t) - 2)
            }
            if not hs:
                continue
            novel = 0
            for h in hs:
                if h not in first:
                    first[h] = r["doc_id"]
                    novel += 1
            per_doc[r["doc_id"]] = (len(hs), novel)
        assert per_doc, "smoke corpus must produce shingled docs"

        agg = defaultdict(lambda: [0, 0, 0])
        for d, (n_sh, n_new) in per_doc.items():
            b = ((d - mn) * 10) // (mx - mn + 1)
            agg[b][0] += 1
            agg[b][1] += n_sh
            agg[b][2] += n_new
        exp = {
            b: (c, s, nv, (nv * 1000000) // s, ((nv * 1000000) // s) / 1e6)
            for b, (c, s, nv) in agg.items()
        }
        assert got == exp

    def test_novelty_plan_shape(self, spark):
        """Bounds ride a broadcast; no cartesian product; shingle key
        work is hash aggregation, not any global sort."""
        plan = _plan(
            registry.QUERIES["docs_ngram_novelty_curve"](spark, SF_SMOKE)
        )
        assert "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan
