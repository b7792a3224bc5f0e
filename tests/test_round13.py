"""Round-13 tests: advisory fixes + new operators.

Covers (r12 advisory):
- Kaplan-Meier exhausted-risk-set edge (d_events == n_risk): the ln
  term must not evaluate ln(0) on either engine, and survival emits
  NULL from the exhausted bin on.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_postgres_spark.plans import registry

from .conftest import SF_SMOKE as SF

registry.load_all()


class TestKaplanMeierExhaustedRiskSet:
    """The advertised NULL semantics are data-dependent; synthesize
    the data that hits them (r12 advisory, queries_commerce.py KM oracle).

    Construction: the censored max-date holder lives in bin 0 while a
    long-lived churned customer lands alone in bin 1 — so bin 1's
    risk set is exactly its event count (d = n = 1), survival is 0
    from bin 1 on, and both engines must emit NULL without ever
    evaluating ln(0).
    """

    ROWS = [
        # custkey, orderdate            (w = 2020-12-31, cdate = 10-02)
        (1, "2020-12-01"),  # A censored: t=30  -> bin 0
        (1, "2020-12-31"),
        (2, "2019-01-01"),  # B churned:  t=151 -> bin 1
        (2, "2019-06-01"),
    ]

    @pytest.fixture(scope="class")
    def sf_dir(self, spark, tmp_path_factory):
        d = tmp_path_factory.mktemp("km_edge")
        spark.createDataFrame(
            [(k, ds) for k, ds in self.ROWS],
            "o_custkey bigint, ds string",
        ).select(
            "o_custkey",
            F.col("ds").cast("timestamp").alias("o_orderdate"),
        ).coalesce(1).write.mode("overwrite").parquet(
            str(d / "orders.parquet")
        )
        return str(d)

    def test_spark_emits_null_from_exhausted_bin(self, spark, sf_dir):
        rows = {
            r.t_bin: r
            for r in registry.QUERIES["customers_kaplan_meier"](
                spark, sf_dir
            ).collect()
        }
        assert set(rows) == {0, 1}
        assert rows[1].n_risk == rows[1].d_events == 1
        assert rows[0].km_logq_nano == 0  # no events in bin 0
        assert rows[1].km_logq_nano is None  # survival exactly 0

    def test_oracle_matches_on_the_edge(self, spark, sf_dir):
        import duckdb

        from tests.oracle_util import assert_matches_oracle

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM "
            f"read_parquet('{sf_dir}/orders.parquet/*.parquet')"
        )
        assert_matches_oracle(
            registry.QUERIES["customers_kaplan_meier"](spark, sf_dir),
            con,
            registry.ORACLES["customers_kaplan_meier"],
            name="customers_kaplan_meier[km-edge]",
        )


class TestCdcChunksKernel:
    """The vectorized gear kernel (operators/multimodal.cdc_chunks_np)
    must produce EXACTLY the SQL fold's chunks — same boundaries, same
    content — at the storage mask."""

    def test_kernel_equals_sql_fold_mask64(self, spark):
        from data_pipeline_postgres_spark.operators import multimodal
        from data_pipeline_postgres_spark.plans.queries_dedup import (
            q_multimodal_cdc_chunks,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        got = sorted(
            (r.doc_id, r.chunk.hex())
            for r in multimodal.cdc_chunks_np(docs, mask=64).collect()
        )
        import hashlib

        # SQL fold emits md5 over the lowercase-hex chunk string;
        # re-derive the same key from the kernel's raw bytes
        got_md5 = sorted(
            (d, hashlib.md5(hx.encode()).hexdigest()) for d, hx in got
        )
        want = sorted(
            (r.doc_id, r.chunk_md5)
            for r in q_multimodal_cdc_chunks(spark, SF).collect()
        )
        assert got_md5 == want


class TestPayloadCdcPairs:
    def test_pair_set_equals_shingle_at_test_sf(self, spark):
        """Verdict r12 item 5 gate: the CDC pair finder recovers the
        same >= 0.5-Jaccard pair set as dedup_payload_shingle on the
        test corpus. (At sf0.1 they deliberately DIVERGE: the shingle
        query's rare-gram signature saturates — precision 0.129 vs the
        CDC finder's 1.000 against uncapped byte-8-gram truth; see
        PLANS.md accuracy table.)"""
        sh = {
            (r.doc_a, r.doc_b)
            for r in registry.QUERIES["dedup_payload_shingle"](
                spark, SF
            ).collect()
        }
        cdc = {
            (r.doc_a, r.doc_b)
            for r in registry.QUERIES["dedup_payload_cdc"](
                spark, SF
            ).collect()
        }
        assert cdc == sh and len(cdc) > 0

    def test_scores_and_bounds(self, spark):
        rows = registry.QUERIES["dedup_payload_cdc"](
            spark, SF
        ).collect()
        for r in rows:
            assert r.doc_a < r.doc_b
            assert 0.5 <= r.jaccard <= 1.0
            assert r.jaccard <= r.containment <= 1.0
            assert r.n_common >= 1


class TestMutualKnnAnn:
    def test_recall_gate_vs_exact(self, spark):
        """Verdict r12 item 6 gate: ANN-candidate mutual kNN recovers
        >= 0.9 of the exact reciprocal pair set (dedup_embedding_lsh
        precedent; regime notes in queries_search)."""
        exact = {
            (r.vec_id_a, r.vec_id_b)
            for r in registry.QUERIES["emb_mutual_knn"](
                spark, SF
            ).collect()
        }
        ann = {
            (r.vec_id_a, r.vec_id_b)
            for r in registry.QUERIES["emb_mutual_knn_ann"](
                spark, SF
            ).collect()
        }
        assert exact, "exact pair set empty"
        recall = len(ann & exact) / len(exact)
        precision = len(ann & exact) / len(ann)
        assert recall >= 0.9, f"recall {recall:.3f} < 0.9"
        assert precision >= 0.9, f"precision {precision:.3f} < 0.9"


class TestAcf:
    def test_acf_invariants(self, spark):
        rows = {
            r.lag: r
            for r in registry.QUERIES["orders_acf"](
                spark, SF
            ).collect()
        }
        assert set(rows) == set(range(1, 15))
        den = {r.acf_den for r in rows.values()}
        assert len(den) == 1 and den.pop() > 0
        for r in rows.values():
            assert -1.0 <= r.acf <= 1.0
            assert r.acf == r.acf_num / r.acf_den
        # lag pairs shrink by ~1 per lag on a contiguous calendar
        assert rows[1].n_pairs > rows[14].n_pairs


class TestMannKendall:
    def test_mk_against_sequential_replay(self, spark):
        r = registry.QUERIES["orders_mann_kendall"](
            spark, SF
        ).collect()[0]
        daily = sorted(
            (
                (x.d, x.x)
                for x in spark.read.parquet(f"{SF}/orders.parquet")
                .groupBy(F.col("o_orderdate").cast("date").alias("d"))
                .agg(
                    (
                        F.sum(
                            F.col("o_totalprice").cast("decimal(18,2)")
                        )
                        * 100
                    )
                    .cast("bigint")
                    .alias("x")
                )
                .collect()
            )
        )
        xs = [x for _, x in daily]
        n = len(xs)
        s = 0
        for i in range(n):
            for j in range(i + 1, n):
                s += (xs[j] > xs[i]) - (xs[j] < xs[i])
        assert r.n_days == n and r.s_stat == s
        from collections import Counter

        tie = sum(
            t * (t - 1) * (2 * t + 5)
            for t in Counter(xs).values()
            if t > 1
        )
        assert r.var18_num == n * (n - 1) * (2 * n + 5) - tie
        import math

        want_z = (
            (s - 1) / math.sqrt(r.var18_num / 18.0)
            if s > 0
            else (s + 1) / math.sqrt(r.var18_num / 18.0)
            if s < 0
            else 0.0
        )
        assert r.z == want_z


class TestChurnTrainingSet:
    def test_leakage_guard_and_label(self, spark):
        df = registry.QUERIES["customer_churn_training_set"](
            spark, SF
        )
        rows = df.collect()
        assert rows
        o = spark.read.parquet(f"{SF}/orders.parquet")
        mx = o.agg(
            F.max(F.col("o_orderdate").cast("date"))
        ).collect()[0][0]
        import datetime

        c = mx - datetime.timedelta(days=180)
        hist = {}
        for x in o.select(
            "o_custkey", F.col("o_orderdate").cast("date").alias("d")
        ).collect():
            hist.setdefault(x.o_custkey, []).append(x.d)
        for r in rows:
            ds = hist[r.customer_id]
            pre = [d for d in ds if d <= c]
            assert pre, "customer with no pre-cutoff order emitted"
            assert r.n_orders_total == len(pre)
            label_window = [
                d for d in ds if c < d <= c + datetime.timedelta(days=90)
            ]
            assert r.churned == (0 if label_window else 1)
            # recency/tenure computed against the cutoff, not data edge
            assert r.recency_days == (c - max(pre)).days
            assert r.tenure_days == (c - min(pre)).days

    def test_matrix_invariant_to_post_window_rows(self, spark, tmp_path):
        """Leakage probe: dropping every order AFTER the label window
        must not change a single matrix row (features come from
        <= cutoff, label from (cutoff, cutoff+90] — nothing later may
        leak in). The cutoff anchor (max orderdate) is pinned by
        keeping exactly one post-window row."""
        o = spark.read.parquet(f"{SF}/orders.parquet")
        mx = o.agg(
            F.max(F.col("o_orderdate").cast("date"))
        ).collect()[0][0]
        import datetime

        c = mx - datetime.timedelta(days=180)
        keep = o.filter(
            (F.col("o_orderdate").cast("date") <= F.date_add(F.lit(c), 90))
            | (F.col("o_orderdate").cast("date") == F.lit(mx))
        )
        d = str(tmp_path / "orders.parquet")
        keep.write.mode("overwrite").parquet(d)
        base = {
            tuple(r)
            for r in registry.QUERIES["customer_churn_training_set"](
                spark, SF
            ).collect()
        }
        pert = {
            tuple(r)
            for r in registry.QUERIES["customer_churn_training_set"](
                spark, str(tmp_path)
            ).collect()
        }
        assert base == pert

class TestCurriculumPacing:
    def test_monotone_and_complete(self, spark):
        rows = sorted(
            registry.QUERIES["docs_curriculum_pacing"](
                spark, SF
            ).collect(),
            key=lambda r: r.phase,
        )
        n = (
            spark.read.parquet(f"{SF}/documents.parquet").count()
        )
        assert [r.phase for r in rows] == list(range(1, 11))
        prev = None
        import math

        for r in rows:
            want = math.ceil(
                math.sqrt(r.phase / 10.0) * n
            )
            assert r.n_admitted >= want
            if prev is not None:
                assert r.difficulty_cutoff >= prev.difficulty_cutoff
                assert r.n_admitted >= prev.n_admitted
                assert r.tokens_admitted >= prev.tokens_admitted
            prev = r
        # final phase admits the whole corpus
        assert rows[-1].n_admitted == n


class TestVacuumPlan:
    def test_plan_covers_manifest_and_delete_rule(self, spark):
        rows = registry.QUERIES["layout_vacuum_plan"](
            spark, SF
        ).collect()
        assert rows
        for r in rows:
            expect_delete = (
                r.deleted_snap is not None and r.deleted_snap <= 2
            )
            assert (r.action == "DELETE") == expect_delete
            if r.deleted_snap is not None:
                assert r.deleted_snap == r.created_snap + 1
            assert r.bytes > 0
        acts = {r.action for r in rows}
        assert acts == {"DELETE", "RETAIN"}


class TestCurriculumStream:
    def test_drain_equals_batch(self, spark):
        batch = {
            tuple(r)
            for r in registry.QUERIES["docs_curriculum_pacing"](
                spark, SF
            ).collect()
        }
        stream = {
            tuple(r)
            for r in registry.QUERIES["stream_curriculum_pacing"](
                spark, SF
            ).collect()
        }
        assert stream == batch and len(batch) == 10


class TestProfileDrift:
    def test_long_form_and_l1_bounds(self, spark):
        rows = registry.QUERIES["profile_drift_two_period"](
            spark, SF
        ).collect()
        got = {(r.col_name, r.metric) for r in rows}
        assert got == {
            ("o_totalprice", "mean_cents"),
            ("o_totalprice", "row_count"),
            ("o_orderstatus", "freq_l1"),
            ("o_orderpriority", "freq_l1"),
            ("o_orderstatus", "distinct_count"),
            ("o_orderpriority", "distinct_count"),
        }
        by = {(r.col_name, r.metric): r for r in rows}
        for col in ("o_orderstatus", "o_orderpriority"):
            r = by[(col, "freq_l1")]
            assert 0.0 <= r.stat_a <= 2.0 and r.stat_a == r.stat_b
        rc = by[("o_totalprice", "row_count")]
        n = spark.read.parquet(f"{SF}/orders.parquet").count()
        assert rc.stat_a + rc.stat_b == n


class TestSplitLeakage:
    def test_contaminated_docs_are_heldout_with_real_leaks(self, spark):
        rows = registry.QUERIES["docs_split_leakage_audit"](
            spark, SF
        ).collect()
        # falsifiable: the corpus plants block-level dups across the
        # split at every SF we test
        assert rows
        import hashlib

        for r in rows:
            gate = (
                int(
                    hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8],
                    16,
                )
                % 1000
            )
            assert gate >= 900, "a train doc leaked into the audit"
            assert 1 <= r.n_leaked <= r.n_blocks
            assert r.leak_frac == r.n_leaked / r.n_blocks


class TestRfmSegments:
    def test_census_covers_customers_and_scores_bounded(self, spark):
        rows = registry.QUERIES["orders_rfm_segments"](
            spark, SF
        ).collect()
        n_cust = (
            spark.read.parquet(f"{SF}/orders.parquet")
            .select("o_custkey")
            .distinct()
            .count()
        )
        assert sum(r.n_customers for r in rows) == n_cust
        for r in rows:
            assert 1 <= r.r_score <= 5
            assert 1 <= r.f_score <= 5
            assert 1 <= r.m_score <= 5
        # quintiles are near-balanced per dimension (value ties skew
        # cells, never dimensions by more than the tie mass)
        from collections import Counter

        rmass = Counter()
        for r in rows:
            rmass[r.r_score] += r.n_customers
        assert set(rmass) == {1, 2, 3, 4, 5}


class TestAbcClassification:
    def test_pareto_shares(self, spark):
        rows = {
            r.abc_class: r
            for r in registry.QUERIES["parts_abc_classification"](
                spark, SF
            ).collect()
        }
        assert set(rows) == {"A", "B", "C"}
        total_share = sum(r.revenue_share for r in rows.values())
        assert abs(total_share - 1.0) < 1e-9
        # A covers at least 80% (band-granular: first band crossing
        # the line lands entirely in A), C is the thin tail
        assert rows["A"].revenue_share >= 0.80
        assert rows["C"].revenue_share <= 0.10
        assert rows["A"].n_parts + rows["B"].n_parts + rows[
            "C"
        ].n_parts == (
            spark.read.parquet(f"{SF}/lineitem.parquet")
            .select("l_partkey")
            .distinct()
            .count()
        )


class TestKmeansLloyd:
    def test_matches_numpy_trunc_replay(self, spark):
        import numpy as np

        rows = {
            r.centroid_id: r
            for r in registry.QUERIES["emb_kmeans_lloyd"](
                spark, SF
            ).collect()
        }
        raw = sorted(
            (r.vec_id, list(r.embedding))
            for r in spark.read.parquet(
                f"{SF}/embeddings.parquet"
            ).collect()
        )
        V = np.array(
            [
                [int(np.floor(float(np.float64(x)) * 1024)) for x in e]
                for _, e in raw
            ],
            dtype=np.int64,
        )
        K = 4
        C = V[:K].copy()
        for it in range(3):
            d2 = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            key = d2 * (K * 2) + np.arange(K)[None, :]
            cid = key.argmin(axis=1)
            if it < 2:
                # truncating division toward zero — the Spark DIV /
                # DuckDB // rule, NOT numpy floor_divide
                C = np.array(
                    [
                        (
                            V[cid == c].sum(axis=0)
                            / (cid == c).sum()
                        ).astype(np.int64)
                        for c in range(K)
                    ],
                    dtype=np.int64,
                )
        best = key.min(axis=1) // (K * 2)
        from collections import Counter

        want_n = Counter(cid.tolist())
        assert set(rows) == set(range(K))
        for c in range(K):
            assert rows[c].n_members == want_n[c]
            assert rows[c].inertia_q == int(best[cid == c].sum())


class TestGdprErasurePlan:
    def test_cascade_counts(self, spark):
        rows = {
            r.tbl: r
            for r in registry.QUERIES["pipeline_gdpr_erasure_plan"](
                spark, SF
            ).collect()
        }
        assert set(rows) == {"customer", "orders", "lineitem"}
        assert rows["customer"].action == "DELETE"
        assert rows["orders"].action == "PSEUDONYMIZE"
        assert rows["lineitem"].action == "RETAIN"
        import hashlib

        cust = [
            r.c_custkey
            for r in spark.read.parquet(
                f"{SF}/customer.parquet"
            ).collect()
        ]
        erase = {
            c
            for c in cust
            if int(hashlib.md5(str(c).encode()).hexdigest()[:8], 16)
            % 1000
            < 10
        }
        assert rows["customer"].n_rows == len(erase)
        okeys = {
            r.o_orderkey
            for r in spark.read.parquet(
                f"{SF}/orders.parquet"
            ).collect()
            if r.o_custkey in erase
        }
        assert rows["orders"].n_rows == len(okeys)
        nl = sum(
            1
            for r in spark.read.parquet(
                f"{SF}/lineitem.parquet"
            )
            .select("l_orderkey")
            .collect()
            if r.l_orderkey in okeys
        )
        assert rows["lineitem"].n_rows == nl


class TestPayloadCdcIncremental:
    def test_flags_are_batch_docs_with_valid_partners(self, spark):
        rows = registry.QUERIES["dedup_payload_cdc_incremental"](
            spark, SF
        ).collect()
        assert rows
        srcs = {
            r.doc_id: r.source
            for r in spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", "source")
            .collect()
        }
        for r in rows:
            assert srcs[r.doc_id] == "src0", "flagged a corpus doc"
            assert srcs[r.dup_of] != "src0", "partner inside the batch"
            assert 0.5 <= r.containment <= 1.0
            assert r.n_common >= 1
