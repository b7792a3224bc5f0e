"""Round-11 semantic-invariant tests for the session's net-new
queries — properties the oracle hash can't express (the hash proves
cross-engine agreement; these prove the SEMANTICS are the intended
ones on any corpus):

- LSH banding admission is MONOTONE in band coarseness: a 2x4 match
  (4 consecutive slots agree) implies both of its 4x2 sub-bands
  match, which implies the 8x1 single-slot matches — so the candidate
  sets nest and n_candidates / n_true are monotone along the sweep.
- SCD2 apply preserves the dimension invariants: exactly one current
  row per key, closed rows carry a non-null valid_to, row count =
  standing dim + inserts.
- The forecasters produce finite/positive outputs where the series
  warrants them.
- Tolerance as-of only REMOVES matches relative to plain as-of.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from data_pipeline_postgres_spark.plans import registry

from .conftest import SF_ORACLE as SF

registry.load_all()


class TestBandSweepMonotone:
    def test_admission_nests_with_band_coarseness(self, spark):
        rows = {
            r["cfg"]: r
            for r in registry.QUERIES["dedup_minhash_band_sweep"](
                spark, SF
            ).collect()
        }
        assert set(rows) == {"8x1", "4x2", "2x4"}
        # candidate sets nest: finer rows-per-band ⇒ stricter admission
        assert (
            rows["2x4"]["n_candidates"]
            <= rows["4x2"]["n_candidates"]
            <= rows["8x1"]["n_candidates"]
        )
        assert (
            rows["2x4"]["n_true"]
            <= rows["4x2"]["n_true"]
            <= rows["8x1"]["n_true"]
        )
        # precision moves the other way (or ties) along the same axis
        assert (
            rows["2x4"]["precision_permille"]
            >= rows["4x2"]["precision_permille"]
            >= rows["8x1"]["precision_permille"]
        )
        for r in rows.values():
            assert 0 <= r["n_true"] <= r["n_candidates"]
            assert 0 <= r["precision_permille"] <= 1000


class TestOverlapFracBands:
    def test_permille_and_band_consistency(self, spark):
        df = registry.QUERIES["decontaminate_overlap_frac"](
            spark, SF
        ).collect()
        assert df
        for r in df:
            assert 0 <= r["n_hits"] <= r["n_ngrams"]
            assert 0 <= r["permille"] <= 1000
            if r["band"] == "clean":
                assert r["n_hits"] == 0
            elif r["band"] == "contaminated":
                assert r["permille"] >= 100
            else:
                assert r["band"] == "touched"
                assert 0 < r["n_hits"]
                assert r["permille"] < 100


class TestPerplexityBuckets:
    def test_terciles_partition_the_scored_docs(self, spark):
        rows = registry.QUERIES["docs_perplexity_bucket"](
            spark, SF
        ).collect()
        n = len(rows)
        counts = {"tail": 0, "middle": 0, "head": 0}
        for r in rows:
            counts[r["bucket"]] += 1
        assert sum(counts.values()) == n
        # tercile cuts: each bucket holds a nontrivial share (exact
        # thirds only without ties at the cut values)
        for b, c in counts.items():
            assert c > 0, f"empty bucket {b}"
            assert c < n, f"bucket {b} swallowed the corpus"


class TestScd2ApplyInvariants:
    def test_dimension_invariants(self, spark):
        df = registry.QUERIES["cdc_scd2_apply"](spark, SF)
        cur = (
            df.filter("is_current")
            .groupBy("o_custkey")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") != 1)
            .count()
        )
        assert cur == 0, "a key has != 1 current row"
        # r16 shape (FIXTURES.md F6): nullable TIMESTAMP_NTZ bounds
        # (the proven-green scd2_intervals shape), NULL valid_to on
        # exactly the open (is_current) intervals
        assert dict(df.dtypes)["valid_to"] == "timestamp_ntz"
        assert (
            df.filter(~F.col("is_current"))
            .filter(F.col("valid_to").isNull())
            .count()
            == 0
        ), "a closed row must carry a non-null valid_to"
        assert (
            df.filter(F.col("is_current"))
            .filter(F.col("valid_to").isNotNull())
            .count()
            == 0
        ), "a current row must carry a NULL (open) valid_to"


class TestForecasters:
    def test_holt_winters_finite_seven_horizons(self, spark):
        rows = registry.QUERIES["events_holt_winters_forecast"](
            spark, SF
        ).collect()
        assert sorted(r["h"] for r in rows) == list(range(1, 8))
        for r in rows:
            assert math.isfinite(r["forecast"])

    def test_croston_positive_where_demand_exists(self, spark):
        rows = registry.QUERIES["demand_croston_forecast"](
            spark, SF
        ).collect()
        assert rows
        for r in rows:
            if r["n_demand_days"] > 0:
                assert r["croston_forecast"] is not None
                assert r["croston_forecast"] > 0


class TestGumbelSelect:
    def test_exactly_k_rows_from_the_weight_relation(self, spark):
        sel = registry.QUERIES["docs_dsir_gumbel_select"](spark, SF)
        rows = sel.collect()
        assert len(rows) == 64
        ids = {r["doc_id"] for r in rows}
        assert len(ids) == 64  # without replacement
        dw = registry.QUERIES["docs_dsir_weights"](spark, SF)
        universe = {r["doc_id"] for r in dw.select("doc_id").collect()}
        assert ids <= universe


class TestAsofTolerance:
    def test_tolerance_distinguishes_both_branches(self, spark):
        """r11 advisory fix: the old events->orders shape admitted
        ZERO matches within tolerance (events are 2024, orders end
        1998), so unconditionally nulling the payload passed. The
        reworked purchase->click query must populate BOTH branches:
        some purchases keep a fresh click, some lose a stale one."""
        from data_pipeline_postgres_spark.operators import join_ext

        tol = registry.QUERIES["join_asof_tolerance"](spark, SF)
        n_kept = tol.filter(F.col("click_event_id").isNotNull()).count()
        assert n_kept > 0, "tolerance branch unfalsifiable: no survivor"
        # raw carry (no tolerance) for identity + staleness comparison
        ev = spark.read.parquet(f"{SF}/events.parquet")
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        clicks = join_ext.dedup_right_for_asof(
            ev.filter(F.col("event_type") == "click").select(
                "user_id",
                "ts",
                F.col("event_id").alias("click_event_id"),
            ),
            "user_id",
            "ts",
            "click_event_id",
        )
        raw = join_ext.asof_join(
            purchases,
            clicks,
            key="user_id",
            left_ts="ts",
            right_ts="ts",
            payload=["click_event_id"],
        )
        n_raw = raw.filter(F.col("click_event_id").isNotNull()).count()
        assert n_raw > n_kept, "tolerance never bit: nothing nulled"
        # tolerance only nulls — it never changes a match's identity
        changed = tol.join(
            raw.select(
                "event_id", F.col("click_event_id").alias("raw_click")
            ),
            "event_id",
        ).filter(
            F.col("click_event_id").isNotNull()
            & (F.col("click_event_id") != F.col("raw_click"))
        )
        assert changed.count() == 0, "tolerance changed a match identity"


class TestTextrank:
    def test_topk_ranks_positive_and_connected(self, spark):
        rows = registry.QUERIES["text_textrank_keywords"](
            spark, SF
        ).collect()
        assert len(rows) == 30
        for r in rows:
            assert r["rank"] > 0
            assert r["n_neighbors"] >= 1


class TestIvfRecallCurve:
    def test_recall_monotone_in_probe_budget(self, spark):
        rows = sorted(
            registry.QUERIES["sim_ivf_nprobe_recall_curve"](
                spark, SF
            ).collect(),
            key=lambda r: r["nprobe"],
        )
        assert [r["nprobe"] for r in rows] == [1, 2, 4, 8]
        hits = [r["n_hits"] for r in rows]
        # probing more lists can only add candidates → recall is
        # non-decreasing in nprobe
        assert hits == sorted(hits)
        for r in rows:
            assert 0 <= r["n_hits"] <= 10
            assert r["recall_permille"] == r["n_hits"] * 100
