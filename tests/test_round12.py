"""Round-12 semantic-invariant tests: shelf packing (no overflow, no
split, utilization bound), payload near-dup (both-branch
falsifiability, symmetry), and the capped mixture solver (budget
conservation, cap respect, BOTH capped and uncapped present)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_postgres_spark.plans import registry

from .conftest import SF_ORACLE, SF_SMOKE as SF

registry.load_all()

L = 512


class TestPackBestfit:
    @pytest.fixture(scope="class")
    def placed(self, spark):
        return registry.QUERIES["docs_pack_bestfit"](spark, SF).cache()

    def test_every_positive_doc_placed_once(self, spark, placed):
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        n_pos = docs.filter(
            F.size(F.split(F.trim("text"), r"\s+")) > 0
        ).count()
        assert placed.count() == n_pos
        assert placed.select("doc_id").distinct().count() == n_pos

    def test_docs_fit_their_class(self, placed):
        # class is the rounding-up target; docs longer than the
        # context clamp to the full-bin class (truncation policy)
        bad = placed.filter(
            (F.col("n_tokens") > F.col("size_class"))
            & (F.col("size_class") < L)
        )
        assert bad.count() == 0

    def test_no_bin_overflow_and_no_slot_collision(self, placed):
        per_bin = placed.groupBy("bin_id").agg(
            F.sum("size_class").alias("reserved"),
            F.count("*").alias("n"),
            F.count_distinct("slot").alias("slots"),
        )
        assert per_bin.filter(F.col("reserved") > L).count() == 0
        assert per_bin.filter(F.col("n") != F.col("slots")).count() == 0
        # a bin holds one class only (shelf invariant)
        mixed = placed.groupBy("bin_id").agg(
            F.count_distinct("size_class").alias("ncls")
        )
        assert mixed.filter(F.col("ncls") > 1).count() == 0

    def test_offsets_are_class_aligned(self, placed):
        bad = placed.filter(
            F.col("bin_offset") != F.col("slot") * F.col("size_class")
        )
        assert bad.count() == 0

    def test_decreasing_within_bin_ordering(self, placed):
        # FFD: within a class, earlier bins hold the longer docs —
        # min length of bin b >= max length of bin b+1 (same class)
        agg = (
            placed.groupBy("size_class", "bin_id")
            .agg(
                F.min("n_tokens").alias("mn"),
                F.max("n_tokens").alias("mx"),
            )
            .collect()
        )
        by_class: dict = {}
        for r in agg:
            by_class.setdefault(r["size_class"], []).append(
                (r["bin_id"], r["mn"], r["mx"])
            )
        for rows in by_class.values():
            rows.sort()
            for (_, mn, _), (_, _, mx_next) in zip(rows, rows[1:]):
                assert mn >= mx_next


class TestPackEfficiency:
    def test_tradeoff_row_is_consistent(self, spark):
        row = registry.QUERIES["docs_pack_efficiency"](
            spark, SF
        ).collect()[0]
        # chunk uses the bin-count lower bound; shelf pays padding
        assert row["shelf_bins"] >= row["chunk_bins"]
        assert 0.5 <= row["shelf_util"] <= 1.0 or row["shelf_bins"] <= 7
        # shelf never splits; chunk split count matches fragmentation
        frag = registry.QUERIES["docs_pack_fragmentation"](
            spark, SF
        ).collect()[0]
        assert row["chunk_split_docs"] == frag["n_split_docs"]
        assert row["n_docs"] == frag["n_docs"]
        # shelf bin count agrees with the placement query
        placed = registry.QUERIES["docs_pack_bestfit"](spark, SF)
        assert (
            placed.select("bin_id").distinct().count()
            == row["shelf_bins"]
        )


class TestPayloadDedup:
    def test_both_branches_and_symmetry(self, spark):
        pairs = registry.QUERIES["dedup_payload_shingle"](
            spark, SF
        ).cache()
        n = pairs.count()
        assert n > 0, "no near-dup payloads found: threshold unfalsifiable"
        assert pairs.filter(F.col("doc_a") >= F.col("doc_b")).count() == 0
        assert (
            pairs.filter(
                (F.col("jaccard") < 0.5) | (F.col("jaccard") > 1.0)
            ).count()
            == 0
        )
        # the threshold genuinely bites: the candidate space (pairs
        # sharing >=1 rare gram) is far larger than the admitted set
        assert n < 1000

    def test_known_near_dup_pair_detected(self, spark):
        # validated against whole-payload 8-gram Jaccard ~0.99: the
        # top-scoring pair must agree with a direct computation over
        # one pair of payloads
        pairs = registry.QUERIES["dedup_payload_shingle"](spark, SF)
        top = pairs.orderBy(F.desc("jaccard")).limit(1).collect()[0]
        docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
            F.col("doc_id").isin(top["doc_a"], top["doc_b"])
        )
        texts = {r["doc_id"]: r["text"] for r in docs.collect()}

        def grams(t: str) -> set:
            b = t.encode()
            return {b[i : i + 8] for i in range(len(b) - 7)}

        ga, gb = grams(texts[top["doc_a"]]), grams(texts[top["doc_b"]])
        full_j = len(ga & gb) / len(ga | gb)
        assert full_j >= 0.8, (
            "top rare-gram pair is not a genuine near-dup "
            f"(full-gram jaccard {full_j:.2f})"
        )


class TestMixCappedAlloc:
    @pytest.fixture(scope="class", params=[SF, SF_ORACLE])
    def alloc(self, request, spark):
        return registry.QUERIES["docs_mix_capped_alloc"](
            spark, request.param
        ).cache()

    def test_both_outcomes_present(self, alloc):
        rows = alloc.collect()
        capped = [r for r in rows if r["capped"]]
        uncapped = [r for r in rows if not r["capped"]]
        assert capped, "no source capped: the solver branch is dead"
        assert uncapped, "every source capped: budget not binding"

    def test_caps_respected_and_budget_conserved(self, alloc):
        rows = alloc.collect()
        total = sum(r["n_tokens"] for r in rows)
        budget = total * 97 // 100
        for r in rows:
            assert r["alloc_tokens"] <= r["cap_tokens"]
            if r["capped"]:
                assert r["alloc_tokens"] == r["cap_tokens"]
            else:
                assert r["alloc_tokens"] < r["cap_tokens"]
        spent = sum(r["alloc_tokens"] for r in rows)
        # floor-quantization leaves at most one token of dust per
        # share computation (|sources| + rounds of floors)
        assert budget - len(rows) * 4 <= spent <= budget

    def test_capped_sources_are_the_small_ones(self, alloc):
        # sqrt weighting upsamples small sources — they hit the
        # 1-epoch cap first; every capped source must be smaller than
        # every uncapped one is NOT guaranteed (redistribution), but
        # the smallest source must cap and the largest must not
        rows = sorted(alloc.collect(), key=lambda r: r["n_tokens"])
        assert rows[0]["capped"]
        assert not rows[-1]["capped"]


class TestPayloadIncremental:
    def test_batch_side_only_and_thresholds(self, spark):
        hits = registry.QUERIES["dedup_payload_incremental"](
            spark, SF
        ).cache()
        rows = hits.collect()
        assert rows, "no batch doc flagged: containment unfalsifiable"
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        src = {r["doc_id"]: r["source"] for r in docs.collect()}
        n_batch = sum(1 for s in src.values() if s == "src0")
        # the threshold genuinely bites: not every batch doc flags
        assert len(rows) < n_batch
        for r in rows:
            assert src[r["doc_id"]] == "src0"
            assert src[r["dup_of"]] != "src0"
            assert 0.5 <= r["containment"] <= 1.0
            assert r["n_common"] >= 1

    def test_winner_has_max_coverage(self, spark):
        # dup_of must be the corpus doc sharing the most rare grams
        # (tie -> smallest id); spot-check the first hit against a
        # direct per-candidate count
        hits = registry.QUERIES["dedup_payload_incremental"](
            spark, SF
        ).orderBy("doc_id").limit(1).collect()
        if not hits:
            return
        hit = hits[0]
        # recompute candidates for that one doc via the batch pair
        # query restricted to the doc (symmetric query admits the
        # pair from either side)
        pairs = registry.QUERIES["dedup_payload_shingle"](spark, SF)
        partners = pairs.filter(
            (F.col("doc_a") == hit["doc_id"])
            | (F.col("doc_b") == hit["doc_id"])
        ).collect()
        if partners:
            best = max(p["n_common"] for p in partners)
            assert hit["n_common"] >= best * 0.5


class TestDupSpectrum:
    def test_spectrum_shape(self, spark):
        rows = sorted(
            registry.QUERIES["docs_dup_spectrum"](spark, SF).collect(),
            key=lambda r: r["k"],
        )
        assert [r["k"] for r in rows] == list(range(9))
        assert [r["win_tokens"] for r in rows] == [
            1, 2, 4, 8, 16, 32, 64, 128, 256,
        ]
        # duplicated-window mass is monotonically non-increasing in
        # window length: a duplicated 2^(k+1)-window implies both its
        # halves are duplicated 2^k-windows at the same positions
        dup_pos = [r["n_dup_positions"] for r in rows]
        for a, b in zip(dup_pos, dup_pos[1:]):
            assert a >= b
        # 1-token windows are massively duplicated; 256-token windows
        # cannot be (max doc length < 256 and sentinels block bleed)
        assert dup_pos[0] > 0
        assert dup_pos[-1] == 0
        # multiplicity bounded by position count, >= 1 always
        for r in rows:
            assert r["max_multiplicity"] >= 1
            assert r["n_dup_windows"] <= r["n_dup_positions"]

    def test_sentinels_block_cross_doc_runs(self, spark):
        # windows longer than the longest document can never be
        # duplicated (any such window crosses a sentinel)
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        max_len = docs.select(
            F.max(F.size(F.split(F.trim("text"), r"\s+")))
        ).collect()[0][0]
        rows = registry.QUERIES["docs_dup_spectrum"](spark, SF).collect()
        for r in rows:
            if r["win_tokens"] > max_len:
                assert r["n_dup_positions"] == 0


class TestStreamPayloadDedup:
    def test_stream_equals_batch_after_drain(self, spark):
        """Split invariance: the 3-batch incremental index + capped
        candidate admission + post-drain verify must reproduce the
        batch pair set exactly."""
        got = {
            (r["doc_a"], r["doc_b"], r["n_common"])
            for r in registry.QUERIES["stream_payload_dedup"](
                spark, SF
            ).collect()
        }
        want = {
            (r["doc_a"], r["doc_b"], r["n_common"])
            for r in registry.QUERIES["dedup_payload_shingle"](
                spark, SF
            ).collect()
        }
        assert got == want


class TestDupMaxrun:
    def test_consistent_with_spectrum(self, spark):
        runs = registry.QUERIES["docs_dup_maxrun"](spark, SF).cache()
        spec = {
            r["win_tokens"]: r["n_dup_positions"]
            for r in registry.QUERIES["docs_dup_spectrum"](
                spark, SF
            ).collect()
        }
        rows = runs.collect()
        assert len(rows) == 500
        wins = sorted({r["max_dup_win"] for r in rows})
        # every reported run length is a spectrum level with mass
        for w in wins:
            if w > 0:
                assert spec[w] > 0
        # the corpus-wide longest duplicated window agrees: the max
        # per-doc run equals the largest level with any mass
        top_level = max(w for w, n in spec.items() if n > 0)
        assert max(wins) == top_level
        # near-dup docs (payload pairs at J>=0.5 share >=8-token runs
        # on this corpus) must report a long run
        pairs = registry.QUERIES["dedup_payload_shingle"](
            spark, SF
        ).collect()
        flagged = {p["doc_a"] for p in pairs} | {
            p["doc_b"] for p in pairs
        }
        by_doc = {r["doc_id"]: r["max_dup_win"] for r in rows}
        for d in flagged:
            assert by_doc[d] >= 8


class TestAttribution:
    def test_credit_conservation(self, spark):
        rows = registry.QUERIES["events_attribution_models"](
            spark, SF
        ).collect()
        assert len(rows) == 4  # view/click/signup/error
        tot_first = sum(r["first_touch"] for r in rows)
        tot_last = sum(r["last_touch"] for r in rows)
        # every converting journey has exactly one first and one last
        assert tot_first == tot_last
        assert tot_first > 0
        # linear micro-credits: each converting journey distributes
        # n_touch * floor(1e6/n_touch) <= 1e6, > 1e6 - n_touch
        tot_linear = sum(r["linear_micro"] for r in rows)
        assert tot_first * 900_000 < tot_linear <= tot_first * 1_000_000


class TestMarkovAttribution:
    def test_removal_effects_sane(self, spark):
        rows = registry.QUERIES["events_attribution_markov"](
            spark, SF
        ).collect()
        assert len(rows) == 4
        base = rows[0]["p_conv_base"]
        assert 0.0 < base < 1.0
        effects = {}
        for r in rows:
            assert r["p_conv_base"] == base
            # cutting a channel can only remove converting paths
            assert 0.0 < r["p_conv_removed"] < base
            assert 0.0 < r["removal_effect"] < 1.0
            effects[r["channel"]] = r["removal_effect"]
        # falsifiability: the chain is data-driven, so effects differ
        assert len(set(effects.values())) > 1


class TestCdcChunks:
    @pytest.fixture(scope="class")
    def chunks(self, spark):
        return registry.QUERIES["multimodal_cdc_chunks"](
            spark, SF
        ).cache()

    def test_chunks_tile_each_payload(self, spark, chunks):
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        sizes = {
            r["doc_id"]: len(r["text"].encode())
            for r in docs.collect()
        }
        agg = chunks.groupBy("doc_id").agg(
            F.sum("chunk_len").alias("tot"),
            F.count("*").alias("n"),
            F.min("start_byte").alias("mn"),
        ).collect()
        assert len(agg) == len(sizes)
        for r in agg:
            assert r["tot"] == sizes[r["doc_id"]]
            assert r["mn"] == 0
        # consecutive chunks abut: start_{i+1} = start_i + len_i
        rows = chunks.orderBy("doc_id", "chunk_idx").collect()
        prev = None
        for r in rows:
            if prev and prev["doc_id"] == r["doc_id"]:
                assert (
                    r["start_byte"]
                    == prev["start_byte"] + prev["chunk_len"]
                )
            prev = r

    def test_mean_chunk_near_mask_target(self, chunks):
        row = chunks.agg(F.avg("chunk_len")).collect()[0]
        assert 32 <= row[0] <= 128  # mask 64, window 32 floor

    def test_near_dup_payloads_share_chunks(self, spark, chunks):
        """The CDC selling point: boundaries re-synchronize after an
        edit, so a near-dup pair shares most chunk hashes — where
        fixed-offset blocks would diverge after the first edit."""
        pairs = registry.QUERIES["dedup_payload_shingle"](
            spark, SF
        ).orderBy(F.desc("jaccard")).limit(1).collect()
        top = pairs[0]
        by_doc = {
            d: {
                r["chunk_md5"]
                for r in chunks.filter(
                    F.col("doc_id") == d
                ).collect()
            }
            for d in (top["doc_a"], top["doc_b"])
        }
        a, b = by_doc[top["doc_a"]], by_doc[top["doc_b"]]
        shared = len(a & b) / min(len(a), len(b))
        assert shared >= 0.5, (
            f"near-dup pair shares only {shared:.0%} of chunks"
        )


class TestCdcDedupRatio:
    def test_ratio_consistent_with_manifest(self, spark):
        row = registry.QUERIES["multimodal_cdc_dedup_ratio"](
            spark, SF
        ).collect()[0]
        assert row["n_unique_chunks"] <= row["n_chunks"]
        assert row["stored_bytes"] <= row["logical_bytes"]
        # the corpus plants near-dup payloads, so byte-level
        # redundancy must exist — the ratio is falsifiably > 1
        assert row["dedup_ratio"] > 1.0
        m = registry.QUERIES["multimodal_cdc_chunks"](spark, SF)
        assert row["n_chunks"] == m.count()
        assert (
            row["n_unique_chunks"]
            == m.select("chunk_md5").distinct().count()
        )


class TestKAnonymity:
    def test_bands_partition_the_table(self, spark):
        res = registry.QUERIES["customers_k_anonymity"](
            spark, SF
        ).collect()
        total = spark.read.parquet(f"{SF}/customer.parquet").count()
        assert sum(r.n_rows for r in res) == total
        # band min_k respects the band's lower edge
        lo = {"1": 1, "2-4": 2, "5-9": 5, "10+": 10}
        hi = {"1": 1, "2-4": 4, "5-9": 9}
        for r in res:
            assert r.min_k >= lo[r.k_band]
            if r.k_band in hi:
                assert r.min_k <= hi[r.k_band]
            assert 1 <= r.min_l <= r.min_k


class TestDqConstraints:
    def test_both_outcomes_present_and_counts_sane(self, spark):
        res = registry.QUERIES["profile_dq_constraints"](
            spark, SF
        ).collect()
        assert len(res) == 8
        by = {r.check_name: r for r in res}
        # generator data passes these
        for name in ("unique_c_custkey", "fk_orders_customer",
                     "fk_lineitem_orders", "domain_o_orderstatus",
                     "nonempty_text"):
            assert by[name].violations == 0, name
        # and genuinely fails these (falsifiability of the suite)
        for name in ("nonneg_c_acctbal", "max_l_quantity_45"):
            assert by[name].violations > 0, name
        for r in res:
            assert 0 <= r.violations <= r.total


class TestScoreAuc:
    def test_auc_matches_bruteforce(self, spark):
        res = registry.QUERIES["docs_score_auc"](spark, SF).collect()
        docs = (
            spark.read.parquet(f"{SF}/documents.parquet")
            .select("lang", "n_chars")
            .collect()
        )
        for r in res:
            pos = sorted(d.n_chars for d in docs if d.lang == r.lang)
            neg = sorted(d.n_chars for d in docs if d.lang != r.lang)
            assert (r.n_pos, r.n_neg) == (len(pos), len(neg))
            # brute-force 2U: wins count 2, ties count 1
            import bisect

            u2 = 0
            for p in pos:
                u2 += 2 * bisect.bisect_left(neg, p)
                u2 += bisect.bisect_right(neg, p) - bisect.bisect_left(
                    neg, p
                )
            assert r.auc_num == u2
            assert r.auc_den == 2 * len(pos) * len(neg)
            assert 0 <= r.auc_num <= r.auc_den


class TestKaplanMeier:
    def test_km_invariants(self, spark):
        import math

        rows = sorted(
            registry.QUERIES["customers_kaplan_meier"](
                spark, SF
            ).collect(),
            key=lambda r: r.t_bin,
        )
        n_cust = (
            spark.read.parquet(f"{SF}/orders.parquet")
            .select("o_custkey")
            .distinct()
            .count()
        )
        # first bin's risk set is everyone; risk telescopes down
        assert rows[0].n_risk == n_cust
        for a, b in zip(rows, rows[1:]):
            assert b.n_risk == a.n_risk - a.d_events - a.c_censored
        # log-survival is non-increasing and matches a sequential
        # replay of the quantized recurrence
        acc, prev = 0, None
        for r in rows:
            if r.d_events > 0:
                acc += math.floor(
                    math.log((r.n_risk - r.d_events) / r.n_risk)
                    * 1e9
                )
            assert r.km_logq_nano == acc
            if prev is not None:
                assert r.km_logq_nano <= prev
            prev = r.km_logq_nano


class TestCompactionPlan:
    def test_plan_covers_manifest_and_bins_are_tight(self, spark):
        plan = registry.QUERIES["layout_compaction_plan"](
            spark, SF
        ).cache()
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        total_bytes = orders.count() * 128
        agg = plan.agg(
            F.sum("bytes_total").alias("b"),
            F.sum("n_files").alias("f"),
        ).collect()[0]
        assert agg.b == total_bytes
        manifest_files = (
            orders.select(
                F.date_trunc("month", "o_orderdate").alias("m"),
                (F.col("o_orderkey") % 32).alias("fid"),
            )
            .distinct()
            .count()
        )
        assert agg.f == manifest_files
        # start-offset binning: every bin except a partition's last
        # must END at or past the target (else it would have kept
        # absorbing files)
        w = plan.groupBy("part_month").agg(
            F.max("bin_id").alias("last_bin")
        )
        non_last = plan.join(w, "part_month").filter(
            F.col("bin_id") < F.col("last_bin")
        )
        # cumulative end of a non-last bin >= target boundary of next
        under = non_last.filter(F.col("bytes_total") <= 0)
        assert under.count() == 0
        plan.unpersist()


class TestSeasonalDecompose:
    def test_indices_average_near_unity(self, spark):
        rows = registry.QUERIES["orders_seasonal_decompose"](
            spark, SF
        ).collect()
        assert len(rows) == 12
        # mean detrended ratio across all observations ~ 1.0 (the
        # decomposition identity, loose tolerance for short series)
        tot_n = sum(r.n_obs for r in rows)
        mean_ratio = sum(r.sidx_nano_sum for r in rows) / tot_n / 1e9
        assert 0.9 < mean_ratio < 1.1
        for r in rows:
            assert r.n_obs >= 1


class TestMixTemperature:
    def test_flattening_and_normalization(self, spark):
        rows = registry.QUERIES["docs_mix_temperature"](
            spark, SF
        ).collect()
        by_t = {}
        for r in rows:
            by_t.setdefault(r.temperature, []).append(r)
        assert set(by_t) == {1, 2, 5}
        n_src = len(by_t[1])
        for t, rs in by_t.items():
            assert len(rs) == n_src
            s = sum(r.share_nano for r in rs)
            # floor-quantized shares sum to <= 1, within n ulps
            assert 1_000_000_000 - n_src <= s <= 1_000_000_000
        # higher temperature flattens: max share shrinks, min grows
        mx = {t: max(r.share_nano for r in rs) for t, rs in by_t.items()}
        mn = {t: min(r.share_nano for r in rs) for t, rs in by_t.items()}
        assert mx[1] >= mx[2] >= mx[5]
        assert mn[1] <= mn[2] <= mn[5]
        # T=1 is proportional sampling: share tracks token share
        tot = sum(r.tok_count for r in by_t[1])
        for r in by_t[1]:
            assert abs(r.share_nano / 1e9 - r.tok_count / tot) < 1e-5


class TestCoverageCurve:
    def test_monotone_concave_and_exact_at_v1(self, spark):
        rows = sorted(
            registry.QUERIES["tokenizer_coverage_curve"](
                spark, SF
            ).collect(),
            key=lambda r: r.vocab_size,
        )
        assert [r.vocab_size for r in rows] == [
            2**k for k in range(11)
        ]
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        toks = docs.filter(F.trim("text") != "").select(
            F.explode(F.split(F.trim("text"), r"\s+")).alias("t")
        )
        total = toks.count()
        top1 = (
            toks.groupBy("t").count().agg(F.max("count")).collect()
        )[0][0]
        assert rows[0].covered_tokens == top1
        assert all(r.total_tokens == total for r in rows)
        # non-decreasing, never exceeding total
        for a, b in zip(rows, rows[1:]):
            assert a.covered_tokens <= b.covered_tokens <= total


class TestMmrRerank:
    def test_diversity_tradeoff_and_validity(self, spark):
        rows = sorted(
            registry.QUERIES["sim_mmr_rerank"](spark, SF).collect(),
            key=lambda r: r.mmr_rank,
        )
        assert [r.mmr_rank for r in rows] == list(range(1, 11))
        # no repeats; first pick is the relevance argmax
        ids = [r.vec_id for r in rows]
        assert len(set(ids)) == 10
        assert rows[0].relevance == max(r.relevance for r in rows)
        # mmr score never exceeds pure-relevance score and is
        # non-increasing down the ranking only for the greedy pick
        # sequence's own scores
        for r in rows:
            assert r.mmr_score_micro <= int(0.7 * r.relevance * 1e6) + 1
        for a, b in zip(rows, rows[1:]):
            # greedy: the later pick scored no higher at its turn than
            # the earlier pick did at its turn is NOT guaranteed (the
            # penalty set grows), but the first pick dominates all
            assert rows[0].mmr_score_micro >= b.mmr_score_micro


class TestStreamDqConstraints:
    def test_stream_equals_batch_orders_subset(self, spark):
        stream = {
            r.check_name: r
            for r in registry.QUERIES["stream_dq_constraints"](
                spark, SF
            ).collect()
        }
        batch = {
            r.check_name: r
            for r in registry.QUERIES["profile_dq_constraints"](
                spark, SF
            ).collect()
            if r.tbl == "orders"
        }
        assert set(stream) == set(batch)
        for name in batch:
            assert stream[name].violations == batch[name].violations
            assert stream[name].total == batch[name].total


class TestKnnLabelAccuracy:
    def test_counts_and_better_than_chance(self, spark):
        rows = registry.QUERIES["emb_knn_label_accuracy"](
            spark, SF
        ).collect()
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        per_label = {
            r.label: r["count"]
            for r in emb.groupBy("label").count().collect()
        }
        assert {r.label for r in rows} == set(per_label)
        for r in rows:
            assert r.n == per_label[r.label]
            assert 0 <= r.n_correct <= r.n
        # the synthetic labels are independent of the embedding
        # geometry (measured: 1-NN agreement ~0.096 at sf0.01), so a
        # CORRECT LOO metric must sit at the 10-class chance level.
        # The classic bug this bounds out is self-inclusion in the
        # neighbor set, which drags accuracy toward 1.0.
        acc = sum(r.n_correct for r in rows) / sum(r.n for r in rows)
        assert 0.01 <= acc <= 0.35


class TestAssortativity:
    def test_moments_match_bruteforce(self, spark):
        row = registry.QUERIES["graph_assortativity"](
            spark, SF
        ).collect()[0]
        # brute-force replay on the small graph
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        basket = li.select("l_orderkey", "l_partkey").distinct()
        a = basket.alias("a")
        b = basket.alias("b")
        e = (
            a.join(b, F.expr("a.l_orderkey = b.l_orderkey and a.l_partkey < b.l_partkey"))
            .groupBy(
                F.col("a.l_partkey").alias("s"),
                F.col("b.l_partkey").alias("t"),
            )
            .count()
            .filter(F.col("count") >= 2)
            .select("s", "t")
            .collect()
        )
        from collections import Counter

        deg = Counter()
        for r in e:
            deg[r.s] += 1
            deg[r.t] += 1
        m = sj = sjk = sj2 = 0
        for r in e:
            for j, k in ((deg[r.s], deg[r.t]), (deg[r.t], deg[r.s])):
                m += 1
                sj += j
                sjk += j * k
                sj2 += j * j
        assert (row.m_directed, row.sj, row.sjk, row.sj2) == (
            m,
            sj,
            sjk,
            sj2,
        )
        assert -1_000_000 <= row.r_micro <= 1_000_000


class TestBenford:
    def test_digit_counts_and_chi2(self, spark):
        rows = registry.QUERIES["orders_benford_audit"](
            spark, SF
        ).collect()
        assert sorted(r.digit for r in rows) == list(range(1, 10))
        n = spark.read.parquet(f"{SF}/orders.parquet").count()
        assert sum(r.n_obs for r in rows) == n
        # expected counts sum to ~n (Benford shares sum to 1)
        exp = sum(r.expected_micro for r in rows) / 1e6
        assert abs(exp - n) < 1.0
        for r in rows:
            assert r.chi2_micro >= 0


class TestRunsTest:
    def test_runs_replay(self, spark):
        row = registry.QUERIES["orders_runs_test"](
            spark, SF
        ).collect()[0]
        daily = sorted(
            spark.read.parquet(f"{SF}/orders.parquet")
            .groupBy(
                F.date_trunc("day", "o_orderdate").alias("day")
            )
            .agg(
                (
                    F.sum(
                        F.col("o_totalprice").cast("decimal(18,2)")
                    )
                    * 100
                )
                .cast("bigint")
                .alias("rc")
            )
            .collect(),
            key=lambda r: r.day,
        )
        signs = []
        for a, b in zip(daily, daily[1:]):
            d = b.rc - a.rc
            if d != 0:
                signs.append(1 if d > 0 else -1)
        runs = 1 + sum(
            1 for x, y in zip(signs, signs[1:]) if x != y
        )
        assert row.n_plus == signs.count(1)
        assert row.n_minus == signs.count(-1)
        assert row.n_runs == runs
        assert 1 <= row.n_runs <= row.n_plus + row.n_minus


class TestModularity:
    def test_q_bounds_and_consistency(self, spark):
        row = registry.QUERIES["graph_modularity"](
            spark, SF
        ).collect()[0]
        assert row.q_den == row.m_directed * row.m_directed
        # modularity is in [-0.5, 1]
        q = row.q_num / row.q_den
        assert -0.5 <= q <= 1.0
        assert row.n_communities >= 1
        # single-community collapse (the sf0.001 dense graph) gives
        # EXACTLY 0 by the identity din=2m, D=2m; a real partition
        # must beat the degree-preserving null
        if row.n_communities == 1:
            assert row.q_num == 0
        else:
            assert q > 0.0
        # the non-degenerate case is exercised at sf0.01
        row2 = registry.QUERIES["graph_modularity"](
            spark, SF_ORACLE
        ).collect()[0]
        assert row2.n_communities > 1
        assert 0.0 < row2.q_num / row2.q_den <= 1.0


class TestMutualKnn:
    def test_reciprocity_and_subset_of_knn(self, spark):
        pairs = registry.QUERIES["emb_mutual_knn"](spark, SF).cache()
        rows = pairs.collect()
        assert rows, "no reciprocal pairs: criterion unfalsifiable"
        assert all(r.vec_id_a < r.vec_id_b for r in rows)
        # mutual pairs are a strict subset of one-directional top-5
        # relations: every vector appears at most 5 times per side
        from collections import Counter

        per = Counter()
        for r in rows:
            per[r.vec_id_a] += 1
            per[r.vec_id_b] += 1
        assert max(per.values()) <= 5
        # hubness suppression: strictly fewer mutual pairs than
        # directed top-5 edges
        n_vec = spark.read.parquet(
            f"{SF}/embeddings.parquet"
        ).count()
        assert len(rows) < 5 * n_vec / 2
        pairs.unpersist()


class TestBackfillPlan:
    def test_ranges_cover_exactly_the_failed_days(self, spark):
        plan = registry.QUERIES["pipeline_backfill_plan"](
            spark, SF
        ).collect()
        assert plan, "no failed partitions: planner unfalsifiable"
        # recompute failed days directly
        daily = {
            r.day: r.cnt
            for r in spark.read.parquet(f"{SF}/orders.parquet")
            .groupBy(F.col("o_orderdate").cast("date").alias("day"))
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        import datetime

        d0, d1 = min(daily), max(daily)
        total = sum(daily.values())
        n_days = (d1 - d0).days + 1
        failed = set()
        d = d0
        while d <= d1:
            if daily.get(d, 0) * n_days * 10 < total * 8:
                failed.add(d)
            d += datetime.timedelta(days=1)
        covered = set()
        for r in plan:
            assert (r.end_day - r.start_day).days + 1 == r.n_days
            d = r.start_day
            while d <= r.end_day:
                covered.add(d)
                d += datetime.timedelta(days=1)
        assert covered == failed
        # maximality: ranges don't touch (else they'd have merged)
        ends = sorted((r.start_day, r.end_day) for r in plan)
        for (_, e), (s, _) in zip(ends, ends[1:]):
            assert (s - e).days > 1


class TestDedupMethodOverlap:
    def test_matrix_partitions_corpus_and_nests(self, spark):
        rows = registry.QUERIES["dedup_method_overlap"](
            spark, SF
        ).collect()
        n = spark.read.parquet(f"{SF}/documents.parquet").count()
        assert sum(r.n_docs for r in rows) == n
        cells = {
            (r.exact_dup, r.minhash_dup, r.simhash_dup): r.n_docs
            for r in rows
        }
        # flags are 0/1 and the clean cell exists
        assert all(
            v in (0, 1) for key in cells for v in key
        )
        assert cells.get((0, 0, 0), 0) > 0
        # detector agreement: every exact dup is also a verified
        # MinHash pair member (identical text => jaccard 1.0 >= 0.8),
        # so no cell may have exact=1, minhash=0
        assert not any(
            k[0] == 1 and k[1] == 0 for k in cells
        ), f"exact-but-not-minhash cell present: {cells}"
        # at least one non-exact near-dup cell (minhash or simhash
        # catches something exact missed) keeps the report falsifiable
        assert any(
            k != (0, 0, 0) and k[0] == 0 for k in cells
        ), f"near-dup detectors caught nothing beyond exact: {cells}"


class TestFeatureSnapshot:
    def test_pit_correctness_and_window_nesting(self, spark):
        rows = registry.QUERIES["customer_feature_snapshot"](
            spark, SF
        ).collect()
        assert rows
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        import datetime

        maxd = orders.agg(
            F.max(F.col("o_orderdate").cast("date"))
        ).collect()[0][0]
        cutoff = maxd - datetime.timedelta(days=90)
        # leakage is testable: post-cutoff activity exists...
        post = orders.filter(
            F.col("o_orderdate").cast("date") > F.lit(cutoff)
        ).count()
        assert post > 0
        # ...and is excluded: total orders in the snapshot ==
        # pre-cutoff orders
        pre = orders.filter(
            F.col("o_orderdate").cast("date") <= F.lit(cutoff)
        ).count()
        assert sum(r.n_orders_total for r in rows) == pre
        for r in rows:
            # windows nest and bound by the lifetime count
            assert (
                0
                <= r.n_orders_30d
                <= r.n_orders_90d
                <= r.n_orders_365d
                <= r.n_orders_total
            )
            assert 0 <= r.recency_days <= r.tenure_days
            assert (r.rev_cents_90d > 0) == (r.n_orders_90d > 0)

    def test_stream_twin_equals_batch(self, spark):
        batch = {
            r.customer_id: tuple(r)
            for r in registry.QUERIES["customer_feature_snapshot"](
                spark, SF
            ).collect()
        }
        stream = {
            r.customer_id: tuple(r)
            for r in registry.QUERIES["stream_feature_snapshot"](
                spark, SF
            ).collect()
        }
        assert batch == stream
