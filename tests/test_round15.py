"""Round-15 additions: properties beyond the oracle differential
(which tests/test_oracle_parity.py already runs for every new query).
Each class pins the invariant that makes its query TRUSTWORTHY, not
just oracle-consistent — estimator fidelity vs the exact Theil-Sen,
index-identity at the base basket, SPC limit algebra, and the
streaming IVM fold converging to its batch twin."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from data_pipeline_postgres_spark.plans import registry

from .conftest import SF_SMOKE

registry.load_all()
SF = SF_SMOKE


class TestTheilSenLong:
    def test_sample_median_tracks_exact(self, spark):
        """The md5 uniform pair sample (same triangular gap law as the
        exhaustive pair set) must land NEAR the exact Theil-Sen median
        — the measured bar that killed the geometric-stride design,
        which sat 3x off on this series. 25% relative is generous vs
        the ~9% measured at sf0.01 but tight enough to catch a
        gap-law regression."""
        exact = registry.QUERIES["orders_theil_sen_trend"](
            spark, SF
        ).collect()[0]
        long_ = registry.QUERIES["orders_theil_sen_trend_long"](
            spark, SF
        ).collect()[0]
        assert long_.n_days == exact.n_days
        # ~K*n/2 slopes, far below the exact n*(n-1)/2
        assert 0 < long_.n_slopes < exact.n_pairs / 10
        assert math.isfinite(long_.ts_slope)
        assert abs(long_.ts_slope - exact.ts_slope) <= 0.25 * abs(
            exact.ts_slope
        )


class TestPriceIndex:
    def test_fisher_between_and_base_excluded(self, spark):
        rows = registry.QUERIES["orders_price_index_laspeyres"](
            spark, SF
        ).collect()
        assert rows
        from data_pipeline_postgres_spark.plans.queries_commerce import (
            _PIDX_BASE,
        )

        assert all(r.m != _PIDX_BASE for r in rows)
        for r in rows:
            lo, hi = sorted((r.laspeyres, r.paasche))
            # Fisher is the geometric mean -> inside [min, max]
            assert lo - 1e-12 <= r.fisher <= hi + 1e-12
            assert r.n_parts_basket > 0
            assert r.laspeyres > 0 and r.paasche > 0


class TestPChart:
    def test_limits_bracket_center_and_flags_consistent(self, spark):
        rows = registry.QUERIES["lineitem_p_chart"](spark, SF).collect()
        assert rows
        pbar = rows[0].pbar
        assert 0.0 < pbar < 1.0
        # pbar is the pooled rate, reproduced exactly
        tot_n = sum(r.n_items for r in rows)
        tot_d = sum(r.n_returned for r in rows)
        assert pbar == tot_d / tot_n
        for r in rows:
            assert r.lcl <= pbar <= r.ucl
            assert r.out_of_control == (r.p > r.ucl or r.p < r.lcl)
            # wider weeks -> tighter limits: sigma shrinks as sqrt(1/n)
        big = max(rows, key=lambda r: r.n_items)
        small = min(rows, key=lambda r: r.n_items)
        if big.n_items > small.n_items:
            assert (big.ucl - big.lcl) <= (small.ucl - small.lcl) + 1e-12


class TestStreamIvm:
    def test_drain_equals_batch_ivm(self, spark):
        """The streaming signed-partial fold must converge to the batch
        IVM query bit for bit (both are oracle-checked; this pins the
        in-engine equivalence directly)."""
        batch = {
            (r.l_returnflag, r.l_linestatus): (
                r.sum_qty,
                r.sum_base_price,
                r.count_order,
            )
            for r in registry.QUERIES["pipeline_ivm_agg_maintenance"](
                spark, SF
            ).collect()
        }
        stream = {
            (r.l_returnflag, r.l_linestatus): (
                r.sum_qty,
                r.sum_base_price,
                r.count_order,
            )
            for r in registry.QUERIES["stream_ivm_agg_maintenance"](
                spark, SF
            ).collect()
        }
        assert stream == batch


class TestBpeApply:
    def test_spark_pipeline_equals_pure_python_reference(self, spark):
        """EXACT gate for the rows-only BPE apply: the distributed
        pipeline (type-table collect -> shared trainer -> Arrow-batched
        encode over distinct types -> join-back aggregate) must equal
        an INDEPENDENT pure-Python pass over the corpus — DuckDB read,
        regex tokenize, one-at-a-time leftmost-occurrence reference
        encoder (a different apply algorithm than the batch scanner in
        operators/bpe.encode)."""
        import collections
        import re

        import duckdb

        from data_pipeline_postgres_spark.operators import bpe
        from data_pipeline_postgres_spark.plans.queries_text import (
            _BPE_APPLY_MERGES,
            _BPE_APPLY_TRAIN_TYPES,
        )

        got = {
            r.source: (r.n_word_types, r.n_words, r.n_pieces, r.fertility)
            for r in registry.QUERIES["tokenizer_bpe_apply"](
                spark, SF
            ).collect()
        }

        rows = duckdb.sql(
            f"SELECT source, text FROM '{SF}/documents.parquet'"
        ).fetchall()
        per_sw: dict = collections.defaultdict(collections.Counter)
        for source, text in rows:
            for w in re.split(r"\s+", text.strip()):
                if w:
                    per_sw[source][w] += 1
        global_types = collections.Counter()
        for c in per_sw.values():
            global_types.update(c)
        top = sorted(global_types.items(), key=lambda kv: (-kv[1], kv[0]))[
            :_BPE_APPLY_TRAIN_TYPES
        ]
        merges = bpe.train_merges(top, _BPE_APPLY_MERGES)
        ranks = {p: i for i, p in enumerate(merges)}

        def ref_encode_len(word: str) -> int:
            # one-at-a-time leftmost apply — independent of the batch
            # left-to-right scanner in operators/bpe.encode
            sym = list(word)
            while True:
                best = None
                for i, pair in enumerate(zip(sym, sym[1:])):
                    r = ranks.get(pair)
                    if r is not None and (best is None or r < best[0]):
                        best = (r, i, pair)
                if best is None:
                    return len(sym)
                _, _, (a, b) = best
                i = next(
                    i
                    for i in range(len(sym) - 1)
                    if sym[i] == a and sym[i + 1] == b
                )
                sym[i : i + 2] = [a + b]

        want = {}
        piece_cache: dict = {}
        for source, counter in per_sw.items():
            n_words = sum(counter.values())
            n_pieces = 0
            for w, n in counter.items():
                if w not in piece_cache:
                    piece_cache[w] = ref_encode_len(w)
                n_pieces += n * piece_cache[w]
            want[source] = (
                len(counter),
                n_words,
                n_pieces,
                n_pieces / n_words,
            )
        assert got == want
