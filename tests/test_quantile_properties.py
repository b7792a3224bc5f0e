"""Property tests for the bounded-memory exact-quantile operators
(operators.aggregate): for ANY integer multiset and ANY probability,
``bucket_refine_quantiles`` and ``histogram_quantiles`` must agree
bit-for-bit with the reference interpolation (DuckDB quantile_cont:
lo·(1-frac) + hi·frac at pos = p·(n-1)) computed directly on the
sorted values — including duplicate-heavy data, single-element
groups, values straddling bucket boundaries, and negatives."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_pipeline_postgres_spark.operators import aggregate

from .conftest import SF_SMOKE

# duplicate-heavy small domain plus bucket-boundary straddlers
VALUES = st.lists(
    st.one_of(
        st.integers(min_value=-10, max_value=10),
        st.sampled_from([4095, 4096, 4097, 8191, 8192, 100_000]),
    ),
    min_size=1,
    max_size=40,
)
PROBS = st.sampled_from([0.0, 0.01, 0.05, 0.25, 0.5, 0.9, 0.99, 1.0])


def ref_quantile(vals: list[int], p: float) -> float:
    v = sorted(vals)
    n = len(v)
    pos = p * (n - 1)
    k = math.floor(pos)
    frac = pos - k
    lo = float(v[k])
    hi = float(v[min(k + 1, n - 1)])
    return lo * (1.0 - frac) + hi * frac


@pytest.mark.parametrize(
    "fn",
    [aggregate.bucket_refine_quantiles, aggregate.histogram_quantiles],
    ids=["bucket_refine", "histogram"],
)
@given(vals=VALUES, p=PROBS)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_quantile_matches_reference(spark, fn, vals, p):
    df = spark.createDataFrame(
        [("g", v) for v in vals], "grp string, x bigint"
    )
    got = fn(df, ["grp"], "x", {"q": p}).collect()[0]["q"]
    assert got == ref_quantile(vals, p)


def test_global_keys_empty(spark):
    vals = [5, 1, 9, 1, 7, 4096, -3]
    df = spark.createDataFrame([("r", v) for v in vals], "k string, x bigint")
    got = aggregate.bucket_refine_quantiles(
        df.select("x"), [], "x", {"p50": 0.5, "p99": 0.99}
    ).collect()[0]
    assert got["p50"] == ref_quantile(vals, 0.5)
    assert got["p99"] == ref_quantile(vals, 0.99)


class TestQuantilePlanContract:
    """Scale contract for the quantile rewrites: the exact-percentile
    aggregate (whose buffer holds every group value) must never
    reappear in these plans — correctness would survive, 100 TB
    would not."""

    @pytest.mark.parametrize(
        "name",
        ["agg_percentile", "agg_winsorize", "bucket_global_quantile"],
    )
    def test_no_full_value_percentile_buffer(self, spark, name):
        from data_pipeline_postgres_spark.plans import registry

        registry.load_all()
        df = registry.QUERIES[name](spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "percentile(" not in plan


def test_two_groups_independent(spark):
    rows = [("a", v) for v in (1, 2, 3, 4)] + [("b", v) for v in (10,)]
    df = spark.createDataFrame(rows, "grp string, x bigint")
    out = {
        r["grp"]: r
        for r in aggregate.bucket_refine_quantiles(
            df, ["grp"], "x", {"p50": 0.5, "p90": 0.9}
        ).collect()
    }
    assert out["a"]["p50"] == ref_quantile([1, 2, 3, 4], 0.5)
    assert out["a"]["p90"] == ref_quantile([1, 2, 3, 4], 0.9)
    assert out["b"]["p50"] == 10.0 and out["b"]["p90"] == 10.0


def test_value_divisor_reconstructs_source_doubles(spark):
    # 2-decimal prices: cents/100 must reproduce the source double
    prices = [0.29, 1.07, 2.03, 555.55, 123.45, 0.01]
    cents = [round(p * 100) for p in prices]
    df = spark.createDataFrame(
        [("g", c) for c in cents], "grp string, x bigint"
    )
    got = aggregate.bucket_refine_quantiles(
        df, ["grp"], "x", {"p50": 0.5}, value_divisor=100.0
    ).collect()[0]["p50"]
    v = sorted(prices)
    n = len(v)
    pos = 0.5 * (n - 1)
    k = math.floor(pos)
    frac = pos - k
    want = v[k] * (1 - frac) + v[min(k + 1, n - 1)] * frac
    assert got == want


class TestTokenBudgetSelect:
    """The two-level range-partitioned prefix scan must be
    boundary-independent: whatever partition count the range sampler
    gets, cum_before is fixed by the total order, so results are
    identical — and equal to a directly computed reference."""

    def _docs(self, spark, texts, id0=0):
        return spark.createDataFrame(
            [(id0 + i, t, "s", "en") for i, t in enumerate(texts)],
            "doc_id bigint, text string, source string, lang string",
        )

    def test_partitioning_invariance_and_reference(self, spark):
        from data_pipeline_postgres_spark.operators import sampling

        texts = [" ".join(["w"] * n) for n in (7, 3, 12, 5, 12, 1, 9, 4)]
        docs = self._docs(spark, texts)
        budget = 30

        def run(n_ranges):
            return sorted(
                (r["doc_id"], r["n_tokens"], r["cum_before"])
                for r in sampling.token_budget_select(
                    docs, budget, n_ranges=n_ranges
                ).collect()
            )

        ref_order = sorted(
            ((len(t.split()), i) for i, t in enumerate(texts)),
            key=lambda p: (-p[0], p[1]),
        )
        want, cum = [], 0
        for n, i in ref_order:
            if cum < budget:
                want.append((i, n, cum))
            cum += n
        want.sort()
        for n_ranges in (1, 2, 3, 8):
            assert run(n_ranges) == want, f"n_ranges={n_ranges}"

    def test_zero_budget_empty(self, spark):
        from data_pipeline_postgres_spark.operators import sampling

        docs = self._docs(spark, ["a b c"])
        assert sampling.token_budget_select(docs, 0).count() == 0
