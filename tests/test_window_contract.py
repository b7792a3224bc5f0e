"""Bounded-window plan contract (round-10, VERDICT r9 item 3).

Every partition-less WindowExec in the registered plans runs over a
relation that an aggregate or limit has already bounded (bucket
totals, calendar dailies, B-replicate bootstrap tables, <=10-row
rankings) — that boundedness used to be a comment-level claim per
site. This test makes it a contract: a future edit that feeds a
data-sized relation into an unpartitioned window FAILS here instead
of becoming a silent single-partition sort of the corpus.

Rule enforced, per registered query:
- queries NOT in ``ALLOWED_UNPARTITIONED`` must have zero
  partition-less WindowExec nodes;
- queries in the allowlist may have them, but every root-to-leaf
  path beneath such a window must pass through an aggregate/limit
  node (or end in a literal/range leaf) before reaching a scan.
``ReusedExchangeExec`` leaves are resolved through their referenced
exchange so a reused broadcast of an aggregate still counts as
bounded.
"""

from __future__ import annotations

from data_pipeline_postgres_spark.plans import registry

registry.load_all()

SF = "/root/testdata/sf0.001"

# The documented partition-less-window sites and why each is bounded.
ALLOWED_UNPARTITIONED = {
    # cumulative counts over the DISTINCT difficulty-value relation
    # (bounded by distinct token counts, not corpus size — r13);
    # the streaming twin runs the identical pacing pass over the
    # merged partials (same bounded value relation)
    "docs_curriculum_pacing",
    "stream_curriculum_pacing",
    # cumulative revenue share over the <= 1024-row band relation
    # (10-bit pre-shift, aggregate-gated — r13)
    "parts_abc_classification",
    # bootstrap replicate table (B=100 rows) ranked for the CI
    "agg_bootstrap_ci_mean",
    # tercile thresholds over per-bucket totals (<= n_buckets rows)
    "docs_ccnet_buckets",
    # bucket_refine_quantiles(keys=[]) locate/refine cum-sums over the
    # bucket histogram and the few target buckets' value histogram
    # (<= max(n_buckets, width) rows), same shape as docs_ccnet_buckets;
    # customer_rfm_segments runs it for each of its three metrics
    "bucket_global_quantile",
    "customer_rfm_segments",
    # same bucket_refine tercile shape over per-bucket score totals
    # (<= n_buckets rows; the LM-score relation never enters a window)
    "docs_perplexity_bucket",
    # calibration bins over a bounded margin-histogram relation
    "docs_nb_margin_calibration",
    # exclusive byte prefix sums over per-shard totals
    "docs_pack_fragmentation",
    "docs_pack_manifest",
    "docs_pack_sequences",
    # global_rank's prefix sum over <=32-row partition totals + class
    # offsets/bin bases over the <=7-row length-class relation
    "docs_pack_bestfit",
    # shelf-bin count windows over the same <=7-row class relation;
    # chunk side reuses the pack_sequences prefix-sum shape
    "docs_pack_efficiency",
    # greedy budget scan over per-doc token totals ranked by score,
    # limited upstream
    "docs_token_budget_select",
    # single-row vocab-growth curve assembly
    "docs_vocab_growth",
    # KM curve over per-day hazard table (calendar-bounded)
    "events_km_conversion_curve",
    # running CDF gap over distinct purchase cents (value-bounded)
    "events_ks_two_sample",
    # running rank over distinct purchase cents (value-bounded)
    "events_mann_whitney_u",
    # lateness histogram over bounded delay buckets
    "events_out_of_order_audit",
    # shard layout over per-item byte prefix sums (agg upstream)
    "multimodal_shard_manifest",
    # YoY lag over monthly revenue (calendar-bounded)
    "orders_monthly_revenue_yoy",
    # daily backlog running sum (calendar-bounded)
    "orders_ship_backlog_daily",
    # pairwise-slope median over the calendar-bounded daily relation
    # (guarded at _TS_MAX_DAYS distinct days)
    "orders_theil_sen_trend",
    # RRF rank fusion over two <=10-row rankings
    "search_hybrid_rrf",
    # KM survival windows over the ~28-row 90-day lifetime-bin
    # relation (calendar-bounded; customers collapse to bins first)
    "customers_kaplan_meier",
    # centered 2x12 MA over the calendar-bounded monthly relation
    "orders_seasonal_decompose",
    # lag windows over the calendar-bounded daily revenue relation
    "orders_runs_test",
    # gaps-and-islands row_number over the calendar-bounded spine
    "pipeline_backfill_plan",
    # row_number over the top-1024 vocabulary candidate relation
    # (TakeOrderedAndProject upstream bounds it)
    "tokenizer_coverage_curve",
    # cumulative revenue share over per-supplier totals
    "supplier_pareto_share",
}

AGG_OR_LIMIT = {
    "HashAggregateExec",
    "SortAggregateExec",
    "ObjectHashAggregateExec",
    "TakeOrderedAndProjectExec",
    "CollectLimitExec",
    "GlobalLimitExec",
    "LocalLimitExec",
}
BOUNDED_LEAVES = {
    "LocalTableScanExec",
    "RDDScanExec",
    "RangeExec",
    "OneRowRelationExec",
    "EmptyRelationExec",
}


def _cls(node) -> str:
    return node.getClass().getSimpleName()


def _children(node):
    c = node.children()
    out = [c.apply(i) for i in range(c.length())]
    if not out and _cls(node) == "ReusedExchangeExec":
        # leaf node referencing another exchange — resolve through it
        out = [node.child()]
    return out


def _walk(node):
    yield node
    for c in _children(node):
        yield from _walk(c)


def _bounded(node, seen_agg: bool) -> bool:
    name = _cls(node)
    if name in AGG_OR_LIMIT:
        seen_agg = True
    ch = _children(node)
    if not ch:
        return seen_agg or name in BOUNDED_LEAVES
    return all(_bounded(c, seen_agg) for c in ch)


def test_partitionless_windows_are_allowlisted_and_bounded(spark):
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        violations = []
        for name, fn in registry.QUERIES.items():
            df = fn(spark, SF)
            plan = df._jdf.queryExecution().executedPlan()
            bare = [
                node
                for node in _walk(plan)
                if _cls(node) == "WindowExec"
                and node.partitionSpec().isEmpty()
            ]
            if not bare:
                continue
            if name not in ALLOWED_UNPARTITIONED:
                violations.append(
                    f"{name}: {len(bare)} partition-less WindowExec not "
                    "in the allowlist — partition it or document "
                    "boundedness here"
                )
                continue
            for node in bare:
                if not _bounded(_children(node)[0], False):
                    violations.append(
                        f"{name}: partition-less WindowExec over an "
                        "UNBOUNDED input — a data-sized relation would "
                        "single-partition-sort here"
                    )
        assert not violations, "\n".join(violations)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_allowlist_has_no_stale_entries(spark):
    """Every allowlisted name must still be a registered query (a
    renamed/removed query shouldn't leave a dangling exemption)."""
    stale = ALLOWED_UNPARTITIONED - set(registry.QUERIES)
    assert not stale, f"stale allowlist entries: {sorted(stale)}"
