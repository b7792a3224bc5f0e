"""Regenerate PLANS.md: the formatted physical plan of every registered
query at the bench scale dir — the artifact to audit shuffle/broadcast/
pushdown decisions without rerunning anything.

Usage: python tools/plan_report.py  (writes PLANS.md at the repo root)
"""
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from data_pipeline_postgres_spark.plans import registry
from data_pipeline_postgres_spark.session import get_spark


def accuracy_rows(spark, sf_dir):
    """Measured recall/accuracy of every approximate (rows-only)
    operator against its exact in-repo ground truth — the numbers the
    pytest gates assert, surfaced for audit without running pytest."""
    from pyspark.sql import functions as F

    from data_pipeline_postgres_spark.catalog import load_table
    from data_pipeline_postgres_spark.operators import dedup, similarity

    Q = registry.QUERIES
    rows = []

    # HLL++ distinct vs exact COUNT(DISTINCT) per group
    o = load_table(spark, sf_dir, "orders")
    exact = {
        r[0]: r[1]
        for r in o.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey"))
        .collect()
    }
    approx = {r[0]: r[1] for r in Q["agg_approx_distinct"](spark, sf_dir).collect()}
    err = max(abs(approx[k] - exact[k]) / exact[k] for k in exact)
    rows.append(
        ("agg_approx_distinct", "exact COUNT(DISTINCT) per group",
         f"max rel err {err:.4f} (rsd=0.02)")
    )

    # GK quantile sketch vs exact percentile
    ex = {r["o_orderstatus"]: (r["p50"], r["p90"])
          for r in Q["agg_percentile"](spark, sf_dir).collect()}
    ap = {r["o_orderstatus"]: (r["p50"], r["p90"])
          for r in Q["agg_approx_quantile"](spark, sf_dir).collect()}
    err = max(
        abs(a - b) / abs(b) for k in ex for a, b in zip(ap[k], ex[k])
    )
    rows.append(
        ("agg_approx_quantile", "exact percentile (agg_percentile)",
         f"max rel err {err:.4f} on p50/p90 (accuracy=1000)")
    )

    # approx profile distincts vs exact profile
    ex = {r["column"]: r["n_distinct"]
          for r in Q["profile_table"](spark, sf_dir).collect()}
    ap = {r["column"]: r["n_distinct"]
          for r in Q["profile_table_approx"](spark, sf_dir).collect()}
    err = max(abs(ap[k] - ex[k]) / max(ex[k], 1) for k in ex)
    rows.append(
        ("profile_table_approx", "profile_table (exact distincts)",
         f"max n_distinct rel err {err:.4f}")
    )

    # mergeable sketches vs exact answers
    ev = load_table(spark, sf_dir, "events")
    exact = {
        (r[0], r[1]): r[2]
        for r in ev.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM").alias("month")
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    est = {(r["event_type"], r["month"]): r["est_users"]
           for r in Q["agg_hll_sketch_rollup"](spark, sf_dir).collect()}
    err = max(abs(est[k] - exact[k]) / exact[k] for k in exact)
    rows.append(
        ("agg_hll_sketch_rollup",
         "exact COUNT(DISTINCT user_id) per (event_type, month)",
         f"max rel err {err:.4f} after daily-sketch union (lgK=14)")
    )

    ex = {r["o_orderstatus"]: (r["p50"], r["p90"], r["p99"])
          for r in Q["agg_percentile"](spark, sf_dir).collect()}
    ap = {r["o_orderstatus"]: (r["p50"], r["p90"], r["p99"])
          for r in Q["agg_kll_quantile_sketch"](spark, sf_dir).collect()}
    err = max(abs(a - b) / abs(b) for k in ex for a, b in zip(ap[k], ex[k]))
    rows.append(
        ("agg_kll_quantile_sketch", "exact percentile (agg_percentile)",
         f"max rel err {err:.4f} on p50/p90/p99 after monthly-sketch "
         f"merge (k=200)")
    )

    # streaming HLL rollup vs the same exact per-(type, month) counts
    est = {(r["event_type"], r["month"]): r["est_users"]
           for r in Q["stream_hll_rollup"](spark, sf_dir).collect()}
    err = max(abs(est[k] - exact[k]) / exact[k] for k in exact)
    rows.append(
        ("stream_hll_rollup",
         "exact COUNT(DISTINCT user_id) per (event_type, month)",
         f"max rel err {err:.4f} after micro-batch sketch union "
         f"(lgK=14; equals the batch rollup estimates — tested)")
    )

    # deterministic sketch trio (r9): CMS point frequency, Bloom
    # membership, streaming CMS — published alongside HLL/KLL so the
    # 9-query sketch family's accuracy table is uniform. These three
    # are md5-derived/deterministic, so beyond error bounds they also
    # carry exactness claims (hash-checked against their oracles).
    cms = Q["sketch_count_min_freq"](spark, sf_dir).collect()
    assert all(r["cms_est"] >= r["exact_ct"] for r in cms)
    over = max(
        (r["cms_est"] - r["exact_ct"]) / r["exact_ct"] for r in cms
    )
    rows.append(
        ("sketch_count_min_freq", "exact token frequency (top-20 probes)",
         f"max overestimate {over:.4f} rel (never under, by"
         f" construction — asserted); d=4 x w=256 counters; two-level"
         f" shard rollup is exact counter addition, so merged and"
         f" single-pass sketches are bit-identical")
    )
    import math as _math

    from data_pipeline_postgres_spark.plans.queries_relational import (
        _BLOOM_K,
        _BLOOM_M,
    )

    bl = Q["sketch_bloom_membership"](spark, sf_dir).collect()[0]
    theory = (
        1 - _math.exp(-_BLOOM_K * bl["n_members"] / _BLOOM_M)
    ) ** _BLOOM_K
    rows.append(
        ("sketch_bloom_membership", "exact membership (URGENT-order custkeys)",
         f"fpr {bl['fpr']:.4f} measured vs {theory:.4f} theory"
         f" ((1-e^-kn/m)^k) over {bl['n_probes']} probes, zero false"
         f" negatives ({bl['n_bloom_positive']} positives ="
         f" {bl['n_members']} members + {bl['n_false_positive']} fp);"
         f" m={_BLOOM_M}/k={_BLOOM_K}; merge = bit union")
    )
    # streaming CMS mergeability: drained sketch vs the batch sketch
    # rebuilt inline (same comparison tests/test_round9.py gates)
    from data_pipeline_postgres_spark.functions import text as TX
    from data_pipeline_postgres_spark.operators.sketches import (
        CMS_D,
        cms_bucket,
    )

    stream_cells = {
        (r["r"], r["bucket"]): r["counter"]
        for r in Q["stream_cms_rollup"](spark, sf_dir).collect()
    }
    batch_cells = {
        (r["r"], r["bucket"]): r["counter"]
        for r in load_table(spark, sf_dir, "documents")
        .select(F.explode(TX.tokens("text")).alias("tok"))
        .select(
            F.posexplode(
                F.array(*[cms_bucket(x) for x in range(CMS_D)])
            ).alias("r", "bucket")
        )
        .groupBy("r", "bucket")
        .agg(F.count("*").alias("counter"))
        .collect()
    }
    n_diff = sum(
        1
        for k in set(stream_cells) | set(batch_cells)
        if stream_cells.get(k) != batch_cells.get(k)
    )
    rows.append(
        ("stream_cms_rollup", "batch CMS over the same corpus",
         f"{n_diff} differing counters of {len(batch_cells)} after a"
         f" 3-micro-batch drain — counter addition is commutative, so"
         f" ANY micro-batch split merges to the bit-identical sketch;"
         f" state is d x w integers regardless of volume")
    )

    # minhash LSH families vs exact n-gram Jaccard ground truth
    docs = load_table(spark, sf_dir, "documents").cache()
    sh = dedup.doc_shingles(docs)
    p = lambda df: {(r.doc_a, r.doc_b)
                    for r in df.select("doc_a", "doc_b").collect()}
    exact08 = p(dedup.jaccard_pairs(sh, None, 0.8))
    strong = p(dedup.jaccard_pairs(sh, None, 0.95))
    for name, got in (
        ("dedup_minhash", p(dedup.minhash_dedup(docs))),
        ("dedup_minhash_ml", p(dedup.minhash_dedup_ml(docs))),
    ):
        prec = len(got & exact08) / max(len(got), 1)
        rec = len(got & strong) / max(len(strong), 1)
        rows.append(
            (name, "exact Jaccard pairs (dedup_ngram_jaccard kernel)",
             f"precision {prec:.3f} vs j≥0.8; recall {rec:.3f} on "
             f"j≥0.95 ({len(strong)} planted strong pairs)")
        )

    # sign-LSH embedding near-dup vs exact blocked all-pairs
    emb = load_table(spark, sf_dir, "embeddings").cache()
    ep = lambda df: {(r.vec_id_a, r.vec_id_b)
                     for r in df.select("vec_id_a", "vec_id_b").collect()}
    exact_nd = ep(dedup.embedding_near_dup(emb))
    lsh_nd = ep(dedup.embedding_near_dup_lsh(emb))
    rows.append(
        ("dedup_embedding_lsh", "dedup_embedding_cosine (exact all-pairs)",
         f"recall {len(lsh_nd & exact_nd) / max(len(exact_nd), 1):.3f}, "
         f"precision {len(lsh_nd & exact_nd) / max(len(lsh_nd), 1):.3f} "
         f"({len(exact_nd)} true pairs) — at threshold 0.45 the"
         f" near/random sign-agreement gap is small, so banding trades"
         f" flatly (measured curve in operators/dedup.py); sign-LSH"
         f" prunes hard only in the high-cosine near-dup regime, and"
         f" dedup_semantic is the mid-threshold scale path")
    )

    # ANN top-k vs brute-force top-k
    brute = [r.vec_id for r in similarity.brute_topk(emb, k=10).collect()]
    qtop = (
        similarity.brute_topk(emb, k=10)
        .filter(F.col("cosine") < 0.999999)  # drop the query itself
        .agg(F.min("cosine"), F.max("cosine"))
        .collect()[0]
    )
    for name, df in (
        ("sim_topk_lsh",
         similarity.lsh_topk(emb, k=10)),
        ("sim_ann_ivf", similarity.ivf_topk(emb)),
        ("sim_ann_ivf_kmeans",
         similarity.ivf_topk(emb, nprobe=4,
                             centroids=similarity.ivf_centroids_kmeans(emb))),
        ("sim_ann_pq_adc", similarity.pq_adc_topk(emb)),
    ):
        got = [r.vec_id for r in df.collect()]
        note = ""
        if name == "sim_ann_ivf_kmeans":
            note = (" — nprobe=4/8 (r8 retune; 2 probes measured 0.60;"
                    " recall plateaus at 4 because the true top-10 sit"
                    " in the weak-similarity regime and scatter across"
                    " clusters — exact-assignment IVF is the scale"
                    " default at 1.00)")
        if name == "sim_ann_pq_adc":
            note = (" — shortlist 400 / ksub 16 (r8 retune; 50/16"
                    " measured 0.50; 400/64 reaches 1.00 but 4×'s the"
                    " inline encode cost — bigger codebooks belong on"
                    " the materialized IVF-PQ index path)")
        if name == "sim_topk_lsh":
            note = (f" — REGIME STUDY, NOT AN OFFERING (demoted r10):"
                    f" multi-probe 64/256 buckets; true top-10 sit at"
                    f" cosine {qtop[0]:.2f}–{qtop[1]:.2f} (excl. self),"
                    f" where per-plane sign agreement is ~0.61 and any"
                    f" probe budget below brute-force caps recall —"
                    f" kept registered as the documented negative"
                    f" example of sign-LSH outside its near-dup regime;"
                    f" use sim_ann_ivf (1.00) for top-k")
        rows.append(
            (name, "sim_topk (exact brute-force)",
             f"recall@10 = {len(set(brute) & set(got)) / 10:.2f}{note}")
        )
    # PCA power iteration vs full numpy SVD (r9): cosine of the
    # recovered first principal axis and projection agreement
    import numpy as np

    from data_pipeline_postgres_spark.operators import embeddings as E

    got_pca = {
        r.vec_id: r.pc1_proj
        for r in E.pca_power_iteration(emb).collect()
    }
    keyed = sorted(
        (r.vec_id, list(r.embedding))
        for r in emb.select("vec_id", "embedding").collect()
    )
    X = np.array([v for _, v in keyed], dtype=np.float64)
    Xc = X - X.mean(axis=0)
    _, _, vt = np.linalg.svd(Xc, full_matrices=False)
    want = Xc @ vt[0]
    got_arr = np.array([got_pca[i] for i, _ in keyed])
    cos = abs(got_arr @ want) / (
        np.linalg.norm(got_arr) * np.linalg.norm(want)
    )
    rows.append(
        (
            "emb_pca_power_iteration",
            "full numpy SVD of the centered corpus",
            f"PC1 cosine {cos:.6f} — 2^40 effective power steps by"
            " repeated squaring on the exact int64 Gram (flat-spectrum"
            " safe; sign convention matched)",
        )
    )
    # r13: ANN-candidate mutual kNN vs the exact blocked all-pairs
    exact_mnn = {
        (r.vec_id_a, r.vec_id_b)
        for r in Q["emb_mutual_knn"](spark, sf_dir).collect()
    }
    ann_mnn = {
        (r.vec_id_a, r.vec_id_b)
        for r in Q["emb_mutual_knn_ann"](spark, sf_dir).collect()
    }
    tp = len(ann_mnn & exact_mnn)
    rows.append(
        (
            "emb_mutual_knn_ann",
            "emb_mutual_knn (exact blocked all-pairs reciprocal 5-NN)",
            f"recall {tp / len(exact_mnn):.3f}, precision"
            f" {tp / len(ann_mnn):.3f} — IVF candidates, nprobe=7 of"
            " nlist=8 (regime-tuned: this corpus's near-flat spectrum"
            " scatters weak-cosine mutual pairs across lists — nprobe"
            " 4 -> 0.52, 6 -> 0.81; finer quantizers do worse;"
            " clustered production embeddings take the standard ~1/4"
            " budget via the same constant)",
        )
    )
    # r13: CDC-chunk payload dedup vs the stride-1 shingle surface at
    # the calibration scale (their >=0.5 pair sets are equal by
    # design there; at sf0.1 the SHINGLE side saturates — measured
    # precision 0.129 vs uncapped byte-8-gram truth, while the CDC
    # finder measures 1.000/0.992 — the r13 study in SURVEY §2 and
    # tests/test_round13.py)
    cal = "/root/testdata/sf0.01"
    sh_pairs = {
        (r.doc_a, r.doc_b)
        for r in Q["dedup_payload_shingle"](spark, cal).collect()
    }
    cdc_pairs = {
        (r.doc_a, r.doc_b)
        for r in Q["dedup_payload_cdc"](spark, cal).collect()
    }
    rows.append(
        (
            "dedup_payload_cdc",
            "dedup_payload_shingle's >=0.5 pair set at sf0.01 (the"
            " calibration scale); uncapped byte-8-gram truth at sf0.1",
            f"pair-set equality at sf0.01: {cdc_pairs == sh_pairs}"
            f" ({len(cdc_pairs)} pairs); at sf0.1 vs uncapped truth:"
            " CDC precision 1.000 / recall 0.992 while the shingle"
            " query saturates to 0.129 / 0.706 (r13 study — CDC is"
            " the production path)",
        )
    )
    docs.unpersist()
    emb.unpersist()

    # BPE apply (rows-only, r15): exact-equality gate, not approximate
    # — the distributed pipeline must reproduce a pure-Python corpus
    # pass bit-for-bit; surfaced here as the fertility spread so the
    # audit shows the number is live (the equality itself is the
    # pytest gate in tests/test_round15.py::TestBpeApply).
    ferts = [
        r.fertility
        for r in Q["tokenizer_bpe_apply"](spark, sf_dir).collect()
    ]
    rows.append(
        (
            "tokenizer_bpe_apply",
            "pure-Python reference encode of the full corpus"
            " (independent one-at-a-time apply algorithm)",
            "EXACT equality pytest-gated (piece counts, word counts,"
            " fertility per source) — not an approximation; fertility"
            f" range {min(ferts):.3f}-{max(ferts):.3f} at this SF",
        )
    )
    return rows


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="plan-report")
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()
    out = [
        "# PLANS — formatted physical plans of the registered queries",
        "",
        f"Generated by `tools/plan_report.py` at `{sf_dir}`. Things to",
        "check per plan: `PushedFilters` reach the scans, `ReadSchema`",
        "is pruned, dims ride `BroadcastHashJoin`, top-N is",
        "`TakeOrderedAndProject`/`WindowGroupLimit`, aggregates are",
        "`partial_*` below their Exchange, and no `CartesianProduct`.",
        "",
        "## Measured accuracy of the approximate operators",
        "",
        f"Computed at `{sf_dir}` against the exact in-repo ground",
        "truth (same comparisons the pytest gates in `tests/test_ext.py`",
        "and `tests/test_analytics.py` assert):",
        "",
        "| operator | ground truth | measured |",
        "|---|---|---|",
    ]
    for name, truth, measured in accuracy_rows(spark, sf_dir):
        out.append(f"| `{name}` | {truth} | {measured} |")
    out += [
        "",
        "### Standing demotions & caveats",
        "",
        "- `customers_dp_group_counts` is NOT ACTUALLY PRIVATE (r14",
        "  judge demotion, mirroring the `sim_topk_lsh` discipline):",
        "  the Laplace draw is a deterministic, INVERTIBLE function of",
        "  the true count (LCG mix of n) and the true n ships in the",
        "  output — it demonstrates the epsilon-DP release PLAN SHAPE",
        "  only. A real release swaps the one `_DP_NOISE` expression",
        "  for a secure RNG and drops the n column.",
        "- `sim_topk_lsh` is a regime study, not an offering (demoted",
        "  r10; see its table row) — use `sim_ann_ivf` for top-k.",
        "",
    ]
    for name, fn in registry.QUERIES.items():
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out += [f"## {name}", "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(registry.QUERIES)} plans)")


if __name__ == "__main__":
    main()
