"""Round-15 OPTIMIZATION equivalence gates.

Every optimization that swaps an implementation (vectorized Arrow
kernel for an interpreted SQL formulation, narrower join keys) gets a
focused equality test against the original formulation here — results
must be identical, not just plausible (driver re-hashes every oracle
after the round).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_postgres_spark.operators import multimodal

SF = "/root/testdata/sf0.001"


def _docs(spark):
    from data_pipeline_postgres_spark.catalog import load_table

    return load_table(spark, SF, "documents")


def test_payload_grams_kernel_matches_hex_transform(spark):
    """payload_grams' packed int64 is a bijection of the original
    16-hex-char substring gram: unpacking each int64 back to hex must
    reproduce the old formulation's (doc_id, gram) set exactly."""
    b = (
        multimodal.attach_payload(_docs(spark))
        .select("doc_id", "payload")
        .filter(F.length("payload") >= 8)
    )
    new = {
        (r.doc_id, f"{r.g & 0xFFFFFFFFFFFFFFFF:016X}")
        for r in multimodal.payload_grams(b).collect()
    }
    hx = b.select("doc_id", F.hex("payload").alias("hx"))
    old = {
        (r.doc_id, r.g)
        for r in hx.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), (F.length("hx") / 2 - 8).cast("int")
                    ),
                    lambda i: F.substring(F.col("hx"), i * 2 + 1, 16),
                )
            ).alias("g"),
        )
        .distinct()
        .collect()
    }
    assert new == old
    assert len(new) > 1000  # non-degenerate corpus


def test_payload_grams_carries_extra_cols(spark):
    """extra_cols pass-through maps each gram to its row's value."""
    b = _docs(spark).select(
        "doc_id",
        "source",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    ).filter(F.length("payload") >= 8)
    out = multimodal.payload_grams(b, extra_cols=("source",))
    got = {
        (r.doc_id, r.source)
        for r in out.select("doc_id", "source").distinct().collect()
    }
    want = {
        (r.doc_id, r.source)
        for r in b.select("doc_id", "source").collect()
    }
    assert got == want


def _old_spectrum(spark, rounds):
    """The md5-chain formulation of docs_dup_spectrum over the global
    position stream (operators kept as the reference twins)."""
    from data_pipeline_postgres_spark.operators import textdup

    level0, _ = textdup.position_stream(_docs(spark))
    levels = textdup.hash_doubling_levels(level0, rounds)
    out = None
    for k, lvl in enumerate(levels):
        cnt = lvl.groupBy("h").agg(F.count("*").alias("cnt"))
        row = cnt.agg(
            F.lit(k).cast("bigint").alias("k"),
            F.lit(1 << k).cast("bigint").alias("win_tokens"),
            F.coalesce(
                F.sum(F.when(F.col("cnt") >= 2, F.col("cnt"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_dup_positions"),
            F.sum(F.when(F.col("cnt") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_windows"),
            F.max("cnt").cast("bigint").alias("max_multiplicity"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _old_maxrun(spark, rounds):
    from data_pipeline_postgres_spark.operators import textdup

    level0, docmap = textdup.position_stream(_docs(spark))
    levels = textdup.hash_doubling_levels(level0, rounds)
    flags = None
    for k, lvl in enumerate(levels):
        dup = (
            lvl.groupBy("h")
            .agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") >= 2)
            .select("h")
        )
        f_k = (
            lvl.join(dup, "h")
            .join(docmap, "pos")
            .select("doc_id", F.lit(k).alias("k"))
            .distinct()
        )
        flags = f_k if flags is None else flags.unionByName(f_k)
    best = flags.groupBy("doc_id").agg(F.max("k").alias("mk"))
    return (
        _docs(spark)
        .select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                F.expr("cast(1 as bigint) * (1 << mk)"), F.lit(0)
            )
            .cast("bigint")
            .alias("max_dup_win"),
        )
    )


def test_dup_spectrum_pyramid_matches_md5_chain(spark):
    """The per-document 128-bit doubling kernel must reproduce the
    md5 shift-join chain's spectrum exactly (equality structure is
    all that feeds the output). Partition, batch and edge-case checks
    of the kernel are in tests/test_textdup.py."""
    from data_pipeline_postgres_spark.plans.queries_r12 import (
        _SPECTRUM_ROUNDS,
        q_docs_dup_spectrum,
    )

    new = sorted(
        map(tuple, q_docs_dup_spectrum(spark, SF).collect())
    )
    old = sorted(
        map(tuple, _old_spectrum(spark, _SPECTRUM_ROUNDS).collect())
    )
    assert new == old
    assert len(new) == _SPECTRUM_ROUNDS + 1
    # non-degenerate: at least one level actually has duplicates
    assert any(r[2] > 0 for r in new)


def test_dup_maxrun_pyramid_matches_md5_chain(spark):
    from data_pipeline_postgres_spark.plans.queries_r12 import (
        _SPECTRUM_ROUNDS,
        q_docs_dup_maxrun,
    )

    new = sorted(map(tuple, q_docs_dup_maxrun(spark, SF).collect()))
    old = sorted(
        map(tuple, _old_maxrun(spark, _SPECTRUM_ROUNDS).collect())
    )
    assert new == old
    assert any(r[1] > 0 for r in new)


@pytest.mark.parametrize("mask", [64, 16])
def test_cdc_manifest_kernel_matches_sql_fold(spark, mask):
    """cdc_manifest_np must be row-identical (all five columns) to
    the original pure-SQL per-byte gear fold at both masks in use."""
    from data_pipeline_postgres_spark.plans.queries_r12 import (
        _cdc_manifest_sql,
    )

    cols = ("doc_id", "chunk_idx", "start_byte", "chunk_len", "chunk_md5")
    new = sorted(
        tuple(r[c] for c in cols)
        for r in multimodal.cdc_manifest_np(_docs(spark), mask=mask).collect()
    )
    old = sorted(
        tuple(r[c] for c in cols)
        for r in _cdc_manifest_sql(spark, SF, mask=mask).collect()
    )
    assert new == old
    assert len(new) > 100


def test_ivm_tagged_split_matches_sequential_batches(spark):
    """The r15 one-scan IVM source build (explode fan-out +
    _split_source(tagged=True)) must write the SAME three batch files
    as the original sequential construction: base (+1), deletes (-1),
    inserts (+1, qty+1) — row-for-row identical sets, one file per
    batch, strictly increasing mtimes."""
    import os

    from data_pipeline_postgres_spark.streaming import jobs as SJ
    from data_pipeline_postgres_spark.plans.queries_r14 import (
        _IVM_DEL_MOD,
        _IVM_INS_MOD,
    )
    from data_pipeline_postgres_spark.catalog import load_table

    li = load_table(spark, SF, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    typed = li.select(
        "l_returnflag",
        "l_linestatus",
        qty.alias("qty"),
        price.alias("price"),
        "l_orderkey",
    )
    # sequential reference construction (the pre-r15 formulation)
    seq = [
        typed.select(
            "l_returnflag", "l_linestatus", "qty", "price",
            F.lit(1).alias("sign"),
        ),
        typed.filter(F.col("l_orderkey") % _IVM_DEL_MOD == 0).select(
            "l_returnflag", "l_linestatus", "qty", "price",
            F.lit(-1).alias("sign"),
        ),
        typed.filter(F.col("l_orderkey") % _IVM_INS_MOD == 0).select(
            "l_returnflag",
            "l_linestatus",
            (F.col("qty") + 1).cast("decimal(18,2)").alias("qty"),
            "price",
            F.lit(1).alias("sign"),
        ),
    ]
    # the new fan-out build, exactly as ivm_agg_maintenance_stream does
    tag = F.array_remove(
        F.array(
            F.lit(0),
            F.when(
                F.col("l_orderkey") % _IVM_DEL_MOD == 0, F.lit(1)
            ).otherwise(F.lit(-1)),
            F.when(
                F.col("l_orderkey") % _IVM_INS_MOD == 0, F.lit(2)
            ).otherwise(F.lit(-1)),
        ),
        -1,
    )
    out = typed.select(
        "l_returnflag", "l_linestatus", "qty", "price",
        F.explode(tag).alias("__t"),
    ).select(
        "l_returnflag",
        "l_linestatus",
        F.when(
            F.col("__t") == 2, (F.col("qty") + 1).cast("decimal(18,2)")
        ).otherwise(F.col("qty")).alias("qty"),
        "price",
        F.when(F.col("__t") == 1, F.lit(-1)).otherwise(F.lit(1)).alias(
            "sign"
        ),
        "__t",
    )
    SJ._split_source(spark, out, "__t", "ivm_src_test", tagged=True)
    src = os.path.join(SJ._SCRATCH, "ivm_src_test")
    files = sorted(os.listdir(src))
    assert len(files) == 3, files
    mtimes = [os.path.getmtime(os.path.join(src, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    for i, f in enumerate(files):
        got = sorted(
            map(tuple, spark.read.parquet(os.path.join(src, f)).collect())
        )
        want = sorted(map(tuple, seq[i].collect()))
        assert got == want, f"batch {i} differs"


def test_global_rank_partition_count_invariance(spark):
    """global_rank's contract: ranks are range-boundary independent,
    so any num_partitions (including the r15 scale-adaptive default)
    yields identical output."""
    from data_pipeline_postgres_spark.operators.window import global_rank

    df = _docs(spark).select(
        "doc_id", F.length("text").alias("n")
    )
    base = sorted(
        map(
            tuple,
            global_rank(df, ["n", "doc_id"], num_partitions=4)
            .select("doc_id", "rn")
            .collect(),
        )
    )
    for np_ in (7, 32, None):
        got = sorted(
            map(
                tuple,
                global_rank(df, ["n", "doc_id"], num_partitions=np_)
                .select("doc_id", "rn")
                .collect(),
            )
        )
        assert got == base, f"num_partitions={np_} diverges"


def test_hyperplane_literal_matches_md5_expression(spark):
    """_hyperplane now emits a driver-computed LITERAL array (the md5
    HOF was re-evaluated per consuming row — the r12 CollapseProject
    lesson). The literal must be bit-identical to the original
    expression for every component of several planes."""
    from data_pipeline_postgres_spark.operators.similarity import (
        _hyperplane,
    )

    # 127 covers indices ≥ 32 (multi-band LSH and lsh_topk reach
    # bands·planes−1 ≥ 32; r15 advisory item 4)
    for p in (0, 3, 17, 31, 127):
        lit = spark.range(1).select(
            _hyperplane(p, 64).alias("h")
        ).collect()[0]["h"]
        expr = spark.range(1).select(
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda d: (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    ":", F.lit(str(p)), d.cast("string")
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("double")
                    / F.lit(float(2**31))
                    - 1.0
                ),
            ).alias("h")
        ).collect()[0]["h"]
        assert lit == expr, f"plane {p} diverges"


def test_one_pass_banded_buckets_match_per_band_union(spark):
    """embedding_near_dup_lsh's single-scan posexplode bucket build
    must emit exactly the per-band sign_lsh_buckets union's rows."""
    from data_pipeline_postgres_spark.catalog import load_table
    from data_pipeline_postgres_spark.functions import vectors as V
    from data_pipeline_postgres_spark.operators import similarity as S

    emb = load_table(spark, SF, "embeddings")
    planes, dim, bands = 4, 64, 8
    old = set()
    for t in range(bands):
        for r in S.sign_lsh_buckets(emb, planes, dim, band=t).collect():
            old.add((r.vec_id, t, r.bucket))

    src = emb.select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    )

    def band_bucket(t):
        bits = [
            F.when(
                V.dot(F.col("v"), S._hyperplane(t * planes + p, dim))
                >= 0,
                F.lit(1 << p),
            ).otherwise(F.lit(0))
            for p in range(planes)
        ]
        acc = bits[0]
        for x in bits[1:]:
            acc = acc + x
        return acc.cast("bigint")

    new = {
        (r.vec_id, r.band, r.bucket)
        for r in src.select(
            "vec_id",
            F.posexplode(
                F.array(*[band_bucket(t) for t in range(bands)])
            ).alias("band", "bucket"),
        ).collect()
    }
    assert new == old
    assert len(new) > 100
