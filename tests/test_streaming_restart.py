"""Checkpoint-restart exactly-once: the fault-tolerance half of the
Structured Streaming story the AvailableNow suite and the
continuous-trigger soak don't cover. A query drains PART of its
source, is stopped (simulating a crash/redeploy), and a NEW query
object restarts from the same checkpoint — the final sink must equal
the batch answer with no duplicated and no lost micro-batch, because
the checkpoint's WAL + commit log replay exactly the uncommitted
work.

foreachBatch alone is at-least-once: a kill between the sink write
and the checkpoint commit replays that batch on restart. Exactly-once
therefore comes from the sink being IDEMPOTENT PER batch_id —
batch_ids are stable across restarts, so writing each batch to its
own deterministic location with overwrite semantics absorbs any
replay. That (sink-side idempotence x stable batch ids) is the
documented Structured Streaming contract this test pins down, with
the kill point landing mid-drain.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMOKE


def test_restart_from_checkpoint_is_exactly_once(spark, tmp_path):
    docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    # land 4 single-file micro-batches
    for i in range(4):
        docs.filter(F.col("doc_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")

    def make_query(stop_after: int | None):
        """Start the stream; if stop_after is given, stop the query as
        soon as that many batches committed (mid-drain kill)."""
        seen = []

        def sink(batch_df, batch_id):
            # idempotent by construction: the batch's stable id IS the
            # target, overwrite absorbs a replay of a half-committed
            # batch after restart
            batch_df.select("doc_id", "n_chars").write.mode(
                "overwrite"
            ).parquet(os.path.join(spool, f"batch_{batch_id}"))
            seen.append(batch_id)

        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if stop_after is None:
            q.awaitTermination()
        else:
            import time

            deadline = time.monotonic() + 120
            while len(seen) < stop_after and time.monotonic() < deadline:
                time.sleep(0.1)
            q.stop()
            q.awaitTermination()
        return seen

    first = make_query(stop_after=2)
    assert len(first) >= 2, "kill point never reached"
    # restart with a FRESH query object on the same checkpoint: only
    # the not-yet-committed batches replay
    second = make_query(stop_after=None)

    got = (
        spark.read.parquet(os.path.join(spool, "batch_*"))
        .groupBy()
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("doc_id").alias("nd"),
            F.sum("n_chars").alias("s"),
        )
        .collect()[0]
    )
    want = docs.agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("nd"),
        F.sum("n_chars").alias("s"),
    ).collect()[0]
    # exactly-once: counts equal AND no doc duplicated (n == nd)
    assert got.n == want.n, f"lost or duplicated rows: {got.n} != {want.n}"
    assert got.nd == want.nd
    assert got.n == got.nd
    assert got.s == want.s
    # the restart resumed from the checkpoint rather than starting
    # over: it processed strictly fewer batches than a cold run would
    assert len(second) < 4


def _replay_batch_partition(spark, partials_dir: str) -> str:
    """Simulate foreachBatch's at-least-once replay against the LAST
    committed batch partition: first leave a TORN write behind (a
    crash mid-write leaves a partial file set), then re-run the
    replayed write — same rows, same batch_id-keyed target, overwrite
    mode — exactly what step() does when Structured Streaming re-fires
    an uncommitted micro-batch after restart. Returns the partition
    dir that was replayed."""
    import glob as _glob

    parts = sorted(_glob.glob(os.path.join(partials_dir, "batch_id=*")))
    assert parts, f"no batch partitions under {partials_dir}"
    target = parts[-1]
    full = spark.read.parquet(target)
    schema = full.schema
    rows = full.collect()
    # torn state: strictly fewer rows than the committed batch
    torn = spark.createDataFrame(rows[: len(rows) // 2], schema)
    torn.write.mode("overwrite").parquet(target)
    # the replay: the SAME batch content lands on the SAME target
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        target
    )
    # a second replay (multiple retries) must also be absorbed
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        target
    )
    return target


def test_dq_counters_replay_still_matches_batch_oracle(spark):
    """r13-verdict item 3: dq_constraints_stream's counter sink must
    absorb an at-least-once foreachBatch replay. Drain the stream,
    replay the last committed counter batch (torn write + two
    retries), re-publish from the partials — the report must still
    match the registered batch SQL oracle."""
    from data_pipeline_postgres_spark.plans import registry
    from data_pipeline_postgres_spark.streaming import jobs

    from .oracle_util import assert_matches_oracle, duck_connect

    registry.load_all()

    base = {
        tuple(r)
        for r in jobs.dq_constraints_stream(spark, SF_SMOKE).collect()
    }
    counters_dir = os.path.join(jobs._SCRATCH, "dq_counters")
    _replay_batch_partition(spark, counters_dir)
    republished = jobs._dq_publish(spark, counters_dir)
    assert {tuple(r) for r in republished.collect()} == base
    con = duck_connect(SF_SMOKE)
    assert_matches_oracle(
        republished,
        con,
        registry.ORACLES["stream_dq_constraints"],
        "stream_dq_constraints+replay",
    )


def test_feature_snapshot_replay_still_matches_batch_oracle(spark):
    """r13-verdict item 3, feature-store twin: replay the last
    committed per-customer partial batch (torn write + two retries),
    re-merge — the snapshot must still match the registered batch SQL
    oracle (an append-mode sink would double-count every replayed
    customer)."""
    from data_pipeline_postgres_spark.plans import registry
    from data_pipeline_postgres_spark.streaming import jobs

    from .oracle_util import assert_matches_oracle, duck_connect

    registry.load_all()

    snap = jobs.feature_snapshot_stream(spark, SF_SMOKE)
    base = {tuple(r) for r in snap.collect()}
    partials_dir = os.path.join(jobs._SCRATCH, "feat_partials")
    _replay_batch_partition(spark, partials_dir)
    orders = spark.read.parquet(os.path.join(SF_SMOKE, "orders.parquet"))
    cutoff = orders.agg(
        F.date_sub(
            F.max(F.col("o_orderdate").cast("date")), 90
        ).alias("c")
    )
    remerged = jobs._feat_merge(spark, partials_dir, cutoff)
    assert {tuple(r) for r in remerged.collect()} == base
    con = duck_connect(SF_SMOKE)
    assert_matches_oracle(
        remerged,
        con,
        registry.ORACLES["stream_feature_snapshot"],
        "stream_feature_snapshot+replay",
    )


def test_spool_and_fold_absorb_a_replayed_batch(spark, tmp_path, monkeypatch):
    """The two idempotent-per-batch_id sinks every streaming job writes
    through: replaying a batch_id into a ``_spool`` sink must not
    duplicate a row, refolding a batch into a ``_fold`` chain must
    rewrite an identical version, and a fold whose predecessor version
    is missing must raise instead of reseeding from the batch alone."""
    from data_pipeline_postgres_spark.streaming import jobs

    monkeypatch.setattr(jobs, "_SCRATCH", str(tmp_path))

    def keys(lo: int, hi: int):
        return spark.range(lo, hi).select(F.col("id").alias("k"))

    sink, read = jobs._spool(spark, "replay_spool")
    sink(keys(0, 10), 0)
    sink(keys(10, 15), 1)
    sink(keys(10, 15), 1)  # at-least-once replay of batch 1
    got = sorted(r.k for r in read().collect())
    assert got == list(range(15))
    assert read().columns == ["k"]

    def counts(lo: int, hi: int):
        return spark.range(lo, hi).select(
            (F.col("id") % 3).alias("k"), F.lit(1).cast("bigint").alias("n")
        )

    def merge(prev, part):
        return (
            prev.unionByName(part).groupBy("k").agg(F.sum("n").alias("n"))
        )

    root = str(tmp_path / "chain")
    jobs._fold(root, 0, counts(0, 6), merge)

    def fold_batch_1():
        v1 = jobs._fold(root, 1, counts(6, 9), merge)
        return sorted(map(tuple, v1.collect()))

    v1 = fold_batch_1()
    assert fold_batch_1() == v1 == [(0, 3), (1, 3), (2, 3)]
    assert sorted(map(tuple, jobs._latest(spark, root).collect())) == v1

    with pytest.raises(FileNotFoundError, match="v0 is missing"):
        jobs._fold(str(tmp_path / "no_v0"), 1, counts(0, 3), merge)


def test_minhash_stream_replay_after_index_write(spark, tmp_path, monkeypatch):
    """foreachBatch may deliver a batch again after its sink already
    spooled the batch's band keys into the index. The replay must join
    only against the index of earlier batches: joined against its own
    keys it would admit every (doc, doc) pair at Jaccard 1.0. Every
    batch is delivered twice here, and the result must still equal the
    batch oracle."""
    from data_pipeline_postgres_spark.plans import registry
    from data_pipeline_postgres_spark.streaming import jobs

    from .oracle_util import assert_matches_oracle, duck_connect

    registry.load_all()
    monkeypatch.setattr(jobs, "_SCRATCH", str(tmp_path))
    drain = jobs._drain

    def at_least_once(df, ckpt, *, mode, sink=None, table=None):
        def replaying(batch_df, batch_id):
            sink(batch_df, batch_id)
            sink(batch_df, batch_id)  # redelivered after the index write

        return drain(df, ckpt, mode=mode, sink=replaying, table=table)

    monkeypatch.setattr(jobs, "_drain", at_least_once)
    got = jobs.minhash_dedup_stream(spark, SF_SMOKE)
    assert got.filter(F.col("doc_a") == F.col("doc_b")).count() == 0
    assert_matches_oracle(
        got,
        duck_connect(SF_SMOKE),
        registry.ORACLES["stream_minhash_dedup"],
        "stream_minhash_dedup+replay",
    )
