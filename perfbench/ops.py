"""Executing and verifying the benchmark's operations on the engine.

Every call into the engine goes through its public API: registry
queries, the day pipeline in ``pipelines``, and the comparator the
repository's tests use for oracle checks. Nothing here changes engine
code or configuration beyond what ``get_spark(extra_conf=...)`` takes.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from workloads import Op

# Zones of the day pipeline whose data files count as written.
PIPELINE_ZONES = ("raw", "transformed")


def fingerprinted(df, observed: list):
    """``df`` with an observation of its row count and the sum of its
    rows' hashes, gathered while the result is materialised. The
    registry's queries are bit-stable by design (exact sums, fixed
    float paths), so every call of a query must give the fingerprint of
    its oracle-verified first call."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    observed.append(obs)
    cols = [F.col(f"`{c}`") for c in df.columns]
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), F.sum(F.hash(*cols).cast("long")).alias("hash"))


def read_fingerprint(observed: list) -> tuple | None:
    if not observed:
        return None
    got = observed[0].get
    return got["rows"], got["hash"]


@dataclass
class Phase:
    """One traced phase of an operation: (op index, phase) label and
    its wall-clock window in epoch seconds."""

    label: str
    kind: str
    start: float
    end: float


@dataclass
class OpResult:
    op: Op
    seconds: float
    error: str | None = None
    fingerprint: tuple | None = None


@dataclass
class TraceLog:
    phases: list[Phase] = field(default_factory=list)
    files_written: int = 0
    bytes_written: int = 0


class Engine:
    """Runs operations against one Spark session and one lake.

    ``work_dir`` holds the day pipeline's lake zones; ``ckpt_root``
    gets a fresh checkpoint per catch-up, so every catch-up drains all
    raw days, as a scheduled catch-up after an outage would."""

    def __init__(self, spark, lake: str, work_dir: str, ckpt_root: str) -> None:
        from data_pipeline_postgres_spark import pipelines
        from data_pipeline_postgres_spark.plans import registry

        self.spark = spark
        self.lake = lake
        self.work_dir = work_dir
        self.ckpt_root = ckpt_root
        self.pipelines = pipelines
        self.registry = registry
        self._catchups = 0

    # -- timed form ----------------------------------------------------
    def run(self, op: Op, kept: list | None = None) -> OpResult:
        """Execute ``op`` and time it; an exception is a failed op. A
        query's result fingerprint is read after the clock stops. With
        ``kept``, a query's result is also cached while it is written
        and appended to ``kept``, so that it can be checked afterwards
        without running the query again."""
        observed: list = []
        t0 = time.perf_counter()
        try:
            self._execute(op, None, observed, kept)
        except Exception as exc:  # a failing engine call is a measured outcome
            return OpResult(op, time.perf_counter() - t0, f"{type(exc).__name__}: {exc}"[:500])
        seconds = time.perf_counter() - t0
        return OpResult(op, seconds, fingerprint=read_fingerprint(observed))

    def _execute(
        self, op: Op, phase: Callable[[str], None] | None, observed: list, kept: list | None = None
    ) -> None:
        def enter(name: str) -> None:
            if phase is not None:
                phase(name)

        p = self.pipelines
        if op.kind == "query":
            enter("build")
            df = self.registry.QUERIES[op.arg](self.spark, self.lake)
            df = fingerprinted(df, observed)
            if kept is not None:
                df = df.cache()
                kept.append(df)
            enter("plan")
            if phase is not None:
                df._jdf.queryExecution().executedPlan()
            enter("exec")
            df.write.format("noop").mode("overwrite").save()
        elif op.kind == "day":
            enter("run")
            p.extract_day(self.spark, self.lake, self.work_dir, op.arg)
            p.transform_day(self.spark, self.work_dir, op.arg)
        elif op.kind == "load":
            enter("run")
            p.load_warehouse(self.spark, self.work_dir).count()
        elif op.kind == "catchup":
            enter("run")
            self._catchups += 1
            ckpt = os.path.join(self.ckpt_root, f"catchup-{self._catchups}")
            p.transform_stream(self.spark, self.work_dir, ckpt)
        else:
            raise ValueError(f"unknown op kind {op.kind!r}")

    # -- traced form ---------------------------------------------------
    def run_traced(self, op: Op, index: int, trace: TraceLog, tracer) -> OpResult:
        """Execute ``op`` with one Spark job group per phase (``build``,
        ``plan``, ``exec`` for a query, ``run`` otherwise), recording
        each phase's window and the pipeline files the op wrote. A
        query's build phase is also a ``plans.build`` span of
        ``tracer``, so spans opened inside it count as its children."""
        sc = self.spark.sparkContext
        current: list[Phase] = []
        build_span: list[int | None] = []

        def close() -> None:
            if build_span:
                tracer.end(build_span.pop())
            if current:
                current[-1].end = time.time()
                trace.phases.append(current.pop())

        def phase(name: str) -> None:
            close()
            label = f"{index}:{op.name}:{name}"
            sc.setJobGroup(label, label)
            now = time.time()
            current.append(Phase(label, name, now, now))
            if name == "build":
                build_span.append(tracer.begin("plans.build"))

        t0 = time.perf_counter()
        start = time.time()
        error = None
        observed: list = []
        try:
            self._execute(op, phase, observed)
        except Exception as exc:  # a failing engine call is a measured outcome
            error = f"{type(exc).__name__}: {exc}"[:500]
        finally:
            close()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        seconds = time.perf_counter() - t0
        if op.kind in ("day", "load", "catchup"):
            files, size = self.files_written_since(start)
            trace.files_written += files
            trace.bytes_written += size
        if error:
            return OpResult(op, seconds, error)
        return OpResult(op, seconds, fingerprint=read_fingerprint(observed))

    def files_written_since(self, since: float) -> tuple[int, int]:
        """Data files (and their bytes) in the pipeline zones modified
        at or after ``since`` (epoch seconds)."""
        files = size = 0
        for zone in PIPELINE_ZONES:
            for root, _, names in os.walk(os.path.join(self.work_dir, zone)):
                for name in names:
                    if name.startswith((".", "_")):
                        continue
                    st = os.stat(os.path.join(root, name))
                    if st.st_mtime >= since:
                        files += 1
                        size += st.st_size
        return files, size

    # -- verification --------------------------------------------------
    @staticmethod
    def verify_result(df, name: str, duck, oracle_table: str) -> str | None:
        """Compare the cached result ``df`` of query ``name`` with its
        oracle's result (precomputed into the DuckDB table
        ``oracle_table``) using the tests' comparator, then drop it from
        the cache. Returns the error, or None."""
        from tests.oracle_util import assert_matches_oracle

        try:
            assert_matches_oracle(df, duck, f"SELECT * FROM {oracle_table}", name)
        except Exception as exc:  # mismatch or engine failure: both are failures
            return f"{type(exc).__name__}: {exc}"[:500]
        finally:
            df.unpersist()
        return None

    def verify_warehouse(self, days: list[str]) -> str | None:
        """The warehouse must equal the flagship transform over the
        processed days (the union-of-days invariant)."""
        from pyspark.sql import functions as F

        from data_pipeline_postgres_spark.plans.flagship import flagship

        try:
            got = sorted(map(tuple, self.pipelines.load_warehouse(self.spark, self.work_dir).collect()))
            want = sorted(
                map(
                    tuple,
                    flagship(self.spark, self.lake).filter(F.col("date").cast("string").isin(days)).collect(),
                )
            )
        except Exception as exc:
            return f"{type(exc).__name__}: {exc}"[:500]
        if not got:
            return "warehouse is empty"
        return None if got == want else f"warehouse has {len(got)} rows, flagship {len(want)}; contents differ"

    def verify_catchup(self) -> str | None:
        """The last stream catch-up must equal the batch warehouse."""
        try:
            got = sorted(map(tuple, self.spark.table("pipeline_transform_stream").collect()))
            want = sorted(map(tuple, self.pipelines.load_warehouse(self.spark, self.work_dir).collect()))
        except Exception as exc:
            return f"{type(exc).__name__}: {exc}"[:500]
        return None if got == want else f"catch-up has {len(got)} rows, batch {len(want)}; contents differ"
