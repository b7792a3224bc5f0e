#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload relational_sf01 --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout that holds the engine package. A run
reads the sf0.1 lake in ``perfbench/lake/``, starts a Spark session on
``local[<cpus>]`` in a private working directory, runs an untimed warm
pass, verifies every query result of that pass against its DuckDB
oracle, then times a fixed number of whole passes of the workload (about
``--seconds`` worth on the reference machine), one operation at a time.
With ``--trace 1`` it then runs one more pass with function spans, Spark
job groups and the event log on, and reports per-layer metrics instead
of the end-to-end ones.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it records the run's seed, CPU count, scale factor, commit, sample
counts, per-operation latencies and the end-to-end metrics. See
README.md.
"""

from __future__ import annotations

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_pipeline_postgres_spark"
WORK = os.path.join(HERE, "_work")
LAKE = os.path.join(HERE, "lake")
# Oracle results, computed once per checkout: a DuckDB database keyed by
# the oracle SQL and the lake files.
ORACLE_DB = os.path.join(WORK, "oracles.duckdb")
SF = 0.1
DRIVER_HEAP_MB = 2048

END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("op_p50_s", "s"),
    ("geomean_s", "s"),
    ("peak_rss_mb", "MB"),
)


def _layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith((".s", "_s")):
        return "s"
    if name.endswith(("bytes", "bytes_written")):
        return "bytes"
    if name.endswith(("hit_ratio", "busy_frac", "overhead_ratio")):
        return "ratio"
    return "count"


PER_LAYER_NAMES = (
    ["catalog.load_table.calls", "catalog.load_table.s", "catalog.load_table.jobs"]
    + ["plans.build.s", "plans.build.self_s", "plans.build.jobs"]
    + [
        f"operators.{m}.{k}"
        for m in ("graph", "dedup", "textdup", "similarity", "embeddings", "aggregate", "merge", "window", "join_ext")
        for k in ("s", "jobs")
    ]
    + ["scratch.stored_index.calls", "scratch.stored_index.hit_ratio", "scratch.stored_index.s"]
    + ["spark.plan.s", "spark.exec.s"]
    + [
        f"spark.{k}"
        for k in (
            "jobs",
            "stages",
            "tasks",
            "job_s",
            "task_wait_s",
            "executor_run_s",
            "executor_cpu_s",
            "gc_s",
            "core_busy_frac",
            "input_bytes",
            "shuffle_read_bytes",
            "shuffle_write_bytes",
            "output_bytes",
            "peak_exec_memory_bytes",
            "failed_tasks",
        )
    ]
    + [
        "streaming.jobs.s",
        "streaming.batches",
        "streaming.batch_p50_ms",
        "streaming.add_batch_ms",
        "streaming.wal_commit_ms",
        "streaming.query_planning_ms",
        "streaming.rows_in",
    ]
    + [
        "pipelines.extract_day.s",
        "pipelines.transform_day.s",
        "pipelines.load_warehouse.s",
        "pipelines.transform_stream.s",
        "pipelines.bytes_written",
        "pipelines.files_written",
    ]
    + ["trace.overhead_ratio"]
)
PER_LAYER = tuple((n, _layer_unit(n)) for n in PER_LAYER_NAMES)


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="timed span on the reference machine")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_kb(pid: int | str) -> int:
    """Peak resident set (VmHWM) of a process, in KiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_peak_rss(pid: int | str) -> None:
    """Restart a process's VmHWM from its current resident set."""
    with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as f:
        f.write("5")


def git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30, check=False
    )
    return out.stdout.strip() or None


def isolate(run_dir: str, cpus: int) -> None:
    """Give this run its own scratch, local and working directories, so
    it neither reads nor clobbers state of the repository or of another
    run. Must happen before the engine package is imported (its scratch
    root is read at import)."""
    for sub in ("scratch", "local", "work", "ckpt", "eventlog", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # Python workers start from the JVM's environment; without the
    # checkout on their path, UDF queries cannot import the package.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.chdir(run_dir)  # spark-warehouse/ and metastore_db/ land here
    sys.path.insert(0, ROOT)


def oracle_results(lake: str, names: list[str]):
    """A DuckDB connection over ``lake`` and, for each query name, the
    table that holds its oracle's result. An oracle result depends only
    on its SQL and the lake, so it is kept in ``ORACLE_DB`` under a key
    of both and computed only by the first run that needs it. Every
    query a workload runs must have an oracle."""
    from data_pipeline_postgres_spark.plans import registry
    from tests.oracle_util import duck_connect

    stamp = "".join(f"{n}:{os.path.getsize(os.path.join(lake, n))};" for n in sorted(os.listdir(lake)))
    duck = duck_connect(lake)
    duck.execute(f"ATTACH '{ORACLE_DB}' AS oracles")
    tables = {}
    for name in names:
        sql = registry.ORACLES[name].strip().rstrip(";")
        key = "o_" + hashlib.sha256(f"{stamp}\n{sql}".encode()).hexdigest()[:32]
        tables[name] = f"oracles.{key}"
        found = duck.execute(
            "SELECT count(*) FROM duckdb_tables() WHERE database_name = 'oracles' AND table_name = ?", [key]
        ).fetchone()[0]
        if not found:
            duck.execute(f"CREATE TABLE oracles.{key} AS {sql}")
    return duck, tables


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def lake_missing() -> list[str]:
    """Tables of the engine's catalog that the benchmark lake lacks."""
    from data_pipeline_postgres_spark.catalog import TABLES

    return [t for t in TABLES if not os.path.isfile(os.path.join(LAKE, f"{t}.parquet"))]


def run(args: argparse.Namespace, run_dir: str, cpus: int) -> tuple[dict, dict]:
    from workloads import make_inputs

    inputs = make_inputs(args.workload, args.seed)
    eventlog = os.path.join(run_dir, "eventlog")
    heap = f"{DRIVER_HEAP_MB}m"
    conf = {
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.driver.memory": heap,
        "spark.ui.showConsoleProgress": "false",
        # A fully committed heap keeps the JVM's resident set from
        # tracking G1's run-to-run heap sizing; peak_rss_mb subtracts
        # it and so moves with off-heap and Python memory. The JVM
        # writes no files outside the run directory.
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp"
        ),
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog,
                "spark.eventLog.compress": "false",
            }
        )

    # -- set-up: session, registry, warm passes
    t0 = time.perf_counter()
    from data_pipeline_postgres_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf)
    try:
        return measure(args, inputs, spark, LAKE, run_dir, cpus, t0)
    finally:
        stop_spark(spark)


def measure(args, inputs, spark, lake: str, run_dir: str, cpus: int, t0: float) -> tuple[dict, dict]:
    """Set up, warm, time and verify one workload on a live session.
    ``t0`` is when set-up began."""
    import stats
    from data_pipeline_postgres_spark.plans import registry
    from ops import Engine, TraceLog
    from workloads import WARM_PASSES, timed_passes

    jvm_pid = spark.sparkContext._gateway.proc.pid
    registry.load_all()
    session_s = time.perf_counter() - t0
    engine = Engine(spark, lake, os.path.join(run_dir, "work"), os.path.join(run_dir, "ckpt"))

    # A warm pass runs each operation as a timed pass does. In the first
    # one, a query's result is also kept in Spark's cache for the oracle
    # check after the timed passes. (A timed query does not read that
    # cache: its plan carries an observation of another name.)
    t1 = time.perf_counter()
    wrong: dict[str, str] = {}
    kept: dict[str, object] = {}
    verified: dict[str, tuple] = {}
    rewarmed = []
    warm_op_s = {}
    for op in inputs.warm:
        cache: list = []
        r = engine.run(op, cache if op.kind == "query" else None)
        warm_op_s[op.name] = r.seconds
        if r.error:
            wrong[op.name] = r.error
        elif op.kind == "query":
            kept[op.arg], verified[op.name] = cache[0], r.fingerprint
    for _ in range(WARM_PASSES[args.workload] - 1):
        rewarmed.extend(engine.run(op) for op in inputs.warm)
    warm_s = time.perf_counter() - t1
    setup_s = session_s + warm_s

    # Peak memory is that of the timed passes.
    reset_peak_rss(jvm_pid)
    reset_peak_rss("self")

    # -- timed passes
    results = []
    pass_walls = []
    for _ in range(timed_passes(args.workload, args.seconds)):
        tp = time.perf_counter()
        results.extend(engine.run(op) for op in inputs.ops)
        pass_walls.append(time.perf_counter() - tp)
    jvm_mb = vm_hwm_kb(jvm_pid) / 1024.0 - DRIVER_HEAP_MB
    peak_rss_mb = jvm_mb + vm_hwm_kb("self") / 1024.0

    # -- traced pass
    layers = {}
    traced = []
    if args.trace:
        from tracing import FunctionTracer, package_targets

        tracer = FunctionTracer()
        tracer.install(package_targets())
        trace_log = TraceLog()
        tr_start = time.time()
        tp = time.perf_counter()
        try:
            traced = [engine.run_traced(op, i, trace_log, tracer) for i, op in enumerate(inputs.ops)]
        finally:
            tracer.uninstall()
        traced_wall = time.perf_counter() - tp
        tr_end = time.time()

    # -- verification of the warm pass's query results, outside every timed figure
    tv = time.perf_counter()
    with open(ORACLE_DB + ".lock", "w", encoding="ascii") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one run at a time writes the oracle database
        duck, oracle_tables = oracle_results(lake, list(kept))
        oracle_s = time.perf_counter() - tv
        for name, df in kept.items():
            err = engine.verify_result(df, name, duck, oracle_tables[name])
            if err:
                wrong[f"query:{name}"] = err
        duck.close()
    verify_s = time.perf_counter() - tv

    # -- verification of the pipeline's end state
    if inputs.days:
        err = engine.verify_warehouse(list(inputs.days))
        if err:
            wrong.update({op.name: err for op in inputs.ops if op.kind in ("day", "load")})
        err = engine.verify_catchup()
        if err:
            wrong["catchup"] = err
    spark.stop()  # flushes the event log

    attempted = results + traced
    for r in attempted + rewarmed:
        if r.op.kind == "query" and not r.error and r.fingerprint != verified.get(r.op.name):
            r.error = f"result fingerprint {r.fingerprint} differs from the verified {verified.get(r.op.name)}"
    wrong.update({r.op.name: r.error for r in rewarmed if r.error})
    failed = sum(1 for r in attempted if r.error or r.op.name in wrong)
    # Latencies of successful operations; of all when none succeeded.
    lat = [r.seconds for r in results if not r.error] or [r.seconds for r in results]
    summary = stats.summarize_latencies(lat)
    wall_s = statistics.median(pass_walls)
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "op_p50_s": summary["op_p50_s"],
        "geomean_s": summary["geomean_s"],
        "peak_rss_mb": peak_rss_mb,
    }
    errors = dict(wrong)
    errors.update({r.op.name: r.error for r in attempted if r.error})
    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": cpus,
        "sf": SF,
        "commit": git_commit(),
        "warm_passes": WARM_PASSES[args.workload],
        "passes": len(pass_walls),
        "pass_walls_s": pass_walls,
        "samples": {"op_latency": len(lat), "wall_s": len(pass_walls), "setup_s": 1, "peak_rss_mb": 1},
        "tail_percentile": summary["tail_percentile"],
        "op_tail_s": summary["op_tail_s"],
        "session_s": session_s,
        "warm_s": warm_s,
        "verify_s": verify_s,
        "oracle_s": oracle_s,
        "driver_jvm_rss_over_heap_mb": jvm_mb,
        "warm_op_s": warm_op_s,
        "op_latency_s": [[r.op.name, r.seconds] for r in results],
        "failed_frac": failed / len(attempted),
        "verified": len(oracle_tables) + (2 if inputs.days else 0),
        "end_to_end": e2e,
        "units": dict(END_TO_END, op_tail_s="s", failed_frac="ratio"),
        "errors": errors,
    }
    if args.trace:
        layers = layer_metrics(os.path.join(run_dir, "eventlog"), tracer, trace_log, traced_wall, tr_start, tr_end, cpus)
        layers["trace.overhead_ratio"] = traced_wall / wall_s
        meta["traced_wall_s"] = traced_wall
    report = {
        "correct": failed == 0 and not wrong,
        "attempted": len(attempted),
        "failed": failed,
        "metrics": {
            name: {"value": (layers if args.trace else e2e)[name], "unit": unit}
            for name, unit in (PER_LAYER if args.trace else END_TO_END)
        },
    }
    return meta, report


def layer_metrics(eventlog, tracer, trace_log, traced_wall, tr_start, tr_end, cpus) -> dict:
    from collections import defaultdict

    import tracing as tr

    log = tr.read_event_log(eventlog)
    phases = trace_log.phases
    kind_of = {p.label: p.kind for p in phases}
    attributed = tr.attribute_jobs(
        log.jobs, {p.label: p.label for p in phases}, [(p.start, p.end, p.label) for p in phases]
    )
    jobs = [j for j in log.jobs if j.job_id in attributed]
    spans = defaultdict(list)
    for s in tracer.spans:
        spans[s.layer].append(s)

    def phase_s(kind: str) -> float:
        return sum(p.end - p.start for p in phases if p.kind == kind)

    def span_s(layer: str) -> float:
        return sum(s.seconds for s in spans[layer])

    out: dict[str, float] = {
        "catalog.load_table.calls": len(spans["catalog.load_table"]),
        "catalog.load_table.s": span_s("catalog.load_table"),
        "catalog.load_table.jobs": tr.jobs_in_spans(jobs, spans["catalog.load_table"]),
        "plans.build.s": phase_s("build"),
        "plans.build.self_s": sum(s.self_seconds for s in spans["plans.build"]),
        "plans.build.jobs": sum(1 for j in jobs if kind_of[attributed[j.job_id]] == "build"),
    }
    for m in tr.OPERATOR_MODULES:
        out[f"operators.{m}.s"] = span_s(f"operators.{m}")
        out[f"operators.{m}.jobs"] = tr.jobs_in_spans(jobs, spans[f"operators.{m}"])
    idx = spans[tr.STORED_INDEX]
    out["scratch.stored_index.calls"] = len(idx)
    out["scratch.stored_index.hit_ratio"] = sum(bool(s.hit) for s in idx) / len(idx) if idx else 0.0
    out["scratch.stored_index.s"] = span_s(tr.STORED_INDEX)
    out["spark.plan.s"] = phase_s("plan")
    out["spark.exec.s"] = phase_s("exec")
    out.update(tr.spark_metrics(log, jobs, traced_wall, cpus))
    out["streaming.jobs.s"] = span_s("streaming.jobs")
    out.update(tr.streaming_metrics(log.progress, tr_start, tr_end))
    for name in tr.PIPELINE_FUNCTIONS:
        out[f"pipelines.{name}.s"] = span_s(f"pipelines.{name}")
    out["pipelines.bytes_written"] = trace_log.bytes_written
    out["pipelines.files_written"] = trace_log.files_written
    return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found beside perfbench/", file=sys.stderr)
        return 2
    cpus = cpu_count()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir, cpus)
    try:
        missing = lake_missing()
        if missing:
            print(f"perfbench: lake tables {missing} not found in {LAKE}", file=sys.stderr)
            return 2
        meta, report = run(args, run_dir, cpus)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"perfbench": meta}))
    print(json.dumps(report), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
