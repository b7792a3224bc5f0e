"""Per-layer tracing for the benchmark's traced run.

Two sources, both read from the benchmark's own files; no engine code
is changed:

* Function spans. ``FunctionTracer`` replaces chosen package functions,
  in every package module namespace that holds them, with wrappers that
  record a span (layer, start, end, parent). Spans stay in memory.
* Spark's event log. ``read_event_log`` parses the uncompressed log
  (a rolling ``eventlog_v2_*`` directory in Spark 4) into jobs, stages,
  tasks and the ``StreamingQueryListener`` progress events the log
  records. Jobs are attributed to operations through the job group the
  benchmark sets per (operation, phase), and to layers through the
  spans their submission time falls in.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from collections.abc import Callable, Iterable, Sequence
from dataclasses import dataclass, field
from datetime import datetime

PACKAGE = "data_pipeline_postgres_spark"

# Operator modules reported as ``operators.<m>`` layers.
OPERATOR_MODULES = (
    "graph",
    "dedup",
    "textdup",
    "similarity",
    "embeddings",
    "aggregate",
    "merge",
    "window",
    "join_ext",
)
PIPELINE_FUNCTIONS = ("extract_day", "transform_day", "load_warehouse", "transform_stream")
STORED_INDEX = "scratch.stored_index"


@dataclass
class Span:
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    child_s: float = 0.0
    hit: bool | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_seconds(self) -> float:
        return self.seconds - self.child_s


class FunctionTracer:
    """Records spans around calls into package functions.

    A layer that re-enters itself (a public operator calling another
    public function of the same module) records only the outermost
    call, so a layer's time is never counted twice. Times are epoch
    seconds, comparable with the event log's millisecond stamps."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._open: defaultdict[str, int] = defaultdict(int)
        self._patched: list[tuple[object, str, object]] = []

    def begin(self, layer: str) -> int | None:
        if self._open[layer]:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(layer, time.time(), parent=parent))
        self._stack.append(len(self.spans) - 1)
        self._open[layer] += 1
        return len(self.spans) - 1

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        span = self.spans[idx]
        span.end = time.time()
        self._stack.pop()
        self._open[span.layer] -= 1
        if span.parent is not None:
            self.spans[span.parent].child_s += span.seconds

    def wrap(self, layer: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        return traced

    def wrap_stored_index(self, fn: Callable) -> Callable:
        """``stored_index(spark, sf_dir, table, name, filename, build)``
        runs ``build`` only on a miss; the wrapper records whether it
        did."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(STORED_INDEX)
            built = []
            args = list(args)
            build = args[5] if len(args) > 5 else kwargs["build"]

            def recording_build():
                built.append(True)
                return build()

            if len(args) > 5:
                args[5] = recording_build
            else:
                kwargs["build"] = recording_build
            try:
                return fn(*args, **kwargs)
            finally:
                if idx is not None:
                    self.spans[idx].hit = not built
                self.end(idx)

        return traced

    def install(self, targets: dict[Callable, str]) -> int:
        """Replace every reference to a target function held by a loaded
        package module with its traced wrapper. ``targets`` maps the
        original function to its layer. Returns the number of
        references replaced."""
        wrappers = {
            fn: self.wrap_stored_index(fn) if layer == STORED_INDEX else self.wrap(layer, fn)
            for fn, layer in targets.items()
        }
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if inspect.isfunction(value) and value in wrappers:
                    self._patched.append((mod, attr, value))
                    setattr(mod, attr, wrappers[value])
        return len(self._patched)

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()


def public_functions(module) -> list[Callable]:
    """Functions defined in ``module`` whose names do not start with _."""
    return [
        fn
        for name, fn in vars(module).items()
        if inspect.isfunction(fn) and fn.__module__ == module.__name__ and not name.startswith("_")
    ]


def package_targets() -> dict[Callable, str]:
    """The package functions the traced run wraps, keyed to their layer."""

    def mod(name: str):
        return importlib.import_module(f"{PACKAGE}.{name}")

    targets: dict[Callable, str] = {
        mod("catalog").load_table: "catalog.load_table",
        mod("scratch").stored_index: STORED_INDEX,
    }
    for m in OPERATOR_MODULES:
        for fn in public_functions(mod(f"operators.{m}")):
            targets.setdefault(fn, f"operators.{m}")
    pipelines = mod("pipelines")
    for name in PIPELINE_FUNCTIONS:
        targets[getattr(pipelines, name)] = f"pipelines.{name}"
    for fn in public_functions(mod("streaming.jobs")):
        targets.setdefault(fn, "streaming.jobs")
    return targets


# ---------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------
@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int = 0
    stage_ids: tuple[int, ...] = ()


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    failed: bool
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    peak_memory: int = 0


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stage_submit_ms: dict[int, int] = field(default_factory=dict)
    completed_stages: set[int] = field(default_factory=set)
    tasks: list[Task] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)


def event_log_files(log_dir: str) -> list[str]:
    """Event files of the single application logged under ``log_dir``,
    in write order (rolling ``events_<n>_*`` parts, or one plain file)."""
    rolling = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolling:
        return sorted(rolling, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p) and not p.endswith(".crc")
    )


def parse_events(lines: Iterable[str]) -> EventLog:
    log = EventLog()
    jobs: dict[int, Job] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            job = Job(
                e["Job ID"],
                (e.get("Properties") or {}).get("spark.jobGroup.id"),
                e["Submission Time"],
                stage_ids=tuple(e.get("Stage IDs", ())),
            )
            jobs[job.job_id] = job
            log.jobs.append(job)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            log.stage_submit_ms[info["Stage ID"]] = info.get("Submission Time", 0)
        elif kind == "SparkListenerStageCompleted":
            log.completed_stages.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            ti = e["Task Info"]
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            log.tasks.append(
                Task(
                    e["Stage ID"],
                    ti["Launch Time"],
                    bool(ti.get("Failed") or ti.get("Killed")),
                    run_ms=m.get("Executor Run Time", 0),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    output_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    peak_memory=m.get("Peak Execution Memory", 0),
                )
            )
        elif kind.endswith("QueryProgressEvent"):
            log.progress.append(e["progress"])
    return log


def read_event_log(log_dir: str) -> EventLog:
    def lines():
        for path in event_log_files(log_dir):
            with open(path, encoding="utf-8") as f:
                yield from f

    return parse_events(lines())


def attribute_jobs(
    jobs: Sequence[Job], groups: dict[str, str], windows: Sequence[tuple[float, float, str]]
) -> dict[int, str]:
    """Map job id -> operation phase label.

    A job whose job group the benchmark set is attributed by its group
    (``groups`` maps group id to label). Any other job, such as a
    micro-batch of a streaming query, which runs under the query's own
    group, goes to the phase window (start s, end s, label) that
    contains its submission time. Jobs outside every window are not
    attributed."""
    out: dict[int, str] = {}
    for job in jobs:
        if job.group in groups:
            out[job.job_id] = groups[job.group]
            continue
        t = job.submit_ms / 1000.0
        for start, end, label in windows:
            if start <= t <= end:
                out[job.job_id] = label
                break
    return out


def jobs_in_spans(jobs: Sequence[Job], spans: Sequence[Span]) -> int:
    """Number of jobs submitted while one of ``spans`` was open."""
    bounds = [(s.start, s.end) for s in spans]
    return sum(any(a <= j.submit_ms / 1000.0 <= b for a, b in bounds) for j in jobs)


def spark_metrics(log: EventLog, jobs: Sequence[Job], wall_s: float, cores: int) -> dict[str, float]:
    """Scheduler and executor totals over ``jobs``."""
    stage_ids = {s for j in jobs for s in j.stage_ids}
    tasks = [t for t in log.tasks if t.stage_id in stage_ids]
    run_s = sum(t.run_ms for t in tasks) / 1e3
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stage_ids & log.completed_stages),
        "spark.tasks": len(tasks),
        "spark.job_s": sum(max(0, j.end_ms - j.submit_ms) for j in jobs) / 1e3,
        "spark.task_wait_s": sum(
            max(0, t.launch_ms - log.stage_submit_ms.get(t.stage_id, t.launch_ms)) for t in tasks
        )
        / 1e3,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "spark.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "spark.core_busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.input_bytes": sum(t.input_bytes for t in tasks),
        "spark.shuffle_read_bytes": sum(t.shuffle_read_bytes for t in tasks),
        "spark.shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "spark.output_bytes": sum(t.output_bytes for t in tasks),
        "spark.peak_exec_memory_bytes": max((t.peak_memory for t in tasks), default=0),
        "spark.failed_tasks": sum(t.failed for t in tasks),
    }


def progress_start(p: dict) -> float:
    """Epoch seconds at which a micro-batch's trigger started."""
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def streaming_metrics(progress: Sequence[dict], start: float, end: float) -> dict[str, float]:
    """Micro-batch totals over progress events whose batch started in
    [start, end] (epoch seconds)."""
    batches = [p for p in progress if start <= progress_start(p) <= end]
    dur = [p.get("durationMs", {}) for p in batches]
    trig = [d.get("triggerExecution", 0) for d in dur]
    return {
        "streaming.batches": len(batches),
        "streaming.batch_p50_ms": statistics.median(trig) if trig else 0.0,
        "streaming.add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
        "streaming.wal_commit_ms": sum(d.get("walCommit", 0) for d in dur),
        "streaming.query_planning_ms": sum(d.get("queryPlanning", 0) for d in dur),
        "streaming.rows_in": sum(src.get("numInputRows", 0) for p in batches for src in p.get("sources", ())),
    }
