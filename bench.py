#!/usr/bin/env python
"""Benchmark harness: times registered queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec} (the worst 10), "n_queries": ..., "sf": ...}.
Per-query medians, spreads and codegen compile counts go to
BENCH_DETAIL.json.

    python bench.py              # every registered query; archives the
                                 # run as BENCH_DETAIL_r{N}_c{cpus}.json
    python bench.py name ...     # only the named queries; no archive

Each query is forced through a full materialization with the `noop`
sink (count() would let Catalyst prune the plan down to a row count —
noop executes every column of the physical plan).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time
from collections.abc import Iterable

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from data_pipeline_postgres_spark.catalog import load_table  # noqa: E402
from data_pipeline_postgres_spark.plans import registry  # noqa: E402
from data_pipeline_postgres_spark.session import (  # noqa: E402
    codegen_compiles,
    get_spark,
)


def round_override() -> int | None:
    """The archive round forced by ``SPARK_GRAFT_BENCH_ROUND``, or None
    when it is unset. Anything but a positive integer exits with a
    message naming the variable, before any query runs (a typo used
    to surface as a bare ValueError after the whole bench, and ``0``
    archived a round 0)."""
    raw = os.environ.get("SPARK_GRAFT_BENCH_ROUND")
    if not raw:
        return None
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n < 1:
        raise SystemExit(
            f"SPARK_GRAFT_BENCH_ROUND must be a positive integer, got {raw!r}"
        )
    return n


def archive_round(root: str, cpus: int) -> int:
    """1 + the newest driver record ``BENCH_r{N}[_c{cpus}].json`` in
    ``root`` benched on ``cpus`` cores, else 1 + the newest record of
    any core count. The driver benches one round at several core
    counts and writes each record after its run, so a scan that
    ignored ``cpus`` filed a round's 8-core run under the next round
    once the 32-core record had landed."""
    records = []
    for path in glob.glob(os.path.join(root, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)(?:_c\d+)?\.json$", path)
        if m:
            with open(path) as f:
                records.append((int(m.group(1)), json.load(f).get("cpus")))
    same = [n for n, c in records if c == cpus]
    return 1 + max(same or [n for n, _ in records] or [0])


def time_queries(
    spark, sf_dir: str, names: Iterable[str]
) -> tuple[dict[str, float], dict[str, float], dict[str, int]]:
    """Time each named query: one warm noop pass, then the MEDIAN of 3
    timed build + noop runs (best-of-N hides genuine slowdowns behind
    one lucky run). Returns ({name: median_s}, {name: max-min spread},
    {name: codegen classes compiled during the 3 timed runs}); a
    regression smaller than its spread is host noise, not a plan
    change, and a nonzero compile count is a query that recompiles on
    repeat (its own new code, or an evicted codegen cache)."""
    # Session-wide warmup (JVM, codegen, Arrow, parquet footer caches)
    # so the first timed query isn't charged for engine init.
    load_table(spark, sf_dir, "events").limit(1000).write.format(
        "noop"
    ).mode("overwrite").save()
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    compiles: dict[str, int] = {}
    for name in names:
        fn = registry.QUERIES[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs = []
        before = codegen_compiles(spark)
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        compiles[name] = codegen_compiles(spark) - before
        timings[name] = round(sorted(runs)[1], 3)
        spreads[name] = round(max(runs) - min(runs), 3)
    return timings, spreads, compiles


def archive_path(root: str, env_round: int | None) -> str:
    """Where a full run keeps its per-round copy (BENCH_DETAIL.json is
    gitignored and overwritten every run). Worked out before any query
    runs, so an unreadable driver record fails in seconds, not after
    the timing pass."""
    if os.environ.get("SPARK_GRAFT_BENCH_NO_ARCHIVE"):
        # local iteration run — don't claim the round's archive slot
        return os.path.join(root, "BENCH_DETAIL.local.json")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    this_round = env_round or archive_round(root, cpus)
    archive = os.path.join(root, f"BENCH_DETAIL_r{this_round:02d}_c{cpus}.json")
    if os.path.exists(archive):
        # never overwrite a cross-round record; park alongside instead
        archive = archive.replace(".json", ".local.json")
    return archive


def main(argv: list[str]) -> None:
    env_round = round_override()
    archive = None if argv else archive_path(ROOT, env_round)
    registry.load_all()
    unknown = [n for n in argv if n not in registry.QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    names = argv or list(registry.QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf) if sf.replace(".", "").isdigit() else sf

    spark = get_spark(app_name="bench")
    timings, spreads, compiles = time_queries(spark, sf_dir, names)

    total = round(sum(timings.values()), 3)
    # Per-query timings/spreads go to a sidecar file: with 100+
    # queries the full dict exceeds the driver's stdout tail buffer
    # and the final JSON line gets truncated mid-object (this lost the
    # official round-7 bench record).  stdout carries ONLY a compact
    # line (<1 KB) as the LAST line; the worst-10 queries ride along so
    # the record still names the hotspots.
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spreads,
        "codegen_compiles": compiles,
        "sf": sf,
    }
    with open(os.path.join(ROOT, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1)
    if archive:
        with open(archive, "w") as f:
            json.dump(detail, f, indent=1)
    worst = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": worst,
                "n_queries": len(timings),
                "detail": "BENCH_DETAIL.json",
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main(sys.argv[1:])
