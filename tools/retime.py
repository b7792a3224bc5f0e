"""Solo re-time named queries and fold the clean medians into a bench
archive (round-11 verdict item 3).

`tools/bench_compare.py` excludes a query from cross-round comparison
when either side's recorded spread exceeds the measured time itself —
the record cannot distinguish plan change from host noise (r10 saw a
32 s spread on a 3 s query, from co-running work). This tool re-times
the named queries ALONE — no other queries sharing the JVM, no
concurrent drive — with bench.py's exact protocol (one warm pass, then
median of N timed noop-sink runs, spread = max-min), and rewrites just
those rows of the target archive, recording the repair in a
``repairs`` key so the provenance of every folded number is explicit.

Run it solo: never concurrently with bench.py or tools/drive.py
(shared .scratch/ and CPU contention are exactly the noise this
removes).

Usage: python tools/retime.py --into BENCH_DETAIL_r11.json name [...]
       [--runs 5]  [--sf DIR]
"""

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

args = sys.argv[1:]
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = 5
into = None
names = []
i = 0
while i < len(args):
    if args[i] == "--into":
        into = args[i + 1]
        i += 2
    elif args[i] == "--runs":
        RUNS = int(args[i + 1])
        i += 2
    elif args[i] == "--sf":
        SF = args[i + 1]
        i += 2
    else:
        names.append(args[i])
        i += 1
if not into or not names:
    sys.exit(__doc__)

from data_pipeline_postgres_spark.catalog import load_table  # noqa: E402
from data_pipeline_postgres_spark.plans import registry  # noqa: E402
from data_pipeline_postgres_spark.session import get_spark  # noqa: E402

spark = get_spark(app_name="retime")
registry.load_all()
unknown = [n for n in names if n not in registry.QUERIES]
if unknown:
    sys.exit(f"unknown queries: {unknown}")

# same session-wide warmup as bench.py
load_table(spark, SF, "events").limit(1000).write.format("noop").mode(
    "overwrite"
).save()

timings, spreads = {}, {}
for name in names:
    df = registry.QUERIES[name](spark, SF)
    df.write.format("noop").mode("overwrite").save()  # warm
    runs = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        df2 = registry.QUERIES[name](spark, SF)
        df2.write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    timings[name] = round(sorted(runs)[len(runs) // 2], 3)
    spreads[name] = round(max(runs) - min(runs), 3)
    print(f"{name}: median {timings[name]}s spread {spreads[name]}s "
          f"(runs: {[round(r, 2) for r in runs]})")

root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
path = os.path.join(root, into)
with open(path) as f:
    detail = json.load(f)
for name in names:
    detail["queries"][name] = timings[name]
    detail.setdefault("spread", {})[name] = spreads[name]
detail["value"] = round(sum(detail["queries"].values()), 3)
repairs = detail.setdefault("repairs", {})
for name in names:
    repairs[name] = {
        "how": f"solo median-of-{RUNS} retime (tools/retime.py)",
        "why": "recorded spread exceeded measured time; "
               "bench_compare excluded the row as UNRELIABLE",
    }
with open(path, "w") as f:
    json.dump(detail, f, indent=1)
print(f"folded {len(names)} rows into {into}; new total {detail['value']}s")
