"""Solo re-time named queries and fold the clean medians into a bench
archive (round-11 verdict item 3).

`tools/bench_compare.py` excludes a query from cross-round comparison
when either side's recorded spread exceeds the measured time itself —
the record cannot distinguish plan change from host noise (r10 saw a
32 s spread on a 3 s query, from co-running work). This tool re-times
the named queries ALONE — no other queries sharing the JVM, no
concurrent drive — with bench.py's own loop (`bench.time_queries`: one
warm pass, then median of 3 timed noop-sink runs, spread = max-min),
so a folded row is measured under its archive's protocol, and rewrites
just those rows of the target archive, recording the repair in a
``repairs`` key so the provenance of every folded number is explicit.

Run it solo: never concurrently with bench.py or tools/drive.py
(shared .scratch/ and CPU contention are exactly the noise this
removes).

Usage: python tools/retime.py --into BENCH_DETAIL_r11.json name [...]
       [--sf DIR]
"""

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from data_pipeline_postgres_spark.plans import registry  # noqa: E402
from data_pipeline_postgres_spark.session import get_spark  # noqa: E402

p = argparse.ArgumentParser()
p.add_argument("--into", required=True)
p.add_argument(
    "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
)
p.add_argument("names", nargs="+")
a = p.parse_args()

registry.load_all()
unknown = [n for n in a.names if n not in registry.QUERIES]
if unknown:
    sys.exit(f"unknown queries: {unknown}")

spark = get_spark(app_name="retime")
timings, spreads, compiles = bench.time_queries(spark, a.sf, a.names)
for name in a.names:
    print(f"{name}: median {timings[name]}s spread {spreads[name]}s")

path = os.path.join(ROOT, a.into)
with open(path) as f:
    detail = json.load(f)
detail["queries"].update(timings)
detail.setdefault("spread", {}).update(spreads)
detail.setdefault("codegen_compiles", {}).update(compiles)
detail["value"] = round(sum(detail["queries"].values()), 3)
repairs = detail.setdefault("repairs", {})
for name in a.names:
    repairs[name] = {
        "how": "solo median-of-3 retime (tools/retime.py)",
        "why": "recorded spread exceeded measured time; "
               "bench_compare excluded the row as UNRELIABLE",
    }
with open(path, "w") as f:
    json.dump(detail, f, indent=1)
print(f"folded {len(a.names)} rows into {a.into}; new total {detail['value']}s")
