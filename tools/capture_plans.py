"""Capture .explain('formatted') for named queries into text files —
the before/after plan evidence for optimization rounds.

Usage: python tools/capture_plans.py --root REPO_ROOT --out DIR \
       --suffix before [--sf DIR] name [name ...]

REPO_ROOT (default: this tool's own checkout) is prepended to
sys.path, so pointing it at a pristine checkout of an older commit
captures that commit's plans. Streaming queries execute their drain
on construction; their captured plan is the post-drain batch result's
(the only plan the driver's oracle sees).
"""

import argparse
import io
import os
import sys

p = argparse.ArgumentParser()
p.add_argument(
    "--root", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
p.add_argument("--out", required=True)
p.add_argument("--suffix", required=True)
p.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
p.add_argument("names", nargs="+")
a = p.parse_args()

sys.path.insert(0, a.root)

from data_pipeline_postgres_spark.plans import registry  # noqa: E402
from data_pipeline_postgres_spark.session import get_spark  # noqa: E402

spark = get_spark(app_name="capture-plans")
registry.load_all()
os.makedirs(a.out, exist_ok=True)

for name in a.names:
    try:
        df = registry.QUERIES[name](spark, a.sf)
        buf = io.StringIO()
        stdout, sys.stdout = sys.stdout, buf
        try:
            df.explain("formatted")
        finally:
            sys.stdout = stdout
        path = os.path.join(a.out, f"{name}_{a.suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"{name}: wrote {path}")
    except Exception as e:  # noqa: BLE001
        print(f"{name}: FAILED {type(e).__name__}: {e}")
