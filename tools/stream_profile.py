"""Profile streaming fixed cost per stream (r16 item 3, guide SS1):
attach a StreamingQueryListener to capture each micro-batch's
durationMs breakdown (addBatch, walCommit, queryPlanning, ...), time
each stream job end-to-end, and report where the ~2 s goes.

Usage: python tools/stream_profile.py [name ...]
(default: every registered ``stream_*`` query). Run SOLO (never with
bench/drive).
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming import StreamingQueryListener

from data_pipeline_postgres_spark.plans import registry
from data_pipeline_postgres_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

spark = get_spark(app_name="stream-profile")
spark.sparkContext.setLogLevel("ERROR")
registry.load_all()

progress = []


class L(StreamingQueryListener):
    def onQueryStarted(self, event):
        progress.append(("start", time.perf_counter(), None))

    def onQueryProgress(self, event):
        p = event.progress
        progress.append(
            ("batch", time.perf_counter(), {
                "batchId": p.batchId,
                "durationMs": dict(p.durationMs),
                "numInputRows": p.numInputRows,
            })
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        progress.append(("end", time.perf_counter(), None))


spark.streams.addListener(L())

NAMES = sys.argv[1:] or [n for n in registry.QUERIES if n.startswith("stream_")]

for name in NAMES:
    fn = registry.QUERIES[name]
    # warm pass
    fn(spark, SF).write.format("noop").mode("overwrite").save()
    progress.clear()
    t0 = time.perf_counter()
    df = fn(spark, SF)
    t_built = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t1 = time.perf_counter()
    # listener events are async; give them a beat
    time.sleep(0.5)
    evs = list(progress)
    batches = [e for e in evs if e[0] == "batch"]
    starts = [e for e in evs if e[0] == "start"]
    total_batch_ms = sum(
        b[2]["durationMs"].get("triggerExecution", 0) for b in batches
    )
    agg = {}
    for b in batches:
        for k, v in b[2]["durationMs"].items():
            agg[k] = agg.get(k, 0) + v
    print(f"\n=== {name}: total={t1-t0:.2f}s build+drain={t_built-t0:.2f}s "
          f"final_action={t1-t_built:.2f}s n_batches={len(batches)} "
          f"sum_trigger={total_batch_ms/1000:.2f}s")
    print("   durationMs sums:", json.dumps(agg))
    if starts and batches:
        first_rel = batches[0][1] - t0
        print(f"   first batch ended at +{first_rel:.2f}s after build start")
