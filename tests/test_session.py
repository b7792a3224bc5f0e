"""``session.get_spark`` defaults."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from data_pipeline_postgres_spark.catalog import SMOKE_SF_DIR as SF

REPO = str(Path(__file__).resolve().parents[1])


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """A query whose Arrow kernel references package functions runs
    from a working directory that is not the checkout and with no
    PYTHONPATH: the session must put the package on the Python
    workers' path itself."""
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from data_pipeline_postgres_spark.plans import registry
from data_pipeline_postgres_spark.session import get_spark

registry.load_all()
spark = get_spark(app_name="cwd-test", master="local[2]", shuffle_partitions=2)
print(len(registry.QUERIES["docs_dup_spectrum"](spark, {SF!r}).collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["SPARK_GRAFT_SCRATCH"] = str(tmp_path / "scratch")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.split()[-1] == "9"


# Registered queries whose first pass at sf0.001 compiles more than
# Spark's default codegen cache of 100 classes. No streaming query and
# no stored-index builder: those may legitimately plan new code per call.
REPEAT_SET = (
    "material_demand",
    "join_asof",
    "tpch_q3_shipping_priority",
    "cdc_merge",
    "sim_topk",
    "emb_centroid_per_label",
    "text_textrank_keywords",
    "docs_dup_spectrum",
)


def test_second_pass_compiles_no_classes(tmp_path):
    """Running the same queries again in one session reuses every
    generated class: the codegen cache holds a pass's working set, so
    the second pass compiles nothing (at Spark's default size of 100,
    the second pass recompiled 121 of 131)."""
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from data_pipeline_postgres_spark.plans import registry
from data_pipeline_postgres_spark.session import codegen_compiles, get_spark

registry.load_all()
spark = get_spark(app_name="codegen-test", master="local[2]", shuffle_partitions=2)
for _ in range(2):
    before = codegen_compiles(spark)
    for name in {REPEAT_SET!r}:
        registry.QUERIES[name](spark, {SF!r}).write.format("noop").mode(
            "overwrite"
        ).save()
    print(codegen_compiles(spark) - before)
spark.stop()
"""
    env = dict(os.environ)
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["SPARK_GRAFT_SCRATCH"] = str(tmp_path / "scratch")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    first, second = (int(n) for n in out.stdout.split()[-2:])
    assert first > 100, f"first pass compiled only {first} classes"
    assert second == 0, (
        f"second pass recompiled {second} of the first pass's {first} classes"
    )
