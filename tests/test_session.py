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
