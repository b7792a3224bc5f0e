"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``data_pipeline_postgres_spark``; this module
is a thin shim over its registry (plans/registry.py). Both mappings
follow ``registry.driver_order`` over the ``CORRECTNESS_r*.json``
records beside this file, so the sweep's window always holds the
red (hash mismatch, or the run raised), then the never-checked, then
the least recently checked queries.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_pipeline_postgres_spark.catalog import SMOKE_SF_DIR
from data_pipeline_postgres_spark.plans import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship material-demand query on /root/testdata/sf0.001
    (SURVEY.md §7)."""
    from data_pipeline_postgres_spark.plans.flagship import flagship

    return flagship(spark, SMOKE_SF_DIR)


def correctness_records() -> dict[int, dict]:
    """The driver's per-round correctness records, keyed by round."""
    root = os.path.dirname(os.path.abspath(__file__))
    out = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            with open(path) as f:
                out[int(m.group(1))] = json.load(f)
    return out


def _in_driver_order(d: dict) -> dict:
    registry.load_all()
    order = registry.driver_order(registry.QUERIES, correctness_records())
    return {name: d[name] for name in order if name in d}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _in_driver_order(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted for
    non-SQL-expressible ops → driver records rows-only checks)."""
    return _in_driver_order(registry.ORACLES)
