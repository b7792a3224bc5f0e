"""Differential driver: consume ``__spark_entry__`` the way the
correctness driver does and compare each query with its DuckDB oracle.

    python tools/drive.py [--sf DIR] [name ...]

Runs the ``entry()`` smoke check, then every named query (all queries
when none are named) at ``--sf`` (default: the driver's sf0.01
testdata, next to the smoke data; see TESTDATA.md). An
oracle-backed query is compared only by
``tests/oracle_util.assert_matches_oracle``: columns, Arrow type
families, DecimalType and null DATE/LTZ outputs, row count, values.
A rows-only query is counted. Each query runs in its own ``try``, so
one that raises does not end the sweep. Prints one line per query and
``FAILURES: ...``; exits 1 on any failure.

Works from any working directory: the repo root comes from this
file's path and is put on the Python workers' path. Never run two
drives, or a drive and ``bench.py``, at once: streaming queries share
the ``.scratch/`` directory.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as E  # noqa: E402
from data_pipeline_postgres_spark.catalog import SMOKE_SF_DIR  # noqa: E402
from tests.oracle_util import assert_matches_oracle, duck_connect  # noqa: E402

DEFAULT_SF = os.path.join(os.path.dirname(SMOKE_SF_DIR), "sf0.01")
QUERIES, ORACLES = E.queries(), E.oracle_sql()


def session():
    """A plain local session like the driver's, one heap for every sf."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("drive")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def drive(spark, sf_dir: str, names: list[str]) -> list[str]:
    """Check ``entry()`` and then ``names`` (all of ``QUERIES`` when
    empty) at ``sf_dir``; print one line each and return the failures."""
    con = duck_connect(sf_dir)
    fails = []
    for name in ["entry()", *(names or sorted(QUERIES))]:
        t0 = time.time()
        try:
            if name == "entry()":
                n = E.entry(spark).count()
                assert n > 0, "entry() returned no rows"
                note = f"smoke n={n}"
            elif name not in QUERIES:
                raise KeyError("unknown query")
            elif name in ORACLES:
                df = QUERIES[name](spark, sf_dir)
                assert_matches_oracle(df, con, ORACLES[name], name)
                note = "match"
            else:
                note = f"rows-only n={QUERIES[name](spark, sf_dir).count()}"
        except Exception as e:  # noqa: BLE001
            fails.append(name)
            note = f"FAIL {type(e).__name__}: {' '.join(str(e).split())[:500]}"
        print(f"{name}: {note} {time.time() - t0:.1f}s", flush=True)
    con.close()
    print("FAILURES:", " ".join(fails) or "none", flush=True)
    return fails


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", default=DEFAULT_SF, help="testdata sf dir")
    ap.add_argument("names", nargs="*", help="queries (default: all)")
    args = ap.parse_args()
    return 1 if drive(session(), args.sf, args.names) else 0


if __name__ == "__main__":
    sys.exit(main())
