"""Print the live registry counts README.md must quote.

README's headline counts drifted three rounds running because they
were hand-edited (VERDICT r14 item 5). This tool is the single source
of truth: it loads the registry exactly as the driver does and prints
the registered / oracle-backed counts; ``tests/test_docs.py`` asserts
README.md quotes these numbers verbatim, so a new query without a
README bump fails CI instead of shipping a stale banner.

Usage: python tools/registry_counts.py
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def counts() -> tuple[int, int]:
    from data_pipeline_postgres_spark.plans import registry

    registry.load_all()
    return len(registry.QUERIES), len(registry.ORACLES)


if __name__ == "__main__":
    n_q, n_o = counts()
    print(f"registered={n_q} oracle_backed={n_o} rows_only={n_q - n_o}")
