"""Driver-facing registry: every implemented operator from SURVEY.md §2
as a ``(spark, sf_dir) -> DataFrame`` callable plus (where expressible)
a DuckDB-runnable ANSI-SQL oracle string.

Conventions (driver contract, __spark_entry__.py):
- Keys are the stable SURVEY §2 IDs.
- Every computed column is aliased IDENTICALLY in the Spark plan and
  the oracle SQL (the driver sorts columns by name before hashing).
- Exact-arithmetic policy: 2-decimal measures are summed as
  DECIMAL(18,2) then cast to double on BOTH sides, so value hashes are
  bit-stable regardless of partial-agg ordering (SURVEY.md §5).
- Non-SQL-expressible ops (spark.ml LSH, stateful streaming) have no
  oracle entry → the driver records a rows-only check.

``QUERIES`` is the one query list: it keeps registration order, the
bench times all of it, and the driver's correctness window is derived
from it by ``driver_order`` over the driver's own records.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query implementation and optionally its SQL oracle.

    This is the only writer of ``QUERIES`` and ``ORACLES``. A name that
    is already registered raises, so a duplicated declaration fails at
    import instead of silently replacing the first one."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def driver_order(
    names: Iterable[str], records: Mapping[int, Mapping[str, Mapping]]
) -> list[str]:
    """Order ``names`` for the driver's correctness sweep, which checks
    only the first entries of ``queries()``.

    ``records`` maps a round to that round's ``CORRECTNESS_r{N}.json``
    ({name: {"hash_match": ..., "err": ...}}). A query's newest record
    decides its place: red first, then never-recorded, then the rest by
    ascending round of the newest record. Ties keep the order of
    ``names``. A record is red when ``hash_match`` is false or when the
    run raised (``err`` holds a traceback, ``hash_match`` is null); a
    rows-only record (``err`` "no_oracle", null hash) is not red.
    """
    newest: dict[str, tuple[int, Mapping]] = {}
    for rnd in sorted(records):
        for name, rec in records[rnd].items():
            newest[name] = (rnd, rec)

    def red(rec: Mapping) -> bool:
        return rec.get("hash_match") is False or rec.get("err") not in (
            None,
            "no_oracle",
        )

    def rank(name: str) -> tuple[int, int]:
        if name not in newest:
            return (1, 0)
        rnd, rec = newest[name]
        return (0, 0) if red(rec) else (2, rnd)

    return sorted(names, key=rank)


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from . import queries_commerce  # noqa: F401
    from . import queries_curation  # noqa: F401
    from . import queries_dedup  # noqa: F401
    from . import queries_events  # noqa: F401
    from . import queries_graph  # noqa: F401
    from . import queries_io  # noqa: F401
    from . import queries_relational  # noqa: F401
    from . import queries_search  # noqa: F401
    from . import queries_streaming  # noqa: F401
    from . import queries_text  # noqa: F401
    from . import queries_tpch  # noqa: F401
