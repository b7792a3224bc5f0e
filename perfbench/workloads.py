"""The benchmark's workloads and the inputs a seed generates for them.

A workload is a fixed set of operations over the benchmark lake
(``lake/``). The seed chooses only what the engine receives as input:
the order of the queries, and for ``daily_etl`` which earlier day is
re-run as a backfill. Every seed therefore times the same amount of
work, and the spread between seeds is the engine's.

Each workload is run as a closed loop with one client: an operation is
issued only after the previous one has completed.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

# Execution-heavy read-only queries: the flagship aggregate, an as-of
# join, a TPC-H join/aggregate and the CDC merge (a latest-per-key
# window and a merge), each a few large Spark jobs; then build-heavy
# ones, many small Spark jobs run while the DataFrame is built:
# similarity top-k, per-label embedding centroids and TextRank keywords
# (PageRank over a word graph).
RELATIONAL = (
    "material_demand",
    "join_asof",
    "tpch_q3_shipping_priority",
    "cdc_merge",
    "sim_topk",
    "emb_centroid_per_label",
    "text_textrank_keywords",
)

# The daily run's downstream jobs: a registry streaming query drained
# with AvailableNow, incremental dedup over a stored index, and the
# corpus duplication spectrum (exact repeated token spans).
DOWNSTREAM = (
    "stream_tumbling_daily",
    "dedup_minhash_incremental",
    "docs_dup_spectrum",
)

EVENT_DAY0 = dt.date(2024, 1, 1)
EVENT_DAYS = tuple(str(EVENT_DAY0 + dt.timedelta(days=i)) for i in range(30))
# Days one daily_etl pass runs through the day pipeline, in order.
PASS_DAYS = EVENT_DAYS[:3]
N_BACKFILL = 1

WORKLOADS = ("relational_sf01", "daily_etl")

# Wall time of one warm pass of each workload on 4 cores, in seconds.
# A run times a fixed number of passes, ``timed_passes``, derived from
# these constants and not from the speed of the code under test, so
# that the sample count and with it the tail percentile are the same
# for every commit compared.
NOMINAL_PASS_S = {"relational_sf01": 10.0, "daily_etl": 15.0}

# Untimed warm passes before the timed ones. Each relational query runs
# once per pass, and its second run was still 10-20% slower than its
# third (JIT compilation); a timed first pass after one warm pass spread
# twice as widely between runs as a second one. The daily pass repeats
# its day operations and showed no such difference.
WARM_PASSES = {"relational_sf01": 2, "daily_etl": 1}


def timed_passes(workload: str, seconds: float) -> int:
    """Number of timed passes that fill about ``seconds`` on the
    reference machine; at least one."""
    return max(1, round(seconds / NOMINAL_PASS_S[workload]))


@dataclass(frozen=True)
class Op:
    """One timed operation.

    ``kind`` is ``query`` (a registry query, materialized through the
    ``noop`` sink), ``day`` (extract then transform one day),
    ``load`` (warehouse load plus a count) or ``catchup`` (streaming
    transform drained with ``AvailableNow``)."""

    kind: str
    arg: str = ""

    @property
    def name(self) -> str:
        return f"{self.kind}:{self.arg}" if self.arg else self.kind


@dataclass(frozen=True)
class Inputs:
    """One pass of a workload: ``ops`` in order, and the untimed
    ``warm`` ops run once before timing starts."""

    workload: str
    seed: int
    ops: tuple[Op, ...]
    warm: tuple[Op, ...]
    backfill: tuple[str, ...] = ()

    @property
    def days(self) -> tuple[str, ...]:
        """Distinct days the pass runs through the day pipeline."""
        return tuple(sorted({op.arg for op in self.ops if op.kind == "day"}))


def make_inputs(workload: str, seed: int) -> Inputs:
    """The operation sequence of one pass of ``workload`` for ``seed``."""
    rng = random.Random(f"{workload}/{seed}")

    def queries(names: tuple[str, ...]) -> tuple[Op, ...]:
        out = list(names)
        rng.shuffle(out)
        return tuple(Op("query", n) for n in out)

    if workload == "relational_sf01":
        ops = queries(RELATIONAL)
        return Inputs(workload, seed, ops, ops)
    if workload == "daily_etl":
        backfill = tuple(sorted(rng.sample(PASS_DAYS[:-1], N_BACKFILL)))
        downstream = queries(DOWNSTREAM)
        ops = tuple(Op("day", ds) for ds in PASS_DAYS + backfill)
        ops += (Op("load"), Op("catchup")) + downstream
        warm = (Op("day", PASS_DAYS[0]), Op("load"), Op("catchup")) + downstream
        return Inputs(workload, seed, ops, warm, backfill)
    raise ValueError(f"unknown workload {workload!r}; known: {WORKLOADS}")
