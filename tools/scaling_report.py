"""Regenerate SCALING.md: per-query wall-clock at sf0.01 vs sf0.1
(10× the data) and the growth ratio — direct evidence for the
"would this survive a scale-up" question. A query whose time grows
faster than the data is super-linear somewhere (pair blow-up,
unpartitioned window, driver funnel) and gets flagged; ratios well
below 10× mean the sf0.1 run is still overhead-bound (session/stage
fixed costs), i.e. there is headroom before data cost dominates.

Every registered query is timed with bench.py's own loop
(`bench.time_queries`: warm pass, then median of 3).

Usage: python tools/scaling_report.py   (writes SCALING.md at the repo root)
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from data_pipeline_postgres_spark.plans import registry  # noqa: E402
from data_pipeline_postgres_spark.session import get_spark  # noqa: E402

SMALL = "/root/testdata/sf0.01"
BIG = "/root/testdata/sf0.1"
DATA_RATIO = 10.0
# wall-ratio above this flags a query as super-linear in practice
# (2× the data growth leaves room for shuffle-constant noise)
FLAG_AT = 2.0 * DATA_RATIO


def main() -> None:
    spark = get_spark(app_name="scaling")
    registry.load_all()
    rows = []
    for name in registry.QUERIES:
        # both scales back to back, so JVM warm-up over the session
        # charges neither side more than the other
        t_small = bench.time_queries(spark, SMALL, [name])[0][name]
        t_big = bench.time_queries(spark, BIG, [name])[0][name]
        ratio = t_big / t_small if t_small > 0 else float("inf")
        rows.append((name, t_small, t_big, ratio))
        print(f"{name}: {t_small:.2f}s -> {t_big:.2f}s ({ratio:.1f}x)")

    flagged = [r for r in rows if r[3] > FLAG_AT]
    lines = [
        "# SCALING — wall-clock growth under 10× data",
        "",
        "Generated by `tools/scaling_report.py`: every registered query",
        "timed with bench.py's protocol (warm pass, then median of 3) at",
        f"sf0.01 and sf0.1 ({int(DATA_RATIO)}× the rows). Reading the",
        "ratio: ≈10× → data-cost-dominated and",
        "linear; well under 10× → still overhead-bound at this scale",
        f"(headroom); over {FLAG_AT:.0f}× → super-linear suspect, investigate",
        "the plan. Stored-index queries (minhash-incremental, IVF-PQ,",
        "PageRank) measure their standing per-run cost — index builds",
        "are one-time ingest work by design.",
        "",
        f"**Flagged super-linear: {len(flagged)}**"
        + (
            " — " + ", ".join(f"`{r[0]}`" for r in flagged)
            if flagged
            else ""
        ),
        "",
        "| query | sf0.01 s | sf0.1 s | wall ratio |",
        "|---|---|---|---|",
    ]
    for name, ts, tb, ratio in sorted(rows, key=lambda r: -r[3]):
        mark = " ⚠" if ratio > FLAG_AT else ""
        lines.append(f"| `{name}` | {ts:.2f} | {tb:.2f} | {ratio:.1f}×{mark} |")
    with open(os.path.join(ROOT, "SCALING.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote SCALING.md ({len(rows)} queries, {len(flagged)} flagged)")


if __name__ == "__main__":
    main()
