"""Generate PLANS.md: the formatted physical plan of every bench
headline query at sf0.01, annotated with the scan-hygiene facts that
matter at 100 TB — ReadSchema width vs table width (column pruning),
PushedFilters (predicate pushdown), exchange count (shuffles), and
broadcast joins.

The point: `.explain("formatted")` is the feedback loop the engine was
tuned against; committing the output makes the plan shapes reviewable
and diffable instead of anecdotal.

Usage: python tools/plan_report.py [sf_dir] [out_md]
"""

from __future__ import annotations

import re
import sys


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"

    import _registry
    import bench
    from openseize_spark.session import get_spark

    qs = _registry.entry().queries()
    spark = get_spark("plan-report")

    sections = []
    summary = []
    for name in bench.HEADLINE:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # formatted explain prints each node once in the tree and once
        # in the details ("(N) NodeName" + "Arguments: ..."); count the
        # numbered details headers so nodes are counted exactly once,
        # and read the partitioning kind from the Arguments lines
        n_shuffle = len(re.findall(r"\(\d+\) Exchange\b", plan))
        n_bcast = len(re.findall(r"\(\d+\) BroadcastExchange\b", plan))
        n_exchange = n_shuffle + n_bcast
        n_single = len(re.findall(r"Arguments: SinglePartition", plan))
        n_scan = len(re.findall(r"\(\d+\) Scan parquet", plan))
        pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
        n_hash = len(re.findall(r"Arguments: hashpartitioning", plan))
        summary.append(
            f"| `{name}` | {n_scan} | {pushed} | {n_exchange} | "
            f"{n_bcast} | {n_hash} | {n_single} |"
        )
        sections.append(f"## {name}\n\n```\n{plan.rstrip()}\n```\n")

    with open(out_path, "w") as f:
        f.write(
            "# Physical plans — bench headline queries\n\n"
            f"Generated by `tools/plan_report.py` at `{sf_dir}`.  The\n"
            "summary counts are the scale-relevant plan facts: parquet\n"
            "scans (each with pruned ReadSchema), scans with non-empty\n"
            "PushedFilters, total exchanges (shuffle + broadcast),\n"
            "broadcast exchanges among them, hash-partitioning\n"
            "shuffles among the rest, and SinglePartition exchanges\n"
            "(the scale killer — only tolerated for one-row/bounded\n"
            "aggregates; the counts are pre-AQE initial plans, AQE\n"
            "further converts eligible shuffle joins to broadcast and\n"
            "coalesces shuffle partitions at runtime).\n\n"
            "| query | scans | pushed | exchanges | broadcast | "
            "hash-shuffle | single-part |\n"
            "|---|---|---|---|---|---|---|\n"
            + "\n".join(summary)
            + "\n\n"
            + "\n".join(sections)
        )
    print(f"wrote {out_path} ({len(bench.HEADLINE)} plans)")


if __name__ == "__main__":
    main()
