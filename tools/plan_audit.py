"""Physical-plan audit: flag scale-weak shapes across the query surface.

For every registered query, builds the DataFrame and scans the executed
plan string for shapes that break at 100 TB:

- ``Exchange SinglePartition`` feeding a Window/Sort — a global window
  funneling all data rows through one task.  The same exchange feeding a
  *final aggregate* is NOT flagged: scalar ``df.agg(...)`` plans as
  partial-agg -> SinglePartition exchange of one partial row per
  partition -> final agg, which moves bytes, not data.
- ``CartesianProduct`` — an unbucketed all-pairs join.  Broadcast
  nested-loop joins against literal/tiny sides are NOT flagged.

Also prints the exchange census per query so shuffle-count regressions
are visible in review diffs.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
Exit 1 if any query is flagged.
"""

from __future__ import annotations

import re
import sys


_AGG_OPS = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")


def _indent(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-*("))


def _single_partition_data_consumers(plan: str) -> list[str]:
    """Operator names that consume a SinglePartition exchange's output,
    excluding final aggregates (whose exchanged rows are per-partition
    partials, not data)."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        my = _indent(line)
        parent = next(
            (
                lines[j].strip()
                for j in range(i - 1, -1, -1)
                if lines[j].strip() and _indent(lines[j]) < my
            ),
            "",
        )
        if not any(op in parent for op in _AGG_OPS):
            out.append(parent.split("(")[0].strip("*+- ") or "<root>")
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import _registry

    qs = _registry.entry().queries()
    names = _registry.select(sys.argv[2:], qs)
    from openseize_spark.session import get_spark

    spark = get_spark("plan-audit")
    flagged = []
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:
            print(f"FLAG  {name}: plan build failed: {e}")
            flagged.append(name)
            continue
        exchanges = re.findall(r"Exchange (\w+)", plan)
        problems = []
        for bad_parent in _single_partition_data_consumers(plan):
            problems.append(f"Exchange SinglePartition -> {bad_parent}")
        if "CartesianProduct" in plan:
            problems.append("CartesianProduct")
        census = ",".join(
            f"{kind}x{exchanges.count(kind)}" for kind in sorted(set(exchanges))
        )
        if problems:
            print(f"FLAG  {name}: {'; '.join(problems)} [{census}]")
            flagged.append(name)
        else:
            print(f"ok    {name} [{census}]")

    print()
    if flagged:
        print(f"{len(flagged)} FLAGGED: {flagged}")
        sys.exit(1)
    print("no scale-weak plan shapes")


if __name__ == "__main__":
    main()
