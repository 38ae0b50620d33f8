"""Print a normalized physical-plan digest for named registry queries.

Purpose: prove a change is PLAN-NEUTRAL — run this tool in two
checkouts (e.g. pre- and post-merge) and diff the output lines.

Normalization: expression ids (`#123`), `plan_id=N`, `id=#N`,
RDD numbers and call sites, `_common_expr_N` names, whole-stage
codegen ids (`[codegen id : N]`) and the application id in staging
paths (`os_gate_local-<n>`) differ run-to-run without changing the plan
shape, so they are masked before hashing.  Everything else — node order,
partitioning arguments, pushed filters, ReadSchema — stays verbatim.

Usage: python tools/plan_neutrality.py [sf_dir] query [query ...]
"""

from __future__ import annotations

import hashlib
import re
import sys


def normalize(plan: str) -> str:
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"\bid=#?\d+", "id=N", plan)
    # RDD numbers (MapPartitionsRDD[342], CachedRDD[17], ...) count
    # every RDD the session ever created, so they drift with unrelated
    # session history without changing the plan shape
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
    # and an RDD's call site (`... at localCheckpoint at
    # NativeMethodAccessorImpl.java:0`) reads `<unknown>:0` once the JVM
    # has replaced its reflective accessor, after enough earlier calls
    plan = re.sub(r"(RDD\[N\] at \S+) at \S+:\d+", r"\1", plan)
    # names of common subexpressions Spark factors out (nullif, ...)
    # come from a JVM-wide counter
    plan = re.sub(r"_common_expr_\d+", "_common_expr_N", plan)
    # the formatted plan of an already-executed AQE subtree (a cached
    # or checkpointed intermediate) numbers its codegen stages in stage
    # completion order, which varies between runs of one commit
    plan = re.sub(r"\[codegen id : \d+\]", "[codegen id : N]", plan)
    # the registry stages written tables under one directory per Spark
    # application (``os_gate_<applicationId>``, registry/common.py
    # ``_gate_tmp``): mask the application id, keep the rest of the path
    plan = re.sub(r"os_gate_[\w.-]+", "os_gate_N", plan)
    plan = re.sub(r"\blocal-\d+", "local-N", plan)
    return plan


def main():
    args = sys.argv[1:]
    if args and "/" in args[0]:
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.01", args
    if not names:
        sys.exit("usage: plan_neutrality.py [sf_dir] query [query ...]")

    import _registry

    qs = _registry.entry().queries()
    names = _registry.select(names, qs, ordered=True)
    from openseize_spark.session import get_spark

    spark = get_spark("plan-neutrality")
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        norm = normalize(plan)
        digest = hashlib.md5(norm.encode()).hexdigest()
        print(f"{name} {digest}")


if __name__ == "__main__":
    main()
