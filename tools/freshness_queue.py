"""Evidence-freshness queue: order the registry for the next driver
window.

The driver's correctness gate checks the FIRST 50 registered queries
each round (``_gate_order`` heads the registry with ``_GATE_PRIORITY``),
so registration order is evidence allocation.  This tool reads every
``CORRECTNESS_r*.json`` and prints, in priority order:

1. queries whose LATEST driver row is an error (must re-gate),
2. queries never driver-checked (conversions), in registration order,
3. ever-green queries stalest-first (freshness re-gates), ties broken
   by registration order.

Use it when rotating ``_GATE_PRIORITY`` at round start: take the head
of this list, drop names the round's code changes force elsewhere, and
paste.  Rounds 10+ have zero backlog, so the window is (re-gates for
this round's plan changes) + (this list's head).

Usage: python tools/freshness_queue.py [N]   # default 60 rows
"""

from __future__ import annotations

import glob
import json
import os
import sys


def main():
    n_show = int(sys.argv[1]) if len(sys.argv) > 1 else 60

    import _registry

    m = _registry.entry()
    names = list(m.queries())
    reg_pos = {n: i for i, n in enumerate(names)}
    rows_only = set(names) - set(m.oracle_sql())

    latest: dict[str, tuple[int, bool]] = {}
    for f in sorted(glob.glob(os.path.join(_registry.REPO, "CORRECTNESS_r*.json"))):
        rnd = int(f.rsplit("_r", 1)[1].split(".")[0])
        for q, rec in json.load(open(f)).items():
            # a documented rows-only query (no oracle_sql entry) gets
            # the driver's weaker check: it ran and produced rows
            # (rows_match is None and err is 'no_oracle' by
            # construction) — that IS its green state
            ok = bool(
                rec.get("hash_match")
                or (rec.get("rows_match") and rec.get("err") is None)
                or (q in rows_only and rec.get("spark_rows") is not None)
            )
            latest[q] = (rnd, ok)

    errors = [q for q in names if q in latest and not latest[q][1]]
    never = [q for q in names if q not in latest]
    green = sorted(
        (q for q in names if q in latest and latest[q][1]),
        key=lambda q: (latest[q][0], reg_pos[q]),
    )

    print(f"# registry {len(names)} | error-latest {len(errors)} | "
          f"never-checked {len(never)} | green {len(green)}")
    queue = (
        [(q, f"ERR r{latest[q][0]:02d}") for q in errors]
        + [(q, "never") for q in never]
        + [(q, f"r{latest[q][0]:02d}") for q in green]
    )
    for q, tag in queue[:n_show]:
        print(f"{tag:>8}  {q}")


if __name__ == "__main__":
    main()
