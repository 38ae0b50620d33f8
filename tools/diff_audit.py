"""Bit-level float divergence audit: for every oracled query, sort both
result sets and report how many float cells differ AT ALL (bit level) and
the max absolute difference — exposes summation-order/libm noise that a
rounded hash tolerates but a stricter driver hash might not.

Usage: python tools/diff_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time


def norm_key(x):
    if x is None:
        return "NULL"
    if isinstance(x, float):
        if math.isnan(x):
            return "NaN"
        return f"{x:.9g}"
    return str(x)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import _registry

    entrymod = _registry.entry()
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = _registry.select(sys.argv[2:], qs)
    from openseize_spark.session import get_spark

    spark = get_spark("diff-audit")
    con = _registry.duckdb_views(sf_dir)
    flagged = []
    for name in names:
        if name not in oracles:
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"{name}: ERROR {e}")
            flagged.append(name)
            continue
        if len(srows) != len(orows) or sorted(scols) != sorted(ocols):
            print(f"{name}: SHAPE MISMATCH")
            flagged.append(name)
            continue
        so = sorted(range(len(scols)), key=lambda i: scols[i])
        oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
        ss = sorted(srows, key=lambda r: tuple(norm_key(r[i]) for i in so))
        os_ = sorted(orows, key=lambda r: tuple(norm_key(r[i]) for i in oo))
        nfloat = ndiff = 0
        maxd = 0.0
        exact_mismatch = 0
        for a, b in zip(ss, os_):
            for i, j in zip(so, oo):
                x, y = a[i], b[j]
                if isinstance(x, float) or isinstance(y, float):
                    nfloat += 1
                    fx, fy = float(x), float(y)
                    if fx != fy and not (math.isnan(fx) and math.isnan(fy)):
                        ndiff += 1
                        maxd = max(maxd, abs(fx - fy))
                else:
                    if str(x) != str(y):
                        exact_mismatch += 1
        tag = "BITEXACT" if ndiff == 0 and exact_mismatch == 0 else "DIFFS"
        if tag == "DIFFS":
            flagged.append(name)
        print(
            f"{name}: {tag} floats={nfloat} bitdiff={ndiff} "
            f"maxabs={maxd:.3g} nonfloat_mismatch={exact_mismatch} "
            f"({time.time()-t0:.1f}s)"
        )

    print()
    print("flagged:", flagged)


if __name__ == "__main__":
    main()
