"""Float-summation-order hazard audit over the oracle SQL corpus.

The r06 red row (`coherence`) was bit-exact locally but red in the
driver because its oracle computed ``round((avg(cre)*avg(cre) + ...) /
(avg(pa)*avg(pb)), 9)``: DuckDB does not pin the reduction order of a
parallel float ``avg``/``sum``, a 1-ulp reordering perturbs each
aggregate, and the ratio MULTIPLIES two of them before the round — so a
run-to-run reordering can flip an output cell across the rounding
boundary even though any single run is internally consistent.

This tool statically scans every ``oracle_sql()`` string for that
pattern so the class is caught before the gate runs.  For each
``round(expr, n)`` call it extracts ``expr`` and counts the float
aggregate calls (``avg``/``sum`` whose argument is not
integer-quantized — i.e. does not wrap the summand in
``floor(... + 0.5)`` with an integer cast, and is not a plain integer
column sum):

- HIGH  — ``expr`` combines TWO OR MORE float aggregates with ``*`` or
  ``/`` (or calls ``pow``/``exp``/``ln``/``sqrt`` on one): the
  amplification class that actually flipped ``coherence``.  These must
  be quantized (exact integer partial sums, one final division).
- INFO  — ``expr`` contains exactly one float aggregate, un-amplified
  (``round(avg(p), 12)``, the welch shape).  Order sensitivity exists
  but is 1-ulp on the rounded quantity itself; this shape has been
  driver-green since r03 and is accepted by precedent.  Listed so the
  count is visible, not a failure.

Integer-aggregate sums (``sum(CAST(... AS BIGINT))``, ``sum(cnt)`` over
count columns, ``floor(x*1e12+0.5)`` quantized units) are exact and
order-free — not flagged.

Usage: python tools/float_order_audit.py [--probe] [query ...]
Exit 1 if any HIGH site is found.

--probe additionally runs every INFO-flagged query's oracle 10 times
under varying DuckDB thread counts (1..31) and reports how many
distinct row-set hashes appear — the empirical check that the
accepted single-aggregate sites really do reduce deterministically at
the gate scale factor (they do: DuckDB only parallelizes the hash
aggregate when the input is large, and the event/document tables at
sf0.01 stay below that threshold; `coherence` flipped precisely
because its unnest-generated DFT intermediate is ~100x larger).
Exit 1 if any probed query is unstable.
"""

from __future__ import annotations

import re
import sys


def _matching_paren(s: str, open_idx: int) -> int:
    """Index of the ')' closing the '(' at open_idx, -1 if unbalanced."""
    depth = 0
    for i in range(open_idx, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    return -1


def _round_args(sql: str):
    """Yield (first-argument text, decimals) of every round(...) call."""
    for m in re.finditer(r"\bround\s*\(", sql, re.I):
        open_idx = m.end() - 1
        close = _matching_paren(sql, open_idx)
        if close < 0:
            continue
        body = sql[open_idx + 1 : close]
        # split off the trailing ", n" decimals argument at depth 0
        depth, cut = 0, len(body)
        for i in range(len(body) - 1, -1, -1):
            c = body[i]
            if c == ")":
                depth += 1
            elif c == "(":
                depth -= 1
            elif c == "," and depth == 0:
                cut = i
                break
        nd = body[cut + 1 :].strip() if cut < len(body) else ""
        try:
            n = int(nd)
        except ValueError:
            n = 0
        yield body[:cut], n


_AGG_RE = re.compile(r"\b(avg|sum)\s*\(", re.I)

_INT_COLUMN = re.compile(
    r"^\s*[\w.]*\b(n|cnt|count\w*|ones|hits|matches|flag|is_\w+|\w*_cnt|\w*_n|"
    r"\w*units|\w*_q|tf|k)\s*$",
    re.I,
)
_COUNT_DEF = re.compile(
    r"^\s*(count\s*\(|row_number|rank\b|dense_rank|CAST\s*\(.*AS\s+"
    r"(BIG|HUGE|SMALL|)INT(EGER)?\s*\)\s*$)",
    re.I | re.S,
)
# integer-returning SQL functions: a def built ONLY from these, int
# literals, bare columns, and +/- stays integer
_INT_FUNC_DEF = re.compile(
    r"^\s*(epoch_us|epoch_ms|epoch_ns|strlen|length|datediff|date_diff|"
    r"datepart|date_part|year|month|day|hour|floor|ceil)\s*\(",
    re.I,
)


def _is_int_cast(text: str) -> bool:
    """True if text contains CAST(... AS <integer type>) with balanced
    nesting (the naive [^()]* regex misses floor(...) inside the cast)."""
    for m in re.finditer(r"\bCAST\s*\(", text, re.I):
        close = _matching_paren(text, m.end() - 1)
        if close < 0:
            continue
        inner = text[m.end() : close]
        if re.search(r"AS\s+(BIG|HUGE|SMALL|)INT(EGER)?\s*$", inner, re.I):
            return True
    return False


def _alias_defs(sql: str) -> dict:
    """alias -> defining expression text, from '<expr> AS alias' sites.

    Heuristic: walk backwards from each 'AS name' to the nearest
    depth-0 ',' or SELECT.  Good enough to classify summand columns as
    exact-integer (CAST ... AS BIGINT/HUGEINT, count(*), row_number)."""
    defs = {}
    for m in re.finditer(r"\bAS\s+(\w+)\b", sql, re.I):
        name = m.group(1)
        end = m.start()
        depth, start = 0, 0
        for i in range(end - 1, -1, -1):
            c = sql[i]
            if c == ")":
                depth += 1
            elif c == "(":
                if depth == 0:
                    start = i + 1
                    break
                depth -= 1
            elif depth == 0 and c == ",":
                start = i + 1
                break
        expr = sql[start:end].strip()
        # keep the FIRST definition (CTE order); later reuse of a name
        # in an outer query usually re-selects the same column
        defs.setdefault(name.lower(), expr)
    return defs


def _summand_is_exact(arg: str, defs: dict) -> bool:
    """True if the aggregate's argument provably sums exact integers."""
    if re.search(r"floor\s*\(", arg, re.I) or _is_int_cast(arg):
        return True
    if _INT_COLUMN.match(arg):
        return True
    # bare (possibly qualified) column, or a product of bare columns:
    # exact iff every factor's defining expression is integer-typed
    factors = [f.strip() for f in re.split(r"[*+-]", arg)]
    if factors and all(re.fullmatch(r"[\w.]+", f) for f in factors):
        if all(_col_is_int(f.split(".")[-1].lower(), defs, 0) for f in factors):
            return True
    return False


def _col_is_int(col: str, defs: dict, depth: int) -> bool:
    """True if alias `col` provably carries integer values (recursive:
    'c AS x' chains resolve through up to 4 hops, and an expression made
    only of int-returning functions / int sub-columns joined by +/-
    stays integer)."""
    if depth > 4:
        return False
    if _INT_COLUMN.match(col):
        return True
    d = defs.get(col)
    if d is None:
        return False
    if _COUNT_DEF.match(d) or _is_int_cast(d) or re.search(r"floor\s*\(", d, re.I):
        return True
    # pure rename: 'other AS col'
    if re.fullmatch(r"[\w.]+", d):
        return _col_is_int(d.split(".")[-1].lower(), defs, depth + 1)
    # difference/sum of int-returning function calls, e.g.
    # epoch_us(lead(ts) OVER (...)) - epoch_us(ts)
    parts, buf, pdepth = [], "", 0
    for c in d:
        if c == "(":
            pdepth += 1
        elif c == ")":
            pdepth -= 1
        if c in "+-" and pdepth == 0:
            parts.append(buf)
            buf = ""
        else:
            buf += c
    parts.append(buf)
    def part_int(p: str) -> bool:
        p = p.strip()
        if not p:
            return True
        if re.fullmatch(r"\d+", p):
            return True
        if re.fullmatch(r"[\w.]+", p):
            return _col_is_int(p.split(".")[-1].lower(), defs, depth + 1)
        return bool(_INT_FUNC_DEF.match(p)) or _is_int_cast(p)
    return len(parts) >= 1 and all(part_int(p) for p in parts)


def _float_aggs(expr: str, defs: dict) -> list[str]:
    """Aggregate-call argument texts inside expr that sum FLOATS."""
    out = []
    for m in _AGG_RE.finditer(expr):
        open_idx = m.end() - 1
        close = _matching_paren(expr, open_idx)
        if close < 0:
            continue
        arg = expr[open_idx + 1 : close].strip()
        if _summand_is_exact(arg, defs):
            continue
        out.append(arg)
    return out


_AMPLIFIER = re.compile(r"[*/]|\b(pow|power|exp|ln|log|sqrt)\s*\(", re.I)


def audit_one(name: str, sql: str) -> list[tuple[str, str, str]]:
    """-> [(severity, name, snippet)] for each hazardous round() site."""
    findings = []
    defs = _alias_defs(sql)
    for expr, nd in _round_args(sql):
        aggs = _float_aggs(expr, defs)
        if not aggs:
            continue
        snippet = " ".join(expr.split())
        if len(snippet) > 110:
            snippet = snippet[:107] + "..."
        snippet = f"[round@{nd}] {snippet}"
        if len(aggs) >= 2 and _AMPLIFIER.search(expr):
            findings.append(("HIGH", name, snippet))
        elif _AMPLIFIER.search(expr) and re.search(
            r"\b(pow|power|exp|sqrt)\s*\(", expr, re.I
        ):
            findings.append(("HIGH", name, snippet))
        else:
            findings.append(("INFO", name, snippet))
    return findings


def _probe(names, oracles, sf_dir="/root/testdata/sf0.01") -> int:
    """Run each query's oracle under varying DuckDB thread counts and
    count distinct sorted-row-set hashes — 1 means the reduction order
    is stable at this scale factor."""
    import hashlib

    import _registry

    unstable = 0
    for name in sorted(names):
        hashes = set()
        for i in range(10):
            con = _registry.duckdb_views(sf_dir)
            con.execute(f"SET threads TO {1 + (i * 3) % 32}")
            try:
                rows = con.execute(oracles[name]).fetchall()
            except Exception as ex:
                print(f"PROBE {name}: ERR {str(ex)[:70]}")
                hashes = {"err"}
                con.close()
                break
            rows.sort(key=lambda r: tuple(str(x) for x in r))
            hashes.add(hashlib.md5(repr(rows).encode()).hexdigest())
            con.close()
        stable = len(hashes) == 1
        print(
            f"PROBE {name}: {len(hashes)} distinct hash(es) over 10 "
            f"thread-varied runs -> {'stable' if stable else 'UNSTABLE'}"
        )
        unstable += 0 if stable else 1
    return unstable


def main() -> int:
    import _registry

    entrymod = _registry.entry()
    args = sys.argv[1:]
    do_probe = "--probe" in args
    oracles = entrymod.oracle_sql()
    names = _registry.select([a for a in args if a != "--probe"], entrymod.queries())
    high, info = [], []
    for name in sorted(set(names) & set(oracles)):
        for sev, n, snip in audit_one(name, oracles[name]):
            (high if sev == "HIGH" else info).append((n, snip))

    for n, snip in info:
        print(f"INFO  {n}: round(<1 float agg>) — welch-class, accepted: {snip}")
    print()
    for n, snip in high:
        print(f"HIGH  {n}: amplified float-agg round — QUANTIZE: {snip}")
    print(
        f"\n{len(info)} info (single-agg, precedent-green), "
        f"{len(high)} HIGH (must fix)"
    )
    unstable = 0
    if do_probe:
        print()
        unstable = _probe({n for n, _ in info}, oracles)
    return 1 if (high or unstable) else 0


if __name__ == "__main__":
    raise SystemExit(main())
