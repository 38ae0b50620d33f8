"""One registration per query.

Each registry module (one per domain, listed in ``DOMAINS``) defines a
query's builder and, next to it, calls ``register`` with the builder's
DuckDB oracle.  ``register`` applies the gate casts and the canonical
order once, to both engines.  ``__spark_entry__.queries()`` /
``oracle_sql()`` read the registrations through ``builders()`` /
``oracle_texts()``.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import functions as F

DOMAINS = (
    "relational", "dsp", "text", "dedup", "graph",
    "similarity", "sampling", "stats", "streaming", "multimodal",
)

_BUILDERS: dict[str, tuple[str, Callable]] = {}  # name -> (module, builder)
_ORACLES: dict[str, tuple] = {}


def register(name: str, build: Callable, oracle, casts=None, order=None) -> None:
    """Register query ``name``: its Spark builder ``build(spark, sf_dir)``
    and its DuckDB oracle, either SQL text or a zero-argument callable
    returning it (evaluated by ``oracle_texts``, so import stays cheap),
    or None for a rows-only query.

    ``casts`` maps every output column, in oracle column order, to the
    type it is cast to at the gate (None keeps it): the builder's frame
    gets a final select that casts those columns, the oracle a wrapping
    ``SELECT ... FROM (...) AS __gate_cast``.  No raw DECIMAL(38,0)
    column leaves the registry: the driver renders DECIMAL cells
    differently on its Spark and DuckDB fetch paths (Decimal('123') vs
    123.0), which its hash sees and tools/check_oracle.py does not.
    Such a column becomes BIGINT where gate magnitudes leave >= 100x
    int64 headroom, DOUBLE where a sum nears 1e19 (durbin_watson:
    BIGINT would overflow under ANSI at sf1, and the gate compares
    floats to 12 significant digits).  Engine internals keep
    DECIMAL(38,0)/HUGEINT; only the final projection casts.

    ``order`` names the columns both engines order the result by; the
    driver's hash is order-insensitive, so this only pins an otherwise
    unordered frame.  A name registers once; a second registration
    raises ``ValueError``.
    """
    if name in _BUILDERS:
        raise ValueError(f"query {name!r} is already registered")
    module = build.__module__
    if casts or order:
        build = _gated(build, {c: t for c, t in (casts or {}).items() if t}, order)
    _BUILDERS[name] = (module, build)
    if oracle is not None:
        _ORACLES[name] = (oracle, casts, order)


def _gated(base, types, order):
    """``base`` with the gate casts ``types`` applied over its columns,
    then ordered by ``order``; keeps ``base``'s docstring."""

    def gated(spark, sf_dir):
        df = base(spark, sf_dir)
        if types:
            df = df.select(
                *[
                    F.col(c).cast(types[c]).alias(c) if c in types else F.col(c)
                    for c in df.columns
                ]
            )
        return df.orderBy(*order) if order else df

    gated.__doc__ = base.__doc__
    return gated


def _load() -> None:
    for d in DOMAINS:
        importlib.import_module(f"{__name__}.{d}")


def builders() -> dict[str, Callable]:
    """Every registered builder: modules in ``DOMAINS`` order (whatever
    order they were imported in), each in its registration order."""
    _load()
    rank = {f"{__name__}.{d}": i for i, d in enumerate(DOMAINS)}
    ranked = sorted(_BUILDERS.items(), key=lambda kv: rank.get(kv[1][0], len(rank)))
    return {name: build for name, (_, build) in ranked}


def oracle_of(name: str) -> str:
    """The oracle of ``name`` as registered (before gate casts, order
    and stripping): for oracles built on another query's oracle."""
    oracle = _ORACLES[name][0]
    return oracle() if callable(oracle) else oracle


def oracle_texts() -> dict[str, str]:
    """Every registered oracle's final SQL text."""
    _load()
    out = {}
    for name, (_, casts, order) in _ORACLES.items():
        sql = oracle_of(name)
        if casts:
            sel = ", ".join(
                f"CAST({c} AS {t.upper()}) AS {c}" if t else c
                for c, t in casts.items()
            )
            sql = f"SELECT {sel} FROM (\n{sql}\n) AS __gate_cast"
        if order:
            sql += " ORDER BY " + ", ".join(order)
        out[name] = sql.strip()
    return out
