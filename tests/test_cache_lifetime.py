"""Cache lifetime: no DataFrame cache outlives the library or registry
call that made it.  The one exception is the session-scoped decode-once
signal table (``signal.py``)."""

from __future__ import annotations

import ast
import pathlib

import pytest

import __spark_entry__ as entry
from openseize_spark import signal
from openseize_spark.llm import dedup
from openseize_spark.session import persisted

from conftest import SF_SMALL

REPO = pathlib.Path(__file__).resolve().parent.parent


def _cached(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


@pytest.fixture(scope="module", autouse=True)
def _drop_loaded_signal_tables():
    """The registry queries below load the session-scoped signal table;
    drop the ones this module loaded, so later tests find the session's
    cache as it was."""
    before = set(signal._SIGNAL_CACHE)
    yield
    for key in set(signal._SIGNAL_CACHE) - before:
        signal._SIGNAL_CACHE.pop(key).unpersist()


@pytest.mark.parametrize(
    "name",
    ["pac", "pac_surrogates", "cluster_cohesion", "blocking_yield", "dag_layers"],
)
def test_registry_query_leaves_no_cache_entry(spark, name):
    build = entry.queries()[name]
    # the first build caches the session's signal table, which is meant
    # to stay; count from there
    build(spark, SF_SMALL)
    before = _cached(spark)
    df = build(spark, SF_SMALL)
    assert _cached(spark) == before, "building the query left a cache entry"
    df.write.mode("overwrite").format("noop").save()
    assert _cached(spark) == before, "the action left a cache entry"


def test_sssp_bounded_rejects_zero_weight_without_leaking(spark):
    edges = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 0)], "u bigint, v bigint, w bigint"
    )
    before = _cached(spark)
    with pytest.raises(ValueError, match="weights >= 1"):
        dedup.sssp_bounded(edges, source=0, budget=4)
    assert _cached(spark) == before


def test_persisted_releases_when_body_raises(spark):
    df = spark.range(10)
    before = _cached(spark)
    with pytest.raises(RuntimeError):
        with persisted(df) as p:
            assert p.count() == 10
            assert _cached(spark) == before + 1
            raise RuntimeError("body failed")
    assert _cached(spark) == before


def _persist_sites(path: pathlib.Path):
    """(enclosing top-level function or None, line) of every
    ``.persist(`` / ``.cache(`` call in ``path``."""
    tree = ast.parse(path.read_text())
    spans = [
        (n.name, n.lineno, n.end_lineno)
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("persist", "cache")
        ):
            owner = next(
                (f for f, a, b in spans if a <= node.lineno <= b), None
            )
            yield owner, node.lineno


def test_persist_only_in_the_scoped_helper_and_signal_table():
    files = [REPO / "__spark_entry__.py", *sorted((REPO / "openseize_spark").rglob("*.py"))]
    stray = []
    for path in files:
        rel = path.relative_to(REPO).as_posix()
        for owner, line in _persist_sites(path):
            if rel == "openseize_spark/signal.py":
                continue
            if rel == "openseize_spark/session.py" and owner == "persisted":
                continue
            stray.append(f"{rel}:{line}")
    assert not stray, f"persist outside session.persisted / signal.py: {stray}"
