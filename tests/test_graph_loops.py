"""The iterative graph algorithms of ``llm/dedup.py``: per-query Spark job
ceilings, argument checks, and degenerate graphs (no edge, one edge)
against the DuckDB oracle or pinned rows."""

from __future__ import annotations

from decimal import Decimal

import duckdb
import pytest

import __spark_entry__ as entry
from openseize_spark.llm import dedup

from conftest import SF_SMALL
from test_build_cost import _jobs_in_group

# Spark jobs of one build + collect on SF_SMALL in the test session
# (local[8], 8 shuffle partitions).  Ceilings, not targets: a change that
# launches fewer jobs lowers the number here.
JOB_CEILINGS = {
    "dedup_clusters": 35,
    "pagerank_sim": 28,
    "hits_scores": 53,
    "sp_counting": 29,
    "betweenness_contrib": 51,
    "sssp_delta": 53,
    "temporal_reach": 34,
}


@pytest.mark.parametrize("name", sorted(JOB_CEILINGS))
def test_graph_query_job_ceiling(spark, name):
    build = entry.queries()[name]
    # how AQE groups a query's stages into jobs depends on which stages
    # finish first, so a run now and then launches one job more; the
    # fewer of two runs is checked
    jobs = [
        _jobs_in_group(
            spark,
            f"graph-jobs-{name}-{i}",
            lambda: build(spark, SF_SMALL).collect(),
        )[1]
        for i in range(2)
    ]
    assert min(jobs) <= JOB_CEILINGS[name], (name, jobs)


def test_hits_rejects_zero_iterations(spark):
    edges = spark.createDataFrame([(0, 1)], "src bigint, dst bigint")
    with pytest.raises(ValueError, match="iters >= 1"):
        dedup.hits(edges, iters=0)


# ------------------------------------------------------- degenerate graphs
def _norm(v):
    if isinstance(v, Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    return v


def _rows(rows):
    return sorted(tuple(_norm(v) for v in r) for r in rows)


def _edges(spark, rows, schema):
    return spark.createDataFrame(rows, ", ".join(f"{c} bigint" for c in schema))


def _cte(rows, schema):
    """DuckDB CTE body selecting ``rows`` as BIGINT columns ``schema``."""
    cols = ", ".join(f"CAST({c} AS BIGINT) AS {c}" for c in schema)
    if not rows:
        nulls = ", ".join(f"CAST(NULL AS BIGINT) AS {c}" for c in schema)
        return f"SELECT {nulls} WHERE false"
    values = ", ".join("(" + ", ".join(map(str, r)) + ")" for r in rows)
    return f"SELECT {cols} FROM (VALUES {values}) t({', '.join(schema)})"


def _matches_oracle(df, sql):
    ref = duckdb.sql(sql)
    got = df.select(*ref.columns).collect()
    assert _rows(got) == _rows(ref.fetchall())


EMPTY, ONE = [], [(0, 1)]


@pytest.mark.parametrize("rows", [EMPTY, ONE], ids=["empty", "one_edge"])
class TestDegenerateGraphsMatchOracle:
    def test_hits(self, spark, rows):
        e = _edges(spark, rows, ("src", "dst"))
        _matches_oracle(
            dedup.hits(e), dedup.hits_oracle_sql(_cte(rows, ("src", "dst")))
        )

    def test_bfs_distances(self, spark, rows):
        e = _edges(spark, rows, ("a", "b"))
        seeds = spark.createDataFrame([(0,)], "id bigint")
        _matches_oracle(
            dedup.bfs_distances(e, seeds),
            dedup.bfs_distances_oracle_sql(
                _cte(rows, ("a", "b")), _cte([(0,)], ("id",))
            ),
        )

    def test_sssp_bounded(self, spark, rows):
        wrows = [(u, v, 3) for u, v in rows]
        e = _edges(spark, wrows, ("u", "v", "w"))
        _matches_oracle(
            dedup.sssp_bounded(e, source=0, budget=8),
            dedup.sssp_bounded_oracle_sql(
                _cte(wrows, ("u", "v", "w")), source=0, budget=8
            ),
        )

    def test_temporal_reach(self, spark, rows):
        trows = [(u, v, 5) for u, v in rows]
        e = _edges(spark, trows, ("u", "v", "t"))
        _matches_oracle(
            dedup.temporal_reach(e, source=0),
            dedup.temporal_reach_oracle_sql(
                _cte(trows, ("u", "v", "t")), source=0
            ),
        )

    def test_sp_counting(self, spark, rows):
        e = _edges(spark, rows, ("a", "b"))
        _matches_oracle(
            dedup.sp_counting(e, source=0),
            dedup.sp_counting_oracle_sql(_cte(rows, ("a", "b")), source=0),
        )

    def test_betweenness_contrib(self, spark, rows):
        e = _edges(spark, rows, ("a", "b"))
        _matches_oracle(
            dedup.betweenness_contrib(e, source=0),
            dedup.betweenness_contrib_oracle_sql(
                _cte(rows, ("a", "b")), source=0
            ),
        )

    def test_random_walks(self, spark, rows):
        e = _edges(spark, rows, ("a", "b"))
        _matches_oracle(
            dedup.random_walks(e),
            dedup.random_walks_oracle_sql(_cte(rows, ("a", "b"))),
        )

    def test_sppmi_embed(self, spark, rows):
        e = _edges(spark, rows, ("a", "b"))
        _matches_oracle(
            dedup.sppmi_embed(e),
            dedup.sppmi_embed_oracle_sql(_cte(rows, ("a", "b"))),
        )


ZERO_LABEL = "CAST(0 AS BIGINT) AS label"


# functions whose oracles read the registry's pair graph rather than an
# edge CTE: pinned rows, worked by hand
@pytest.mark.parametrize(
    "fn, empty, one_edge",
    [
        (lambda e, s: dedup.pagerank(e), [], [(0, 1, 0.5), (1, 1, 0.5)]),
        (
            lambda e, s: dedup.personalized_pagerank(
                e, s.filter("id = 0")
            ).select("id", "degree", "ppr_units"),
            [],
            # S = 1e12 starts on seed 0; each round node 1 gets 17/20 of
            # node 0's units and node 0 gets 3S/20 plus 17/20 of node 1's
            [(0, 1, 336_675_937_500), (1, 1, 663_324_062_500)],
        ),
        (lambda e, s: dedup.label_propagation(e), [], [(0, 0), (1, 0)]),
        (lambda e, s: dedup.k_core(e), [], []),
        (lambda e, s: dedup.connected_components(e), [], [(0, 0), (1, 0)]),
        (lambda e, s: dedup.assortativity(e), [(0, None, None, None, None)],
         [(2, 2, 2, 2, None)]),
        (lambda e, s: dedup.clustering_buckets(e), [], []),
        (lambda e, s: dedup.triangle_count(e), [], []),
        (
            lambda e, s: dedup.modularity(e, s.selectExpr("id", ZERO_LABEL)),
            [],
            [(0, 2, 1, 2, 0.0)],
        ),
        (
            lambda e, s: dedup.conductance(e, s.selectExpr("id", ZERO_LABEL)),
            [],
            [(0, 2, 0, 2, None)],
        ),
    ],
    ids=[
        "pagerank", "personalized_pagerank", "label_propagation", "k_core",
        "connected_components", "assortativity", "clustering_buckets",
        "triangle_count", "modularity", "conductance",
    ],
)
def test_degenerate_graphs_pinned(spark, fn, empty, one_edge):
    for rows, want in ((EMPTY, empty), (ONE, one_edge)):
        e = _edges(spark, rows, ("a", "b"))
        # personalized_pagerank seeds node 0; modularity / conductance
        # label every node 0
        nodes = spark.createDataFrame(
            [(n,) for n in sorted({x for r in rows for x in r}) or [0]],
            "id bigint",
        )
        assert _rows(fn(e, nodes).collect()) == _rows(want), rows
