"""Graph queries: connected components, k-core, PageRank, HITS, shortest
paths, betweenness, random walks and embeddings on derived graphs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from openseize_spark.llm import dedup

from openseize_spark.registry import oracle_of, register
from openseize_spark.registry.common import _t


def q_triangle_count(spark, sf_dir):
    """Per-node triangle counts (llm/dedup.py triangle_count) over
    the verified near-dup graph — ordered-vertex wedge enumeration
    closed by an equi join, each triangle produced exactly once.
    Distinguishes duplicate cliques from chains of borderline
    pairs."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=5, num_hashes=64, portable=True)
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    dup = dedup.jaccard_verify(docs, cand, k=5, threshold=0.8)
    return dedup.triangle_count(dup.select("a", "b"))


register("triangle_count", q_triangle_count, lambda: dedup.triangle_count_oracle_sql(
    k=5, num_hashes=64, bands=8, threshold=0.8
))


def q_k_core(spark, sf_dir):
    """k-core of the verified near-dup graph (llm/dedup.py k_core):
    iterative peeling until every surviving node has >= 2 in-core
    neighbors — separates dense duplicate families from the
    borderline chains and stars single-linkage components glue
    together.  Unrolled-idempotent contract: Spark breaks at the
    fixed point and raises if 12 rounds did not converge; the
    oracle unrolls exactly 12 idempotent peels, so both engines
    reach the identical core."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=5, num_hashes=64, portable=True)
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    dup = dedup.jaccard_verify(docs, cand, k=5, threshold=0.8)
    return dedup.k_core(dup.select("a", "b"), k=2).select(
        F.col("id").alias("doc_id"), "core_degree"
    )


register("k_core", q_k_core, lambda: dedup.k_core_oracle_sql(
    core_k=2, rounds=12, k=5, num_hashes=64, bands=8, threshold=0.8
))


def q_label_propagation(spark, sf_dir):
    """Deterministic synchronous label propagation (llm/dedup.py
    label_propagation) over the verified near-dup graph: 4 fixed
    majority rounds with self-inclusion and a total (count DESC,
    label ASC) tie-break, so the result is a pure function of the
    graph — no random tie-breaks, no convergence claim, and the
    oracle unrolls the identical rounds.  Splits thin-bridged
    duplicate families the single-linkage components merge."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=5, num_hashes=64, portable=True)
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    dup = dedup.jaccard_verify(docs, cand, k=5, threshold=0.8)
    return dedup.label_propagation(dup.select("a", "b"), rounds=4).select(
        F.col("id").alias("doc_id"), "label"
    )


register("label_propagation", q_label_propagation, lambda: dedup.label_propagation_oracle_sql(
    rounds=4, k=5, num_hashes=64, bands=8, threshold=0.8
))


def q_pagerank_sim(spark, sf_dir):
    """PageRank centrality over the verified near-dup pair graph
    (llm/dedup.py pagerank): 5 unrolled integer-exact iterations —
    the third iterative-algorithm shape after CC and k-means."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=5, num_hashes=64, portable=True)
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    dup = dedup.jaccard_verify(docs, cand, k=5, threshold=0.8)
    return dedup.pagerank(dup.select("a", "b"), iters=5).select(
        F.col("id").alias("doc_id"), "degree", "pagerank"
    )


register("pagerank_sim", q_pagerank_sim, lambda: dedup.pagerank_oracle_sql(
    iters=5, k=5, num_hashes=64, bands=8, threshold=0.8
))


def q_cluster_cohesion(spark, sf_dir):
    """Near-dup cluster quality: per connected component, node and
    verified-pair counts plus POOLED Jaccard cohesion
    (sum intersections / sum unions over the component's verified
    pairs).  Pooling aggregates exact int64 shingle counts, so the
    metric is order-independent — a per-pair float mean would
    depend on summation order.  Distinguishes tight duplicate
    cliques from chains glued by borderline pairs."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=5, num_hashes=64, portable=True)
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    # two consumers: connected_components' in-call rounds fill the
    # checkpoint and pair_m reads it inside the returned plan
    dup = dedup.jaccard_verify(
        docs, cand, k=5, threshold=0.8, with_counts=True
    ).localCheckpoint(eager=False)
    cc = dedup.connected_components(
        dup.select("a", "b"), include_self_pairs=False
    )
    lbl = cc.select(F.col("id").alias("a"), F.col("component"))
    pair_m = (
        dup.join(lbl, on="a")
        .groupBy("component")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("inter").cast("bigint").alias("sum_inter"),
            F.sum("union_sz").cast("bigint").alias("sum_union"),
        )
    )
    node_m = cc.groupBy("component").agg(
        F.count("*").cast("bigint").alias("n_nodes")
    )
    return node_m.join(pair_m, on="component").withColumn(
        "cohesion",
        F.round(F.col("sum_inter").cast("double") / F.col("sum_union"), 9),
    )


register("cluster_cohesion", q_cluster_cohesion, dedup.cluster_cohesion_oracle_sql)


def q_link_prediction(spark, sf_dir):
    """Bipartite link prediction over the part-order graph: for part
    pairs co-purchased in >= 2 orders, the common-neighbor count plus
    resource-allocation (sum 1/deg) and Adamic-Adar (sum 1/ln deg)
    scores, where deg is the shared order's part-degree.  ONE
    order-keyed shuffle total (the brand_cooccurrence shape): the
    per-order distinct part set aggregates via collect_set — bounded
    by the order's line count, never the corpus — the degree IS the
    set size, and the quadratic pair expansion happens in-row over
    the sorted array, so no distinct relation, degree join, or
    self-join ever materializes.  Counts/degrees are exact ints;
    each score term is one divide (RA exact; AA's ln + the tiny
    per-pair float sum ride the 9-digit round)."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("_ps"))
    )
    ps = F.col("_ps")
    pair_arr = F.flatten(
        F.transform(
            ps,
            lambda a, i: F.transform(
                F.slice(ps, i + F.lit(2), F.size(ps)),
                lambda b: F.struct(a.alias("part_a"), b.alias("part_b")),
            ),
        )
    )
    pairs = (
        baskets.filter(F.size("_ps") >= 2)
        .select(
            F.size("_ps").cast("bigint").alias("_deg"),
            F.explode(pair_arr).alias("_p"),
        )
        .select(F.col("_p.part_a"), F.col("_p.part_b"), "_deg")
    )
    d = F.col("_deg").cast("double")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(
            F.count("*").cast("bigint").alias("cn_orders"),
            F.sum(F.lit(1.0) / d).alias("_ra"),
            F.sum(F.lit(1.0) / F.log(d)).alias("_aa"),
        )
        .filter(F.col("cn_orders") >= 2)
        .select(
            "part_a",
            "part_b",
            "cn_orders",
            F.round("_ra", 9).alias("ra_score"),
            F.round("_aa", 9).alias("aa_score"),
        )
    )


register("link_prediction", q_link_prediction, """
        WITH ob AS (
          SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ), deg AS (
          SELECT o, CAST(count(*) AS BIGINT) AS deg FROM ob GROUP BY o
        ), pr AS (
          SELECT a.p AS part_a, b.p AS part_b, d.deg
          FROM ob a
          JOIN ob b ON a.o = b.o AND a.p < b.p
          JOIN deg d ON d.o = a.o
        )
        SELECT part_a, part_b,
               CAST(count(*) AS BIGINT) AS cn_orders,
               round(sum(1 / CAST(deg AS DOUBLE)), 9) AS ra_score,
               round(sum(1 / ln(CAST(deg AS DOUBLE))), 9) AS aa_score
        FROM pr GROUP BY part_a, part_b
        HAVING count(*) >= 2""")


def q_degree_distribution(spark, sf_dir):
    """Degree histogram of the part-order graph plus the discrete
    power-law MLE alpha = 1 + n / sum(ln d) (dmin = 1) — the
    skew diagnostic run before choosing a partitioning for any
    graph workload (a heavy-tailed degree histogram means salting
    / skew-join handling, a flat one means plain hash keys).
    Degrees and histogram counts are exact int64; alpha's ln sum
    rides the 9-digit round."""
    li = _t(spark, sf_dir, "lineitem")
    # histogram and MLE stats both consume the degree table; the
    # checkpoint keeps the distinct + degree aggregate to one build
    deg = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_partkey")
        .agg(F.count("*").cast("bigint").alias("degree"))
        .localCheckpoint(eager=False)
    )
    hist = deg.groupBy("degree").agg(
        F.count("*").cast("bigint").alias("n_parts")
    )
    stats = deg.agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum(F.log(F.col("degree").cast("double"))).alias("_sl"),
    )
    alpha = 1 + F.col("_n").cast("double") / F.col("_sl")
    return (
        hist.crossJoin(F.broadcast(stats))
        .select(
            "degree",
            "n_parts",
            F.round(alpha, 9).alias("powerlaw_alpha"),
        )
    )


register("degree_distribution", q_degree_distribution, """
        WITH deg AS (
          SELECT l_partkey, CAST(count(*) AS BIGINT) AS degree
          FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
          GROUP BY l_partkey
        ), hist AS (
          SELECT degree, CAST(count(*) AS BIGINT) AS n_parts FROM deg
          GROUP BY degree
        ), st AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(ln(CAST(degree AS DOUBLE))) AS sl
          FROM deg
        )
        SELECT degree, n_parts,
               round(1 + CAST(n AS DOUBLE) / sl, 9) AS powerlaw_alpha
        FROM hist CROSS JOIN st""")


def q_hits_scores(spark, sf_dir):
    """HITS hubs/authorities over the bipartite customer -> part
    purchase graph (llm/dedup.hits): 3 max-normalized rounds in
    exact integer units — broad-basket customers score as hubs,
    widely-bought parts as authorities.  The fifth iterative-
    algorithm shape; per round the checkpointed edge list (stored
    partitioned on each join key) meets two |V|-row score tables."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            F.col("l_partkey").alias("dst"),
        )
        .distinct()
    )
    return dedup.hits(edges, iters=3, scale=10**6)


register("hits_scores", q_hits_scores, lambda: dedup.hits_oracle_sql(
    edges_cte="""
          SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""",
    iters=3,
    scale=10**6,
))


def q_bfs_distances(spark, sf_dir):
    """Multi-source BFS (llm/dedup.bfs_distances) over the
    undirected customer-part purchase graph: exact hop distance
    from the seed customers (custkey % 97 == 0) up to 4 hops —
    the neighborhood-expansion / blast-radius query, sixth
    iterative-algorithm shape.  Customer and part keys share an
    integer space, so node ids disambiguate as 2k / 2k+1.  Per
    hop one frontier equi-join against the checkpointed edge list
    + one anti-join; all-integer."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("bigint").alias("a"),
            (F.col("l_partkey") * 2 + 1).cast("bigint").alias("b"),
        )
        .distinct()
    )
    seeds = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 97 == 0)
        .select((F.col("c_custkey") * 2).cast("bigint").alias("id"))
    )
    return dedup.bfs_distances(edges, seeds, max_hops=4)


register("bfs_distances", q_bfs_distances, lambda: dedup.bfs_distances_oracle_sql(
    edges_cte="""
          SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS a,
                          CAST(l.l_partkey * 2 + 1 AS BIGINT) AS b
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""",
    seeds_cte="""
          SELECT CAST(c_custkey * 2 AS BIGINT) AS id
          FROM customer WHERE c_custkey % 97 = 0""",
    max_hops=4,
))


def q_modularity(spark, sf_dir):
    """Newman modularity of the label-propagation communities over
    the verified near-dup graph (llm/dedup.py modularity) — the
    standard did-the-communities-mean-anything score, emitted per
    community so the decomposition itself is oracle-checked.  Every
    input (e_in, deg_sum, m) is an exact int64 count; each row does
    two IEEE divisions and one subtraction on identical integers in
    both engines, so no float accumulates across rows.  The edge
    list is checkpointed once while the verify result is live (its
    candidate cache serves the materialization), and labels reuse
    that checkpoint — the verify pipeline runs exactly once."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=5, num_hashes=64, portable=True)
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    dup = dedup.jaccard_verify(docs, cand, k=5, threshold=0.8)
    edges = (
        dup.select("a", "b")
        .filter(F.col("a") != F.col("b"))
        .localCheckpoint(eager=True)
    )
    labels = dedup.label_propagation(edges, rounds=4)
    return dedup.modularity(edges, labels)


register("modularity", q_modularity, lambda: dedup.modularity_oracle_sql(
    rounds=4, k=5, num_hashes=64, bands=8, threshold=0.8
))


def q_assortativity(spark, sf_dir):
    """Degree assortativity of the verified near-dup graph
    (llm/dedup.py assortativity): do hub documents link to other
    hubs (templated boilerplate families) or to leaves (stars of
    near-copies around one original)?  Exact-moment Pearson over
    the symmetrized edge list — all sums int64, one division
    (the value_hour_corr discipline)."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=5, num_hashes=64, portable=True)
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    dup = dedup.jaccard_verify(docs, cand, k=5, threshold=0.8)
    return dedup.assortativity(dup.select("a", "b"))


register("assortativity", q_assortativity, lambda: dedup.assortativity_oracle_sql(
    k=5, num_hashes=64, bands=8, threshold=0.8
))


def q_clustering_buckets(spark, sf_dir):
    """Local clustering-coefficient distribution of the verified
    near-dup graph (llm/dedup.py clustering_buckets): per node with
    degree >= 2, 2*tri/(d*(d-1)) binned onto ten integer buckets by
    pure integer floor division (non-negative operands, so Spark
    div == DuckDB //) — clique-like duplicate families land in
    bucket 9, stars and chains in bucket 0, and the query emits 10
    rows instead of |V| floats."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=5, num_hashes=64, portable=True)
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    dup = dedup.jaccard_verify(docs, cand, k=5, threshold=0.8)
    return dedup.clustering_buckets(dup.select("a", "b"))


register("clustering_buckets", q_clustering_buckets, lambda: dedup.clustering_buckets_oracle_sql(
    k=5, num_hashes=64, bands=8, threshold=0.8
))


def q_cluster_size_dist(spark, sf_dir):
    """Duplicate-family size profile: the connected components of
    the verified near-dup graph aggregated to a size histogram
    (how many pairs-families, triples, bigger blobs) — the corpus
    health metric a dedup rollout reports before deleting anything.
    Pure integer counts over the independently-gated CC layer."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, k=5, num_hashes=64, portable=True
    )
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    dup = dedup.jaccard_verify(docs, cand, k=5, threshold=0.8)
    cc = dedup.connected_components(
        dup.select("a", "b"), include_self_pairs=False
    )
    sizes = cc.groupBy("component").agg(
        F.count("*").cast("bigint").alias("_sz")
    )
    return sizes.groupBy(F.col("_sz").alias("cluster_size")).agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        (F.count("*") * F.col("_sz")).cast("bigint").alias("n_docs"),
    )


register("cluster_size_dist", q_cluster_size_dist, lambda: f"""
        SELECT sz AS cluster_size,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(count(*) * sz AS BIGINT) AS n_docs
        FROM (
          SELECT component, CAST(count(*) AS BIGINT) AS sz
          FROM ({oracle_of("dedup_clusters")})
          GROUP BY component
        )
        GROUP BY sz""")


def q_ppr_seeded(spark, sf_dir):
    """Personalized PageRank from the doc_id % 5 == 0 seed set over
    the verified near-dup graph (llm/dedup.personalized_pagerank) —
    TrustRank-style proximity to trusted documents, the seventh
    iterative-algorithm shape.  Exact integer units throughout
    (the pagerank discipline: u div deg contributions, 17/20
    damping, seed-only base term), so the oracle unrolls all 5
    rounds bit-for-bit.  The sparse rank table covers only the
    seeds' reachable set — the property that makes PPR cheaper
    than global PageRank at 100 TB."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, k=5, num_hashes=64, portable=True
    )
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    dup = dedup.jaccard_verify(docs, cand, k=5, threshold=0.8)
    seeds = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("id")
    )
    return dedup.personalized_pagerank(
        dup.select("a", "b"), seeds, iters=5
    )


register("ppr_seeded", q_ppr_seeded, lambda: dedup.personalized_pagerank_oracle_sql(
    seed_pred="x % 5 = 0",
    iters=5,
    k=5,
    num_hashes=64,
    bands=8,
    threshold=0.8,
))


def q_conductance(spark, sf_dir):
    """Conductance of the label-propagation communities over the
    verified near-dup graph (llm/dedup.conductance) — the
    cut-quality complement to modularity: cut_c = vol_c - 2*e_c
    and phi_c = cut / min(vol, 2m - vol), every input an exact
    int64 count, one division per community (NULL when the
    community is the whole graph)."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, k=5, num_hashes=64, portable=True
    )
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    dup = dedup.jaccard_verify(docs, cand, k=5, threshold=0.8)
    edges = (
        dup.select("a", "b")
        .filter(F.col("a") != F.col("b"))
        .localCheckpoint(eager=True)
    )
    labels = dedup.label_propagation(edges, rounds=4)
    return dedup.conductance(edges, labels)


register("conductance", q_conductance, lambda: dedup.conductance_oracle_sql(
    rounds=4, k=5, num_hashes=64, bands=8, threshold=0.8
))


def q_dag_layers(spark, sf_dir):
    """Longest-path layering of the near-dup DAG (llm/dedup
    .dag_layers): the verified Jaccard >= 0.8 pairs directed
    a -> b (acyclic by a < b) relax through 8 max-rounds to the
    dependency-height histogram — the scheduling-depth statistic
    and the eighth iterative-algorithm shape (fixed-rounds
    saturation spec, every level an exact int64)."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, k=5, num_hashes=64, portable=True
    )
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    dup = dedup.jaccard_verify(docs, cand, k=5, threshold=0.8)
    # no caller-side checkpoint: dag_layers owns edge
    # materialization (repartition + persist); an
    # eager checkpoint here would both run a redundant in-builder
    # job and ERASE the partitioning dag_layers establishes
    edges = dup.select("a", "b").filter(F.col("a") < F.col("b"))
    return dedup.dag_layers(edges, rounds=8)


register("dag_layers", q_dag_layers, lambda: dedup.dag_layers_oracle_sql(
    rounds=8, k=5, num_hashes=64, bands=8, threshold=0.8
))


def q_sssp_delta(spark, sf_dir):
    """Budget-bounded weighted shortest paths (llm/dedup
    .sssp_bounded): Bellman-Ford with frontier-only relaxation
    over a derived 1024-node directed graph — nodes are part-key
    buckets, edges (l_partkey % 1024) -> ((l_partkey * 7 +
    l_orderkey) % 1024) with integer weight (l_partkey +
    l_suppkey) % 9 + 1 (min over duplicate edges), source node 0,
    horizon 64.  The weighted upgrade of bfs_distances; the
    oracle is DuckDB's native recursive state-space walk.  All
    arithmetic is exact int64, so the result is bit-equal under
    any relaxation order."""
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            (F.col("l_partkey") % 1024).cast("bigint").alias("u"),
            ((F.col("l_partkey") * 7 + F.col("l_orderkey")) % 1024)
            .cast("bigint")
            .alias("v"),
            ((F.col("l_partkey") + F.col("l_suppkey")) % 9 + 1)
            .cast("bigint")
            .alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
    )
    return dedup.sssp_bounded(edges, source=0, budget=64)


register("sssp_delta", q_sssp_delta, lambda: dedup.sssp_bounded_oracle_sql(
    edges_cte="""
          SELECT u, v, CAST(min(w) AS BIGINT) AS w FROM (
            SELECT l_partkey % 1024 AS u,
                   (l_partkey * 7 + l_orderkey) % 1024 AS v,
                   (l_partkey + l_suppkey) % 9 + 1 AS w
            FROM lineitem
          ) GROUP BY u, v
        """,
    source=0,
    budget=64,
))


def q_pivot_scc(spark, sf_dir):
    """Strongly connected component of a pivot node — the
    forward-backward (FW-BW) SCC step (Fleischer-Hendrickson-
    Pinar 2000): the pivot's SCC is exactly (forward-reachable
    set) INTERSECT (backward-reachable set), each computed by the
    frontier closure llm/dedup.sssp_bounded with unit weights
    (budget = 64 hops bounds the closure depth; the graph's
    diameter is far below it).  First DIRECTED-graph component
    query in the registry (dedup_clusters et al. are undirected).
    Same derived 1024-node graph as sssp_delta; pivot 0.  Returns
    the SCC members with their forward and backward hop
    distances."""
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            (F.col("l_partkey") % 1024).cast("bigint").alias("u"),
            ((F.col("l_partkey") * 7 + F.col("l_orderkey")) % 1024)
            .cast("bigint")
            .alias("v"),
        )
        .distinct()
        .withColumn("w", F.lit(1).cast("bigint"))
    )
    fwd = dedup.sssp_bounded(edges, source=0, budget=64)
    bwd = dedup.sssp_bounded(
        edges.select(
            F.col("v").alias("u"), F.col("u").alias("v"), "w"
        ),
        source=0,
        budget=64,
    )
    return fwd.join(
        bwd.select("node", F.col("dist").alias("dist_bwd")),
        on="node",
    ).select(
        "node",
        F.col("dist").alias("dist_fwd"),
        "dist_bwd",
    )


register("pivot_scc", q_pivot_scc, """
        WITH RECURSIVE e AS MATERIALIZED (
          SELECT DISTINCT l_partkey % 1024 AS u,
                 (l_partkey * 7 + l_orderkey) % 1024 AS v
          FROM lineitem
        ), fwd AS (
          SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
          UNION
          SELECT e.v, fwd.dist + 1 FROM fwd JOIN e ON e.u = fwd.node
          WHERE fwd.dist + 1 <= 64
        ), bwd AS (
          SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
          UNION
          SELECT e.u, bwd.dist + 1 FROM bwd JOIN e ON e.v = bwd.node
          WHERE bwd.dist + 1 <= 64
        ), f AS (
          SELECT node, CAST(min(dist) AS BIGINT) AS dist_fwd
          FROM fwd GROUP BY node
        ), b AS (
          SELECT node, CAST(min(dist) AS BIGINT) AS dist_bwd
          FROM bwd GROUP BY node
        )
        SELECT f.node, f.dist_fwd, b.dist_bwd
        FROM f JOIN b ON f.node = b.node
    """)


def q_temporal_reach(spark, sf_dir):
    """Time-respecting reachability (llm/dedup.temporal_reach;
    Holme & Saramäki 2012): earliest arrival from supplier #1 over
    the bipartite supplier<->customer interaction graph, where an
    order on day t creates edges both ways usable only at times
    >= the arrival time — the contact-tracing / diffusion
    primitive, and the eighth iterative shape (fixpoint frontier
    relaxation, NO fixed round cap).  Node ids disambiguate as
    customer 2k / supplier 2k+1; times are exact epoch days.  The
    oracle is a native recursive state-space walk."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    base = li.join(od, li.l_orderkey == od.o_orderkey).select(
        (F.col("o_custkey") * 2).cast("bigint").alias("c"),
        (F.col("l_suppkey") * 2 + 1).cast("bigint").alias("s"),
        # timezone-free day arithmetic: o_orderdate is
        # TIMESTAMP_NTZ (no unix_micros) and casting through
        # TIMESTAMP would make the value depend on the session
        # timezone — the vanilla-session trap
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("t"),
    )
    edges = (
        base.select(F.col("s").alias("u"), F.col("c").alias("v"), "t")
        .unionByName(
            base.select(
                F.col("c").alias("u"), F.col("s").alias("v"), "t"
            )
        )
        .distinct()
    )
    return dedup.temporal_reach(edges, source=3)


register("temporal_reach", q_temporal_reach, lambda: dedup.temporal_reach_oracle_sql(
    edges_cte="""
          SELECT DISTINCT u, v, t FROM (
            SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
                   CAST(CAST(o_orderdate AS DATE)
                        - DATE '1970-01-01' AS BIGINT) AS t
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          ), (VALUES (0), (1)) AS dir(d),
          LATERAL (SELECT CASE WHEN d = 0 THEN s ELSE c END AS u,
                          CASE WHEN d = 0 THEN c ELSE s END AS v) x
        """,
    source=3,
))


def q_sp_counting(spark, sf_dir):
    """Shortest-path counting from customer #0 (llm/dedup
    .sp_counting; Brandes 2001 forward phase) over the undirected
    customer-part purchase graph (the bfs_distances graph): each
    level's sigma is the predecessor-sigma sum, i.e. the number
    of distinct shortest paths — the betweenness-centrality
    building block and the ninth iterative shape.  Sigma runs as
    DECIMAL(38,0)/HUGEINT end to end (hub-dense graphs overflow
    int64 within a few levels).  4 levels, anti-join visited set."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("bigint").alias("a"),
            (F.col("l_partkey") * 2 + 1).cast("bigint").alias("b"),
        )
        .distinct()
    )
    return dedup.sp_counting(edges, source=0, max_hops=4)


register(
    "sp_counting", q_sp_counting,
    lambda: dedup.sp_counting_oracle_sql(
        edges_cte="""
          SELECT DISTINCT o_custkey * 2 AS a, l_partkey * 2 + 1 AS b
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        """,
        source=0,
        max_hops=4,
    ),
    casts={"id": None, "dist": None, "sigma": "bigint"},
    order=("dist", "id"),
)


def q_betweenness_contrib(spark, sf_dir):
    """Brandes backward phase (llm/dedup.betweenness_contrib;
    Brandes 2001) completing sp_counting's forward sigma: the
    per-node dependency delta(v) = sum over DAG successors w of
    sigma(v)/sigma(w) * (1 + delta(w)), swept level-by-level from
    the deepest reached level back to customer #0 on the same
    undirected customer-part purchase graph.  delta carried in
    integer micro-units (quantize-to-integer exactness: the
    per-edge double product is bit-identical across engines, the
    per-node sum is then DECIMAL(38,0)/HUGEINT integer —
    partition-invariant by construction)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("bigint").alias("a"),
            (F.col("l_partkey") * 2 + 1).cast("bigint").alias("b"),
        )
        .distinct()
    )
    return dedup.betweenness_contrib(edges, source=0, max_hops=4)


register(
    "betweenness_contrib", q_betweenness_contrib,
    lambda: dedup.betweenness_contrib_oracle_sql(
        edges_cte="""
          SELECT DISTINCT o_custkey * 2 AS a, l_partkey * 2 + 1 AS b
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        """,
        source=0,
        max_hops=4,
    ),
    casts={"id": None, "dist": None, "delta_units": "bigint"},
)


def q_random_walks(spark, sf_dir):
    """Deterministic hash-seeded random walks (llm/dedup
    .random_walks; DeepWalk, Perozzi et al. 2014) — one 4-step
    walk per node of the undirected customer-part purchase graph,
    neighbor picked by a mixed integer hash of (seed, node, step)
    mod degree: the graph-embedding corpus-generation step in the
    replayable-pseudo-randomness style of hash_sample.  All
    int64, bit-equal on any engine/partitioning."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("bigint").alias("a"),
            (F.col("l_partkey") * 2 + 1).cast("bigint").alias("b"),
        )
        .distinct()
    )
    return dedup.random_walks(edges, length=4)


register("random_walks", q_random_walks, lambda: dedup.random_walks_oracle_sql(
    edges_cte="""
          SELECT DISTINCT o_custkey * 2 AS a, l_partkey * 2 + 1 AS b
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        """,
    length=4,
))


def q_als_user_step(spark, sf_dir):
    """One exact ALS user-factor half-step (Hu/Koren/Volinsky
    2008) over the customer-part rating matrix (rating = total
    quantity): with rank-2 item factors fixed by a deterministic
    integer hash (q1 = (i*73) mod 97 - 48, q2 = (i*151) mod 101
    - 50, in 1/100 units), solve the per-user ridge normal
    equations (QᵀQ + λI)x = Qᵀr in closed 2x2 form — the
    matrix-factorization training primitive.  The five per-user
    moments accumulate as exact DECIMAL(38,0)/HUGEINT (casts
    before every product), det/x1/x2 are single IEEE ops on
    identical exact operands — bit-equal under any partitioning.
    λ = 1000 units²."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    dec = "decimal(38,0)"
    r = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("u"),
            F.col("l_partkey").alias("i"),
        )
        .agg(
            F.round(F.sum("l_quantity"))
            .cast("bigint")
            .alias("r")
        )
    )
    q1 = (F.col("i") * 73) % 97 - 48
    q2 = (F.col("i") * 151) % 101 - 50
    f = r.select(
        "u",
        "r",
        q1.cast("bigint").alias("q1"),
        q2.cast("bigint").alias("q2"),
    )
    mom = f.groupBy("u").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.sum((F.col("q1").cast(dec) * F.col("q1")).cast(dec)).alias("_a11"),
        F.sum((F.col("q1").cast(dec) * F.col("q2")).cast(dec)).alias("_a12"),
        F.sum((F.col("q2").cast(dec) * F.col("q2")).cast(dec)).alias("_a22"),
        F.sum((F.col("q1").cast(dec) * F.col("r")).cast(dec)).alias("_b1"),
        F.sum((F.col("q2").cast(dec) * F.col("r")).cast(dec)).alias("_b2"),
    )
    lam = F.lit(1000).cast(dec)
    a11l = (F.col("_a11") + lam).cast(dec)
    a22l = (F.col("_a22") + lam).cast(dec)
    det = (a11l * a22l - F.col("_a12") * F.col("_a12")).cast("double")
    x1 = (
        (a22l * F.col("_b1") - F.col("_a12") * F.col("_b2")).cast(
            "double"
        )
        / det
    )
    x2 = (
        (a11l * F.col("_b2") - F.col("_a12") * F.col("_b1")).cast(
            "double"
        )
        / det
    )
    return mom.select(
        "u", "n_items", x1.alias("x1"), x2.alias("x2")
    )


register("als_user_step", q_als_user_step, """
        WITH r AS MATERIALIZED (
          SELECT o_custkey AS u, l_partkey AS i,
                 CAST(round(sum(l_quantity)) AS BIGINT) AS r
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1, 2
        ), f AS (
          SELECT u, r,
                 CAST((i * 73) % 97 - 48 AS BIGINT) AS q1,
                 CAST((i * 151) % 101 - 50 AS BIGINT) AS q2
          FROM r
        ), mom AS (
          SELECT u, CAST(count(*) AS BIGINT) AS n_items,
                 sum(CAST(q1 AS HUGEINT) * q1) AS a11,
                 sum(CAST(q1 AS HUGEINT) * q2) AS a12,
                 sum(CAST(q2 AS HUGEINT) * q2) AS a22,
                 sum(CAST(q1 AS HUGEINT) * r) AS b1,
                 sum(CAST(q2 AS HUGEINT) * r) AS b2
          FROM f GROUP BY u
        )
        SELECT u, n_items,
               CAST((a22 + 1000) * b1 - a12 * b2 AS DOUBLE)
                 / CAST((a11 + 1000) * (a22 + 1000) - a12 * a12
                        AS DOUBLE) AS x1,
               CAST((a11 + 1000) * b2 - a12 * b1 AS DOUBLE)
                 / CAST((a11 + 1000) * (a22 + 1000) - a12 * a12
                        AS DOUBLE) AS x2
        FROM mom
    """)


def q_als_item_step(spark, sf_dir):
    """The ALTERNATION closure of als_user_step (Hu/Koren/
    Volinsky 2008): one exact ALS item-factor half-step that
    consumes the user factors the sibling half-step just solved —
    the genuine alternating least squares loop, not a hash twin.
    The user factors x1/x2 are division-derived doubles on exact
    integer operands (bit-identical both engines), so quantizing
    them to 1e-6 units (p = round(x·1e6)) is parity-safe by the
    division-quantization idiom; the per-item ridge normal
    equations (PᵀP + λ·1e12·I)y' = Pᵀr then accumulate as exact
    DECIMAL(38,0)/HUGEINT moments (units² ~1e15, det ~1e31,
    numerators ~1e27 — 7 orders inside the 38-digit budget at
    100× the gate scale), and y = 1e6·(num/det) is one mirrored
    float chain.  λ = 1000 as in the user step.  Returns
    (i, n_users, y1, y2)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    dec = "decimal(38,0)"
    r = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("u"),
            F.col("l_partkey").alias("i"),
        )
        .agg(
            F.round(F.sum("l_quantity"))
            .cast("bigint")
            .alias("r")
        )
    )
    uf = q_als_user_step(spark, sf_dir).select(
        "u",
        F.round(F.col("x1") * 1e6).cast("bigint").alias("p1"),
        F.round(F.col("x2") * 1e6).cast("bigint").alias("p2"),
    )
    f = r.join(uf, on="u")
    mom = f.groupBy("i").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum((F.col("p1").cast(dec) * F.col("p1")).cast(dec)).alias("_a11"),
        F.sum((F.col("p1").cast(dec) * F.col("p2")).cast(dec)).alias("_a12"),
        F.sum((F.col("p2").cast(dec) * F.col("p2")).cast(dec)).alias("_a22"),
        F.sum((F.col("p1").cast(dec) * F.col("r")).cast(dec)).alias("_b1"),
        F.sum((F.col("p2").cast(dec) * F.col("r")).cast(dec)).alias("_b2"),
    )
    lam = F.lit(10**15).cast(dec)
    a11l = (F.col("_a11") + lam).cast(dec)
    a22l = (F.col("_a22") + lam).cast(dec)
    det = (a11l * a22l - F.col("_a12") * F.col("_a12")).cast("double")
    y1 = F.lit(1e6) * (
        (a22l * F.col("_b1") - F.col("_a12") * F.col("_b2")).cast(
            "double"
        )
        / det
    )
    y2 = F.lit(1e6) * (
        (a11l * F.col("_b2") - F.col("_a12") * F.col("_b1")).cast(
            "double"
        )
        / det
    )
    return mom.select(
        "i", "n_users", y1.alias("y1"), y2.alias("y2")
    )


register("als_item_step", q_als_item_step, """
        WITH r AS MATERIALIZED (
          SELECT o_custkey AS u, l_partkey AS i,
                 CAST(round(sum(l_quantity)) AS BIGINT) AS r
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1, 2
        ), fu AS (
          SELECT u, r,
                 CAST((i * 73) % 97 - 48 AS BIGINT) AS q1,
                 CAST((i * 151) % 101 - 50 AS BIGINT) AS q2
          FROM r
        ), umom AS (
          SELECT u,
                 sum(CAST(q1 AS HUGEINT) * q1) AS a11,
                 sum(CAST(q1 AS HUGEINT) * q2) AS a12,
                 sum(CAST(q2 AS HUGEINT) * q2) AS a22,
                 sum(CAST(q1 AS HUGEINT) * r) AS b1,
                 sum(CAST(q2 AS HUGEINT) * r) AS b2
          FROM fu GROUP BY u
        ), uf AS MATERIALIZED (
          SELECT u,
                 CAST(round(
                   CAST((a22 + 1000) * b1 - a12 * b2 AS DOUBLE)
                   / CAST((a11 + 1000) * (a22 + 1000) - a12 * a12
                          AS DOUBLE) * 1e6) AS BIGINT) AS p1,
                 CAST(round(
                   CAST((a11 + 1000) * b2 - a12 * b1 AS DOUBLE)
                   / CAST((a11 + 1000) * (a22 + 1000) - a12 * a12
                          AS DOUBLE) * 1e6) AS BIGINT) AS p2
          FROM umom
        ), f AS (
          SELECT r.i, r.r, uf.p1, uf.p2 FROM r JOIN uf USING (u)
        ), mom AS (
          SELECT i, CAST(count(*) AS BIGINT) AS n_users,
                 sum(CAST(p1 AS HUGEINT) * p1) AS a11,
                 sum(CAST(p1 AS HUGEINT) * p2) AS a12,
                 sum(CAST(p2 AS HUGEINT) * p2) AS a22,
                 sum(CAST(p1 AS HUGEINT) * r) AS b1,
                 sum(CAST(p2 AS HUGEINT) * r) AS b2
          FROM f GROUP BY i
        )
        SELECT i, n_users,
               1e6 * (CAST((a22 + 1000000000000000) * b1 - a12 * b2
                           AS DOUBLE)
                      / CAST((a11 + 1000000000000000)
                             * (a22 + 1000000000000000) - a12 * a12
                             AS DOUBLE)) AS y1,
               1e6 * (CAST((a11 + 1000000000000000) * b2 - a12 * b1
                           AS DOUBLE)
                      / CAST((a11 + 1000000000000000)
                             * (a22 + 1000000000000000) - a12 * a12
                             AS DOUBLE)) AS y2
        FROM mom
    """)


def q_skipgram_cooc(spark, sf_dir):
    """Skip-gram co-occurrence + PMI over the DeepWalk corpus
    (llm/dedup.skipgram_cooc; Levy & Goldberg 2014) — the
    walk→embedding closure: window-2
    ordered pairs over the same 4-step hash-seeded walks as the
    random_walks registration (same customer-part purchase
    graph), exact int64 counts/marginals, PMI as one mirrored
    double chain with UNROUNDED ln (woe_encode precedent)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("bigint").alias("a"),
            (F.col("l_partkey") * 2 + 1).cast("bigint").alias("b"),
        )
        .distinct()
    )
    return dedup.skipgram_cooc(edges, length=4, window=2)


register("skipgram_cooc", q_skipgram_cooc, lambda: dedup.skipgram_cooc_oracle_sql(
    edges_cte="""
          SELECT DISTINCT o_custkey * 2 AS a, l_partkey * 2 + 1 AS b
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        """,
    length=4,
    window=2,
))


def q_graph_assortativity(spark, sf_dir):
    """Degree assortativity coefficient (Newman 2002) of the
    undirected customer-part purchase graph — does high degree
    attach to high degree?  The Pearson correlation of endpoint
    degrees over the DIRECTED edge list (each undirected edge
    counted both ways, the standard convention): all five moments
    (Σdx, Σdy, Σdx·dy, Σdx², Σdy²) accumulate as exact
    DECIMAL(38,0)/HUGEINT; numerator M·Σxy − Σx·Σy stays exact
    DECIMAL; the two variance factors cast to double BEFORE their
    product (their exact product would need ~52 digits) in the
    identical order both engines.  Bipartite graphs skew negative
    — the sign itself is the structure check.  Returns one row
    (m_edges, assortativity)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    dec = "decimal(38,0)"
    und = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("bigint").alias("a"),
            (F.col("l_partkey") * 2 + 1).cast("bigint").alias("b"),
        )
        .distinct()
    )
    edges = und.select("a", "b").unionByName(
        und.select(
            F.col("b").alias("a"), F.col("a").alias("b")
        )
    ).localCheckpoint(eager=False)  # degree agg + moment join
    deg = edges.groupBy("a").agg(
        F.count("*").cast("bigint").alias("_d")
    )
    j = (
        edges.join(deg, on="a")
        .withColumnRenamed("_d", "_dx")
        .join(
            deg.select(
                F.col("a").alias("b"), F.col("_d").alias("_dy")
            ),
            on="b",
        )
    )
    mom = j.agg(
        F.count("*").cast("bigint").alias("m_edges"),
        F.sum(F.col("_dx").cast(dec)).alias("_sx"),
        F.sum(F.col("_dy").cast(dec)).alias("_sy"),
        F.sum((F.col("_dx").cast(dec) * F.col("_dy")).cast(dec)).alias(
            "_sxy"
        ),
        F.sum((F.col("_dx").cast(dec) * F.col("_dx")).cast(dec)).alias(
            "_sxx"
        ),
        F.sum((F.col("_dy").cast(dec) * F.col("_dy")).cast(dec)).alias(
            "_syy"
        ),
    )
    m = F.col("m_edges").cast(dec)
    num = (m * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast(
        "double"
    )
    vx = (m * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast(
        "double"
    )
    vy = (m * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast(
        "double"
    )
    return mom.select(
        "m_edges",
        (num / F.sqrt(vx * vy)).alias("assortativity"),
    )


register("graph_assortativity", q_graph_assortativity, """
        WITH und AS (
          SELECT DISTINCT o_custkey * 2 AS a, l_partkey * 2 + 1 AS b
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ), edges AS MATERIALIZED (
          SELECT a, b FROM und
          UNION ALL SELECT b AS a, a AS b FROM und
        ), deg AS MATERIALIZED (
          SELECT a, CAST(count(*) AS BIGINT) AS d
          FROM edges GROUP BY 1
        ), j AS (
          SELECT dx.d AS dxv, dy.d AS dyv
          FROM edges
          JOIN deg dx ON dx.a = edges.a
          JOIN deg dy ON dy.a = edges.b
        ), mom AS (
          SELECT CAST(count(*) AS BIGINT) AS m_edges,
                 sum(CAST(dxv AS HUGEINT)) AS sx,
                 sum(CAST(dyv AS HUGEINT)) AS sy,
                 sum(CAST(dxv AS HUGEINT) * dyv) AS sxy,
                 sum(CAST(dxv AS HUGEINT) * dxv) AS sxx,
                 sum(CAST(dyv AS HUGEINT) * dyv) AS syy
          FROM j
        )
        SELECT m_edges,
               CAST(CAST(m_edges AS HUGEINT) * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(CAST(m_edges AS HUGEINT) * sxx - sx * sx
                           AS DOUBLE)
                      * CAST(CAST(m_edges AS HUGEINT) * syy - sy * sy
                             AS DOUBLE)) AS assortativity
        FROM mom
    """)


def q_sppmi_embed(spark, sf_dir):
    """Dominant-eigenvector SPPMI embedding (llm/dedup
    .sppmi_embed; Levy & Goldberg 2014) over the same DeepWalk
    corpus as skipgram_cooc — the final step of the
    walk→embedding closure: word2vec SGNS
    implicitly factorizes the shifted positive PMI of the
    skip-gram counts, so the leading eigenvector of that matrix
    (6 exact-integer power-iteration rounds, the
    pca_power_iteration discipline kept DISTRIBUTED — the matrix
    is node×node and never collected) is the 1-d SGNS-equivalent
    embedding.  One quantized-transcendental site (SPPMI units,
    guard-band audited at both gate scales); everything after it
    is int64/DECIMAL(38,0) — bit-equal under any partitioning at
    any round count."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("bigint").alias("a"),
            (F.col("l_partkey") * 2 + 1).cast("bigint").alias("b"),
        )
        .distinct()
    )
    return dedup.sppmi_embed(edges, length=4, window=2, rounds=6)


register("sppmi_embed", q_sppmi_embed, lambda: dedup.sppmi_embed_oracle_sql(
    edges_cte="""
          SELECT DISTINCT o_custkey * 2 AS a, l_partkey * 2 + 1 AS b
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        """,
    length=4,
    window=2,
    rounds=6,
))
