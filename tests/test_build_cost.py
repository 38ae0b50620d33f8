"""Driver-side build cost of the dedup queries: generated classes stay
cached across runs, the MinHash and SimHash builders' SQL-text
aggregates plan like their Column-API form, and ``jaccard_verify`` / ``containment_verify``
launch no jobs beyond their eager checkpoint."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

import __spark_entry__ as entry
from openseize_spark.llm import dedup
from openseize_spark.llm.text import normalize_text

from conftest import SF_SMALL


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _column_api_signatures(docs, k=5, num_hashes=64, portable=False):
    """``minhash_signatures`` as it was written with Column-API calls
    (one ``F.min(...).cast().alias()`` per hash, ``F.array`` of columns):
    the reference the SQL-text form must plan exactly like."""
    a, b = dedup._perm_params(num_hashes)
    norm = normalize_text(F.col("text"))
    docs = dedup._fanout_by_id(docs.filter(F.col("text").isNotNull()), "doc_id")
    shingle = F.col("_txt").substr(F.col("_i"), F.lit(k))
    base_hash = (
        dedup._portable_hash32(shingle) if portable else F.hash(shingle).cast("bigint")
    ).bitwiseAND(F.lit(0x7FFFFFFF))
    sh = (
        docs.select(F.col("doc_id"), norm.alias("_txt"))
        .select(
            "doc_id",
            "_txt",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("_txt") - (k - 1), F.lit(1)))
            ).alias("_i"),
        )
        .select("doc_id", base_hash.alias("_x"))
    )
    aggs = [
        F.min((F.col("_x") * int(a[j]) + int(b[j])) % dedup._MERSENNE)
        .cast("int")
        .alias(f"_h{j}")
        for j in range(num_hashes)
    ]
    agg = sh.groupBy("doc_id").agg(*aggs)
    return agg.select(
        F.col("doc_id"), F.array(*[F.col(f"_h{j}") for j in range(num_hashes)]).alias("sig")
    )


def _column_api_simhash(docs, bits=32, portable=False):
    """``simhash`` as it was written with Column-API calls (one
    ``F.sum(F.when(...))`` per bit, a ``F.when`` sum for the bits): the
    reference the SQL-text form must plan exactly like."""
    norm = normalize_text(F.col("text"))
    docs = dedup._fanout_by_id(docs, "doc_id")
    toks = docs.select(F.col("doc_id"), F.explode(F.split(norm, " ")).alias("tok")).filter(
        F.length("tok") > 0
    )
    tok_hash = dedup._portable_hash32(F.col("tok")) if portable else F.hash("tok").cast("bigint")
    toks = toks.withColumn("h", tok_hash)
    bit_cols = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_cols)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(2 ** b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sim = term if sim is None else sim + term
    return agg.select(F.col("doc_id"), sim.alias("simhash"))


def _normalized(plan) -> str:
    """Plan text without expression ids and exchange plan ids."""
    return re.sub(r"#\d+|plan_id=\d+", "#N", plan.toString())


def test_repeated_dedup_clusters_reuses_generated_classes(spark):
    q = entry.queries()["dedup_clusters"]
    q(spark, SF_SMALL).collect()
    repeats = []
    for _ in range(2):
        before = _compiles(spark)
        q(spark, SF_SMALL).collect()
        repeats.append(_compiles(spark) - before)
    # ~90 recompiles on every run with Spark's default 100-entry class
    # cache.  With the whole working set cached, a repeat still compiles
    # 0-16 classes now and then (AQE re-plans the eager checkpoints' stages
    # from runtime statistics), so the steadier of two repeats is checked
    assert min(repeats) <= 10, repeats


def test_minhash_signatures_sql_text_matches_column_api(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    for portable in (False, True):
        got = dedup.minhash_signatures(docs, k=5, num_hashes=64, portable=portable)
        ref = _column_api_signatures(docs, k=5, num_hashes=64, portable=portable)
        got_qe, ref_qe = got._jdf.queryExecution(), ref._jdf.queryExecution()
        for plan in ("analyzed", "optimizedPlan", "sparkPlan"):
            got_plan, ref_plan = getattr(got_qe, plan)(), getattr(ref_qe, plan)()
            assert _normalized(got_plan) == _normalized(ref_plan), plan
        assert got.schema == ref.schema
        rows = {r.doc_id: list(r.sig) for r in got.collect()}
        assert rows and rows == {r.doc_id: list(r.sig) for r in ref.collect()}


def test_simhash_sql_text_matches_column_api(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    for portable in (False, True):
        got = dedup.simhash(docs, portable=portable)
        ref = _column_api_simhash(docs, portable=portable)
        got_qe, ref_qe = got._jdf.queryExecution(), ref._jdf.queryExecution()
        for plan in ("analyzed", "optimizedPlan", "sparkPlan"):
            got_plan, ref_plan = getattr(got_qe, plan)(), getattr(ref_qe, plan)()
            assert _normalized(got_plan) == _normalized(ref_plan), plan
        assert got.schema == ref.schema
        rows = {r.doc_id: r.simhash for r in got.collect()}
        assert rows and rows == {r.doc_id: r.simhash for r in ref.collect()}


def test_verify_build_runs_only_its_checkpoint(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    ids = sorted(r.doc_id for r in docs.select("doc_id").limit(6).collect())
    pairs = spark.createDataFrame(
        [(x, y) for x, y in zip(ids, ids[1:])], "a long, b long"
    )
    _, checkpoint_jobs = _jobs_in_group(
        spark, "build-cost-checkpoint", lambda: pairs.localCheckpoint(eager=True)
    )
    for verify in (dedup.jaccard_verify, dedup.containment_verify):
        out, jobs = _jobs_in_group(
            spark, f"build-cost-{verify.__name__}", lambda: verify(docs, pairs, k=5)
        )
        # the candidate-id distinct + semi-join below the fan-out must
        # not run while the plan is built, only at the final action
        assert jobs == checkpoint_jobs, verify.__name__
        out.collect()
