"""R2 — scoped cache semantics."""

from __future__ import annotations

import itertools
from contextlib import contextmanager

from pyspark.sql import functions as F

from clinical_data_lake_spark.operators.caching import (
    cache_if,
    ensure_parallelism,
    scoped_cache,
)

from conftest import SF_ORACLE

_GROUPS = itertools.count()


@contextmanager
def _jobs_launched(spark):
    """Yield a list that holds, after the block, the ids of the Spark
    jobs the block launched."""
    sc = spark.sparkContext
    group = f"caching_probe_{next(_GROUPS)}"
    jobs: list[int] = []
    sc.setJobGroup(group, "plan-build probe")
    try:
        yield jobs
    finally:
        sc.setJobGroup("", "")
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_scoped_cache_persists_and_releases(spark):
    df = spark.range(100)
    assert not df.storageLevel.useMemory
    with scoped_cache(df) as (cached,):
        assert cached.storageLevel.useMemory
        assert cached.count() == 100
    assert not df.storageLevel.useMemory  # released on exit


def test_scoped_cache_releases_on_error(spark):
    df = spark.range(10)
    try:
        with scoped_cache(df):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert not df.storageLevel.useMemory


def test_recommended_cluster_conf_scales_with_cores():
    from clinical_data_lake_spark.session import recommended_cluster_conf

    conf = recommended_cluster_conf(total_cores=4000, executor_mem_gb=64)
    assert conf["spark.sql.shuffle.partitions"] == "12000"
    assert conf["spark.executor.memory"] == "64g"
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert int(conf["spark.sql.files.maxPartitionBytes"]) == 128 * 1024 * 1024
    # fixed JIT compiler pool on long-lived cluster JVMs (r11 finding)
    assert (
        conf["spark.executor.extraJavaOptions"]
        == conf["spark.driver.extraJavaOptions"]
        == "-XX:-UseDynamicNumberOfCompilerThreads"
    )
    # reliable per-iteration checkpoints must not accumulate on DFS
    # for the application lifetime (r11 advice)
    assert conf["spark.cleaner.referenceTracking.cleanCheckpoints"] == "true"


def test_cache_if_thresholds(spark):
    once = cache_if(spark.range(5), reuse_count=1)
    assert not once.storageLevel.useMemory
    twice = cache_if(spark.range(5), reuse_count=2)
    assert twice.storageLevel.useMemory
    twice.unpersist()


def test_release_persisted_reclaims_operator_caches(spark):
    """Library operators persist reused intermediates (load-bearing for
    performance); release_persisted() must return the session to its
    prior cache state — no net-new persisted RDDs after a sweep of every
    cache-using operator (VERDICT r3 item 4)."""
    from clinical_data_lake_spark.functions.text import tfidf_terms
    from clinical_data_lake_spark.llm.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )
    from clinical_data_lake_spark.llm.similarity import cosine_dup_pairs_lsh
    from clinical_data_lake_spark.operators.caching import release_persisted
    from clinical_data_lake_spark.operators.cohort import case_control_cohort

    release_persisted()  # start from a known-clean registry
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon doc {i % 7} body") for i in range(60)],
        schema="doc_id long, text string",
    )
    ngram_jaccard_pairs(docs, n=3, threshold=0.5).count()
    minhash_lsh_pairs(docs, num_hashes=16, bands=4).count()
    simhash_pairs(docs, max_hamming=3).count()
    tfidf_terms(docs).count()
    vecs = spark.createDataFrame(
        [(i, [float((i * j) % 5 + 1) for j in range(8)]) for i in range(40)],
        schema="vec_id long, emb array<double>",
    )
    cosine_dup_pairs_lsh(
        vecs, dim=8, threshold=0.99, tables=4, bits=4, vec_col="emb"
    ).count()
    ents = spark.range(200).selectExpr("id AS pid", "id % 3 AS g")
    events = spark.range(20).selectExpr("id AS pid", "'index' AS lbl")
    case_control_cohort(ents, "pid", events, "pid", "lbl", "index").count()

    n = release_persisted()
    assert n >= 6, n  # every operator registered its cache
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before, f"leaked persisted RDDs: {after - before}"
    assert release_persisted() == 0  # idempotent


def test_ensure_parallelism_floors_a_single_partition_scan(spark):
    target = spark.sparkContext.defaultParallelism
    one = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").coalesce(1)
    with _jobs_launched(spark) as jobs:
        out = ensure_parallelism(one)
    assert jobs == []
    assert out.rdd.getNumPartitions() >= target
    assert out.count() == one.count()


def test_ensure_parallelism_runs_no_job_on_a_shuffled_input(spark):
    """A shuffled frame keeps its plan; reading its split count would
    run the stages beneath it (AQE), here the groupBy and the cached
    aggregate."""
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    grouped = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    cached = grouped.cache()
    try:
        over_cache = cached.filter("n > 0")
        with _jobs_launched(spark) as jobs:
            assert ensure_parallelism(grouped) is grouped
            assert ensure_parallelism(over_cache) is over_cache
        assert jobs == []
    finally:
        cached.unpersist()


def test_word_shingles_over_groupby_output_runs_no_job(spark):
    from clinical_data_lake_spark.llm.dedup import word_shingles

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    per_lang = docs.groupBy(F.col("lang").alias("doc_id")).agg(
        F.concat_ws(" ", F.collect_list("text")).alias("text")
    )
    with _jobs_launched(spark) as jobs:
        word_shingles(per_lang)
    assert jobs == []


def test_verified_minhash_pipeline_builds_without_running(spark):
    """Building the candidate -> verify plan runs nothing; the floor
    used to run the whole candidate pipeline at build time."""
    from clinical_data_lake_spark.llm.dedup import (
        minhash_lsh_pairs,
        verified_near_dup_pairs,
    )
    from clinical_data_lake_spark.operators.caching import release_persisted

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    try:
        with _jobs_launched(spark) as jobs:
            verified_near_dup_pairs(docs, minhash_lsh_pairs(docs))
        assert jobs == []
    finally:
        release_persisted()
