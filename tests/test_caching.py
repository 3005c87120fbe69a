"""Unpersist discipline (operators/caching.py): build-then-probe caches
are tracked and released at the next query build, so a sequential
catalog run never accumulates InMemoryRelations across queries."""

from __future__ import annotations

import re
from operator import add

import pytest

from big_data_virus_analysis_spark.operators.caching import (
    release_tracked_caches,
    tracked_cache,
)
from big_data_virus_analysis_spark.ml.pipeline import kmeans_assign
from big_data_virus_analysis_spark.plans.catalog import (
    CATALOG,
    _document_feature_vectors,
    queries,
)

from conftest import SF_DIR, SMOKE_SF_DIR

#: pair-generator / index-building queries that cache an intermediate
#: frame for a self-join probe — the exact leak sites VERDICT r03 named
CACHING_QUERIES = [
    "minhash_lsh_pairs",
    "simhash_pairs",
    "dedup_ngram_jaccard",
    "fingerprint_overlap_pairs",
    "semantic_dedup_pairs",
    "dedup_incremental_batch",
]


def _cache_manager_empty(spark) -> bool:
    return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())


@pytest.mark.parametrize("name", CACHING_QUERIES)
def test_release_empties_cache_manager(spark, name):
    """Each caching query registers its caches; an explicit release after
    the consuming action leaves the session's CacheManager empty."""
    spark.catalog.clearCache()
    release_tracked_caches()
    df = CATALOG[name].spark(spark, SF_DIR)
    assert df.count() >= 0  # consume
    released = release_tracked_caches()
    assert released >= 1, f"{name} no longer registers its cache"
    assert _cache_manager_empty(spark)


def test_next_query_build_releases_predecessors(spark):
    """The queries() surface is self-cleaning: building query N releases
    query N-1's tracked caches, so a driver/bench loop holds at most one
    query's caches."""
    spark.catalog.clearCache()
    release_tracked_caches()
    qs = queries()
    first = qs["minhash_lsh_pairs"](spark, SF_DIR)
    assert first.count() > 0
    assert not _cache_manager_empty(spark)  # cache alive while consumed
    # building the next query releases the minhash signature cache ...
    second = qs["simhash_pairs"](spark, SF_DIR)
    assert second.count() > 0
    # ... and releasing after the last consumption empties the manager
    release_tracked_caches()
    assert _cache_manager_empty(spark)


def test_tracked_cache_is_reusable_after_release(spark):
    """Releasing is safe mid-lineage: a released frame just recomputes."""
    df = tracked_cache(spark.range(100))
    assert df.count() == 100
    assert release_tracked_caches() == 1
    assert df.count() == 100  # recomputes fine after unpersist


def _cached_doc_vectors(spark):
    """A fresh build of the k-means input, cached and materialized."""
    release_tracked_caches()
    vec = tracked_cache(_document_feature_vectors(spark, SMOKE_SF_DIR))
    assert vec.count() > 0
    return vec


def test_cached_shuffle_output_is_coalesced(spark):
    """AQE coalesces a cached shuffle output too (session.py sets
    ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``):
    the cached document vectors do not keep one partition per
    ``spark.sql.shuffle.partitions`` slot, so every stage that reads
    them (each k-means iteration) runs a handful of tasks, not 32."""
    vec = _cached_doc_vectors(spark)
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert vec.rdd.getNumPartitions() < n_shuffle
    release_tracked_caches()


def test_rdd_reduce_follows_input_partitions(spark):
    """session.py leaves ``spark.default.parallelism`` unset: the default
    parallelism is the session's core count, and an RDD reduce (the
    shape of Spark ML's tree split aggregation and k-means center
    update) keeps its input's partition count instead of fanning a
    one-partition input out to 32 reduce tasks."""
    sc = spark.sparkContext
    cpus = int(re.fullmatch(r"local\[(\d+)\]", sc.master).group(1))
    assert sc.defaultParallelism == cpus
    pairs = sc.parallelize(range(100), 1).map(lambda x: (x % 7, 1))
    reduced = pairs.reduceByKey(add)
    assert reduced.getNumPartitions() == 1
    assert sorted(reduced.collect()) == [(k, 15 if k < 2 else 14) for k in range(7)]


def test_kmeans_clustering_repeats_across_materializations(spark):
    """k-means|| samples per input partition, so the clustering follows
    the cached layout; the coalesced layout, and with it every
    ``(doc, cluster)`` row, must repeat on a fresh build."""

    def fit() -> list[tuple]:
        assigned = kmeans_assign(_cached_doc_vectors(spark), k=10)
        return sorted(map(tuple, assigned.select("doc", "cluster").collect()))

    first = fit()
    second = fit()
    release_tracked_caches()
    assert len(first) > 10
    assert first == second


def test_first_window_is_all_exact_oracle():
    """The driver's correctness gate samples the first 50 queries();
    every slot must carry an exact DuckDB oracle (rows-only entries
    live after the window — see catalog._finalize_order)."""
    names = list(CATALOG)[:50]
    assert len(names) == 50
    missing = [n for n in names if CATALOG[n].oracle is None]
    assert missing == []
