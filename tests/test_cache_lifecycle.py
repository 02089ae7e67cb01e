"""Session-cache lifecycle gate (VERDICT r13 task 1).

The repo convention: operators whose returned frame lazily depends on
a cached intermediate (ir.py, stats.py, similarity.py) keep that cache
alive for the caller; ``registry.register`` wraps EVERY key so entry
to the next key calls ``spark.catalog.clearCache()``, bounding any
multi-key sweep's storage to the single in-flight key. These tests pin
both halves with the public catalog API:

* a cache-heavy key run through the registry leaves its own caches
  behind (by design — the caller may not have collected yet), and
* invoking ANY other registry key releases them.
"""

from __future__ import annotations

from pyspark import StorageLevel

from bigdata1_spark import registry


def _sql_cache_empty(spark) -> bool:
    """True when no SQL relation is registered in the cache manager —
    exactly the set ``spark.catalog.clearCache()`` clears. (Block-level
    ``getRDDStorageInfo`` is the wrong probe: localCheckpoint blocks
    from unrelated frames legitimately outlive the catalog cache.)"""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_registry_entry_clears_previous_key_caches(spark, sf_dir):
    spark.catalog.clearCache()

    # tfidf_topterms caches its tf/dl tables and its returned frame
    # depends on them lazily — so after collect they are still cached.
    out = registry.QUERIES["tfidf_topterms"](spark, sf_dir)
    assert out.count() >= 0
    assert not _sql_cache_empty(spark), (
        "expected tfidf_topterms to leave its session-scoped caches "
        "(the convention under test presumes at least one)"
    )

    # Entering the NEXT registry key must release them: any sweep holds
    # at most the in-flight key's storage.
    nxt = registry.QUERIES["global_count"](spark, sf_dir)
    assert _sql_cache_empty(spark)
    assert nxt.count() >= 0


def test_registry_entry_clears_foreign_catalog_cache(spark, sf_dir):
    """Public-API variant: a cached temp view set up before a registry
    call is dropped from storage on key entry (clearCache semantics),
    proving the wrapper runs for every registered callable."""
    spark.catalog.clearCache()
    df = spark.range(100).selectExpr("id", "id * 2 AS dbl")
    df.createOrReplaceTempView("cache_lifecycle_probe")
    spark.catalog.cacheTable("cache_lifecycle_probe")
    assert spark.table("cache_lifecycle_probe").count() == 100
    assert spark.catalog.isCached("cache_lifecycle_probe")

    registry.QUERIES["global_count"](spark, sf_dir).count()
    assert not spark.catalog.isCached("cache_lifecycle_probe")
    spark.catalog.dropTempView("cache_lifecycle_probe")


def test_every_registered_key_is_cache_scoped():
    for key, fn in registry.QUERIES.items():
        assert getattr(fn, "__wrapped__", None) is not None, (
            f"{key} bypassed registry._cache_scoped"
        )


def test_localcheckpoint_keys_release_eagerly(spark, sf_dir):
    """dedup_near's result does not depend on the catalog cache: its
    shingle-hash and prefix caches are lazy session-cache entries (it
    does not localCheckpoint), so clearing them between two actions
    recomputes the same rows through lineage, and the returned frame
    itself is never persisted."""
    spark.catalog.clearCache()
    out = registry.QUERIES["dedup_near"](spark, sf_dir)
    out.count()
    # The returned frame must not depend on catalog cache: clearing it
    # and re-collecting gives the same rows.
    n1 = out.count()
    spark.catalog.clearCache()
    assert out.count() == n1
    assert out.storageLevel == StorageLevel.NONE
