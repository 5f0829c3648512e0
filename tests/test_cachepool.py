"""cachepool contract: plan-fingerprint keying lets interleaved
pipelines of one family stay warm (round-3 verdict item: the old
single-slot-per-family pool thrashed on interleaving)."""

from pyspark.sql import functions as F

from mysql_to_s3_spark.functions import cachepool
from mysql_to_s3_spark.functions.cachepool import cache_scoped, release_all


def _corpus(spark, tag, n):
    return spark.range(n).select(
        F.col("id"), F.concat(F.lit(tag), F.col("id").cast("string")).alias("text")
    )


def test_interleaved_same_family_both_stay_cached(spark):
    release_all()
    a = _corpus(spark, "a", 10)
    b = _corpus(spark, "b", 20)
    ca = cache_scoped(a, "fam")
    cb = cache_scoped(b, "fam")
    # re-submitting either plan hits ITS warm cache — not a thrash of one slot
    assert cache_scoped(_corpus(spark, "a", 10), "fam") is ca
    assert cache_scoped(_corpus(spark, "b", 20), "fam") is cb
    assert ca.is_cached and cb.is_cached
    release_all()


def test_capacity_evicts_oldest(spark):
    release_all()
    frames = [cache_scoped(_corpus(spark, f"t{i}", 5 + i), "fam") for i in range(cachepool.FAMILY_CAPACITY + 1)]
    # the oldest plan fell out of the LRU; a re-submit re-caches a NEW frame
    again = cache_scoped(_corpus(spark, "t0", 5), "fam")
    assert again is not frames[0]
    # the newest survivors are still hits
    assert cache_scoped(_corpus(spark, f"t{cachepool.FAMILY_CAPACITY}", 5 + cachepool.FAMILY_CAPACITY), "fam") is frames[-1]
    release_all()


def test_release_all_unpersists(spark):
    release_all()
    c = cache_scoped(_corpus(spark, "x", 7), "fam2")
    assert c.is_cached
    release_all()
    assert not c.is_cached
    assert cachepool._POOL == {}


def test_external_clearcache_rehydrates_pool_hit(spark):
    """spark.catalog.clearCache() wipes the JVM registration under a
    pooled frame; the next cache_scoped for the same plan must detect
    the stale hit and re-cache instead of serving a frame that silently
    recomputes on every use (the test_plans ordering bug, generalized)."""
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.functions.cachepool import cache_scoped

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    a = cache_scoped(df, "clearcache_probe")
    a.count()
    assert a.storageLevel.useMemory or a.storageLevel.useDisk
    spark.catalog.clearCache()
    assert not (a.storageLevel.useMemory or a.storageLevel.useDisk)
    b = cache_scoped(spark.range(100).withColumn("v", F.col("id") * 2), "clearcache_probe")
    assert b.storageLevel.useMemory or b.storageLevel.useDisk


def test_release_plan_memos_scrubs_pools_and_plan_memos_only(spark):
    """The r11 bench-honesty hook: release_plan_memos must drop every
    pooled frame AND the plan-memo _FIT_CACHE kinds (prep_plan, p90b), while
    leaving genuine model/index fits and drain receipts warm."""
    from mysql_to_s3_spark import queries as cat
    from mysql_to_s3_spark.functions import cachepool
    from mysql_to_s3_spark.functions.cachepool import cache_scoped, release_all

    release_all()
    c = cache_scoped(_corpus(spark, "pm", 9), "fam_pm")
    assert c.is_cached
    skey = cachepool._session_key(spark)
    cat._FIT_CACHE[("prep_plan", skey, "/fake/sf")] = "memoised composition"
    cat._FIT_CACHE[("p90b", skey, "/fake/sf")] = [("A", 1.0)]
    cat._FIT_CACHE[("clsgate", skey, "/fake/sf")] = "a model fit"
    cat._FIT_CACHE[("prep_stream", skey, "/fake/sf")] = [1, 2, 3]
    try:
        cat.release_plan_memos(spark)
        assert not c.is_cached
        assert cachepool._POOL == {}
        assert ("prep_plan", skey, "/fake/sf") not in cat._FIT_CACHE
        assert ("p90b", skey, "/fake/sf") not in cat._FIT_CACHE
        assert cat._FIT_CACHE[("clsgate", skey, "/fake/sf")] == "a model fit"
        assert cat._FIT_CACHE[("prep_stream", skey, "/fake/sf")] == [1, 2, 3]
    finally:
        cat._FIT_CACHE.pop(("clsgate", skey, "/fake/sf"), None)
        cat._FIT_CACHE.pop(("prep_stream", skey, "/fake/sf"), None)
        cat._FIT_CACHE.pop(("prep_plan", skey, "/fake/sf"), None)
        cat._FIT_CACHE.pop(("p90b", skey, "/fake/sf"), None)
