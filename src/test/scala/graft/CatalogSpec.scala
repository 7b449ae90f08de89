package graft

/** Cache hygiene of the catalog loop helper (see the contract on Catalog). */
class CatalogSpec extends SparkSpec {

  test("runAndClear drops the query's caches when the action throws") {
    val cache = spark.sharedState.cacheManager
    cache.clearCache()
    val e = intercept[IllegalStateException] {
      Catalog.runAndClear(spark, sf0001, "rel_cached_reuse") { _ =>
        assert(!cache.isEmpty, "rel_cached_reuse persists its shared scan")
        throw new IllegalStateException("action failed")
      }
    }
    assert(e.getMessage == "action failed")
    assert(cache.isEmpty)
  }
}
