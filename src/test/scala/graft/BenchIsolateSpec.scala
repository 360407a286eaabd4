package graft

/** `Bench.isolate` runs between timed reps. A builder that caches a
  * plan leaves an entry in the session's cache manager, and the next
  * rep of the same query would read that entry instead of doing its
  * own work; isolate must drop it.
  */
class BenchIsolateSpec extends SparkSpec {

  test("isolate empties the cache manager") {
    val df = spark.range(100).toDF("x").cache()
    try {
      df.count()
      assert(!spark.sharedState.cacheManager.isEmpty)
      Bench.isolate(spark)
      assert(spark.sharedState.cacheManager.isEmpty)
    } finally df.unpersist(blocking = true)
  }
}
