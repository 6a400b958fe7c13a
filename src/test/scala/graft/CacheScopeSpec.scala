package graft

import org.apache.spark.sql.functions._

/** Pins the two properties [[CacheScope.scopedPersist]] exists for:
  * distinct cache identity across identical plans (so an async release of
  * one scope can never drop another scope's blocks), and intra-scope cache
  * hits for derived consumers; and the eager [[CacheScope.run]] lifetime:
  * every persist is released at its own scope's exit, also on a throw.
  */
class CacheScopeSpec extends SparkSpec {

  private def persistedRdds = spark.sparkContext.getPersistentRDDs.keySet

  test("a CacheScope.run whose body throws leaves the persisted RDDs as found") {
    val before = persistedRdds
    val e = intercept[IllegalStateException] {
      CacheScope.run {
        CacheScope.persist(spark.range(1000).toDF("x").withColumn("t", col("x") * 5))
          .count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(persistedRdds == before, s"left ${persistedRdds -- before}")
  }

  test("nested CacheScope.run releases each scope's persists at its own exit") {
    val before = persistedRdds
    val outer = spark.range(1000).toDF("x").withColumn("o", col("x") + 7)
    val inner = spark.range(1000).toDF("x").withColumn("i", col("x") + 8)
    CacheScope.run {
      CacheScope.persist(outer).count()
      CacheScope.run {
        CacheScope.persist(inner).count()
        assert(outer.storageLevel.useMemory && inner.storageLevel.useMemory)
      }
      assert(!inner.storageLevel.useMemory, "the inner persist survived the inner exit")
      assert(outer.storageLevel.useMemory, "the inner exit released the outer persist")
    }
    assert(!outer.storageLevel.useMemory, "the outer persist survived the outer exit")
    assert(persistedRdds == before, s"left ${persistedRdds -- before}")
  }

  test("collecting pipe_partition twice leaves the persisted RDDs and the SQL cache as found") {
    spark.catalog.clearCache()
    val before = persistedRdds
    val q = SparkEntry.queries("pipe_partition")
    val first = q(spark, sf).collect().map(_.toString).sorted.toSeq
    val second = q(spark, sf).collect().map(_.toString).sorted.toSeq
    assert(first.nonEmpty && first == second)
    // releaseAfterUse unpersists from the listener bus: wait for it
    def clean = persistedRdds == before && spark.sharedState.cacheManager.isEmpty
    val deadline = System.nanoTime() + 10000000000L
    while (!clean && System.nanoTime() < deadline) Thread.sleep(100)
    assert(persistedRdds == before, s"left ${persistedRdds -- before}")
    assert(spark.sharedState.cacheManager.isEmpty, "the SQL cache still holds an entry")
  }

  test("scopedPersist: identical queries get DISTINCT cache entries") {
    def mk() = CacheScope.scopedPersist(
      spark.range(1000).toDF("x").withColumn("y", col("x") * 2))
    val a = mk()
    val b = mk()
    a.count(); b.count()
    assert(a.storageLevel.useMemory && b.storageLevel.useMemory)
    // the collision this guards against: releasing scope A must NOT drop
    // scope B's entry for the same logical plan
    a.unpersist(blocking = true)
    assert(b.storageLevel.useMemory,
      "unpersisting one scope dropped the other scope's cache entry")
    b.unpersist(blocking = true)
  }

  test("scopedPersist: consumers derived from the scope still hit the cache") {
    val base = CacheScope.scopedPersist(
      spark.range(1000).toDF("x").withColumn("y", col("x") * 3))
    val derived = base.filter(col("x") < 100).select(col("y"))
    derived.collect()
    // after materialization through the derived plan, the scope is cached
    // and the derived plan reads InMemoryRelation, not the source
    assert(base.storageLevel.useMemory)
    val plan = derived.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"derived consumer did not read the cached scope:\n$plan")
    base.unpersist(blocking = true)
  }

  test("plain persist collides across identical plans (why scopedPersist exists)") {
    def mk() = spark.range(1000).toDF("x").withColumn("z", col("x") + 1).persist()
    val a = mk()
    val b = mk()
    a.count(); b.count()
    a.unpersist(blocking = true)
    // same canonical plan -> one shared entry -> both released together
    assert(!b.storageLevel.useMemory,
      "expected plan-keyed collision; if this starts failing, Spark's " +
        "cache identity changed and scopedPersist may be droppable")
    b.unpersist(blocking = true)
  }
}
