package org.apache.spark.sql.execution

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The two Spark internals the benchmark reads; both are package-private to
  * Spark, hence this package. */
object SparkInternals {
  /** Wait until every listener event posted so far has been delivered, so a
    * key's listener counters are complete before the next key starts. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def cachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
