package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: one JVM-wide SparkSession, UTC, AQE on,
  * no interpreted fallback for a whole-stage plan that fails to compile. */
object SparkSpecBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a whole-stage compile failure fails the spec instead of falling
      // back to interpreted execution with only a logged error
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
  /** The bench-scale sibling, for specs that pin behavior at sf0.1. */
  val sf01: String = "/root/testdata/sf0.1"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpecBase.spark
  def sf: String = SparkSpecBase.sf
  def sf01: String = SparkSpecBase.sf01

  /** The catalog tables `df`'s plan reads. */
  def servedTables(df: DataFrame): Seq[CatalogTable] =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.catalogTable }.flatten
}
