package graft

import java.nio.file.{Files, Path}

import scala.reflect.io.Directory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: one JVM-wide SparkSession, UTC, AQE on,
  * no interpreted fallback for a whole-stage plan that fails to compile.
  * Every stored-artifact root and every spec input dir ([[SparkSpec.tempDir]])
  * lives under one per-JVM directory, deleted at exit, so a run leaves
  * nothing in `java.io.tmpdir`. */
object SparkSpecBase {
  lazy val root: Path = {
    val dir = Files.createTempDirectory("graft-spec-artifacts")
    sys.addShutdownHook(new Directory(dir.toFile).deleteRecursively())
    dir
  }
  lazy val spark: SparkSession = {
    val roots = "graft.scratch.dir" +:
      Seq("ivf", "int8", "pq", "ivfpq", "graph").map(f => s"graft.$f.dir")
    val s = roots.foldLeft(SparkSession.builder())(_.config(_, root.toString))
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

  /** Runs `body` with `settings` in the session conf, then restores each
    * key's previous value (or unsets it when it had none). */
  def withConf[T](settings: (String, String)*)(body: => T): T = {
    // explicit settings only: getOption returns a registered conf's default
    val explicit = spark.conf.getAll
    val saved = settings.map { case (k, _) => k -> explicit.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A new empty directory under the per-JVM root, deleted at exit. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(SparkSpecBase.root, prefix)

  /** The catalog tables `df`'s plan reads. */
  def servedTables(df: DataFrame): Seq[CatalogTable] =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.catalogTable }.flatten
}
