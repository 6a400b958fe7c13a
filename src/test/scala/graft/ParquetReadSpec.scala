package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.operators.Tables

/** `Artifacts.parquet` resolves a parquet input once per session,
  * fingerprint and inference confs. A hit launches no Spark job; a
  * rewritten input, a second session or a flipped inference conf reads
  * afresh; and two reads of one table in one plan stay two relations.
  */
class ParquetReadSpec extends SparkSpec {

  /** `body`'s result and the number of Spark jobs it launched. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.graft.ListenerBus.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** A fresh dataset dir holding a copy of the sf0.001 `table`. */
  private def copyOf(table: String): String = {
    val d = tempDir(s"graft-read-$table").toString
    Files.copy(Paths.get(s"$sf/$table.parquet"), Paths.get(s"$d/$table.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    d
  }

  /** The session the frame's file relation was resolved in. */
  private def resolvedIn(df: org.apache.spark.sql.DataFrame): SparkSession =
    ColumnBridge.planOf(df) match {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.sparkSession
      case other => fail(s"not a file relation: ${other.nodeName}")
    }

  test("a second read of an unchanged table launches no Spark job") {
    val d = copyOf("nation")
    val (first, jobs1) = jobsDuring(Tables.nation(spark, d).columns.toSeq)
    assert(jobs1 >= 1, "the first read must infer the schema")
    val (second, jobs2) = jobsDuring(Tables.nation(spark, d).columns.toSeq)
    assert(jobs2 == 0, s"the second read launched $jobs2 jobs")
    assert(second == first)
  }

  test("a table rewritten in place with another schema and rows is read fresh") {
    val d = copyOf("nation")
    val before = Tables.nation(spark, d)
    assert(before.columns.contains("n_name") && before.count() == 25)
    spark.range(3).toDF("x").write.mode("overwrite").parquet(s"$d/nation.parquet")
    val after = Tables.nation(spark, d)
    assert(after.columns.toSeq == Seq("x"))
    assert(after.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("a second session never gets the first session's resolved frame") {
    val d = copyOf("region")
    assert(resolvedIn(Tables.region(spark, d)) eq spark)
    val s2 = spark.newSession()
    val (df2, jobs) = jobsDuring(Tables.region(s2, d))
    assert(resolvedIn(df2) eq s2, "the second session read the first session's relation")
    assert(jobs >= 1, "the second session must resolve the path itself")
    assert(df2.count() == 5)
  }

  test("flipping spark.sql.parquet.binaryAsString makes the next read infer again") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    // an unannotated BINARY column without Spark's schema in the footer:
    // only then does binaryAsString steer inference
    val s = spark.newSession()
    val d = tempDir("graft-read-bin").toString
    val schema = MessageTypeParser.parseMessageType("message documents { required binary b; }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$d/documents.parquet"),
      s.sparkContext.hadoopConfiguration)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "x"))
    finally w.close()
    assert(Tables.documents(s, d).schema("b").dataType == BinaryType)
    s.conf.set("spark.sql.parquet.binaryAsString", "true")
    val (asString, jobs) = jobsDuring(Tables.documents(s, d))
    assert(asString.schema("b").dataType == StringType)
    assert(jobs >= 1, "the flipped conf must re-run inference")
    s.conf.unset("spark.sql.parquet.binaryAsString")
    assert(Tables.documents(s, d).schema("b").dataType == BinaryType)
  }

  test("Tables.nation joined with Tables.nation returns the rows of the uncached read") {
    def pairs(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.join(b, a("n_regionkey") === b("n_regionkey") && a("n_nationkey") < b("n_nationkey"))
        .select(a("n_name"), b("n_name")).collect().map(_.toString).sorted.toSeq
    val a = Tables.nation(spark, sf)
    val b = Tables.nation(spark, sf)
    val path = s"$sf/nation.parquet"
    val expected = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert(expected.size == 50) // 5 regions × C(5, 2) pairs
    assert(pairs(a, b) == expected)
  }

  test("an A→B→A rebuild of a stored artifact is read fresh") {
    val root = tempDir("graft-read-cycle").toString
    withConf("graft.scratch.dir" -> root) {
      val d = tempDir("graft-read-cycle-data").toString
      val builds = new AtomicInteger()
      def build(dir: String): Unit = {
        val n = builds.incrementAndGet()
        spark.range(n).toDF("id").write.mode("overwrite").parquet(dir)
      }
      def ids(loc: String): Seq[Long] =
        Artifacts.parquet(spark, loc).collect().map(_.getLong(0)).sorted.toSeq
      val locA = Artifacts.storedFp(spark, "read_cycle_spec", d, "A")(build)
      assert(ids(locA) == Seq(0L))
      val locB = Artifacts.storedFp(spark, "read_cycle_spec", d, "B")(build)
      assert(ids(locB) == Seq(0L, 1L))
      val locA2 = Artifacts.storedFp(spark, "read_cycle_spec", d, "A")(build)
      assert(locA2 == locA, "the cycle must rebuild into the same directory")
      assert(ids(locA2) == Seq(0L, 1L, 2L), "the rebuilt generation was read stale")
    }
  }
}
