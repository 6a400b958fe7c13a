package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.similarity.Ann

/** The IVF and PQ trainers run on the driver when the training set fits
  * `graft.embedding.broadcastMaxRows`, and distributed above it. Both
  * branches must write the same index: centroids and codebooks equal by
  * raw double bits, corpus and code tables equal row for row. Each build
  * lands in a fresh family root, so the two branches never share an
  * artifact generation.
  */
class AnnLocalTrainSpec extends SparkSpec {

  /** Every table's rows, doubles as raw bits, in a canonical order. */
  private def tableRows(s: SparkSession, dir: String,
      tables: Seq[String]): Map[String, Seq[String]] = {
    def canon(x: Any): Any = x match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case xs: scala.collection.Seq[_] => xs.map(canon)
      case r: Row => r.toSeq.map(canon)
      case o => o
    }
    tables.map(t => t -> s.read.parquet(s"$dir/$t").collect()
      .map(r => canon(r).toString).toSeq.sorted).toMap
  }

  /** Builds one artifact in a fresh session and family root under `confs`;
    * returns the artifact's tables and the build's shuffle-stage count. */
  private def build(family: String, d: String, confs: Map[String, String],
      dirOf: (SparkSession, String) => String,
      tables: Seq[String]): (Map[String, Seq[String]], Int) = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s.conf.set(s"graft.$family.dir",
      java.nio.file.Files.createTempDirectory(s"graft-$family-gate").toString)
    val shuffleStages = new AtomicInteger()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          shuffleStages.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val dir =
      try dirOf(s, d)
      finally {
        org.apache.spark.graft.ListenerBus.drain(sc)
        sc.removeSparkListener(listener)
      }
    (tableRows(s, dir, tables), shuffleStages.get)
  }

  private val Forced = Map("graft.embedding.broadcastMaxRows" -> "100")

  /** Local vs forced-distributed build of one artifact; returns the two
    * shuffle-stage counts after asserting the tables are identical. */
  private def bothBranches(family: String, d: String, confs: Map[String, String],
      dirOf: (SparkSession, String) => String, tables: Seq[String]): (Int, Int) = {
    val (local, localShuffles) = build(family, d, confs, dirOf, tables)
    val (dist, distShuffles) = build(family, d, confs ++ Forced, dirOf, tables)
    tables.foreach { t =>
      assert(local(t).nonEmpty, s"$t is empty")
      assert(local(t) == dist(t), s"$t differs between the local and distributed builds")
    }
    assert(distShuffles > 0, "the forced build must train distributed")
    (localShuffles, distShuffles)
  }

  private val IvfTables = Seq("centroids", "corpus")

  test("ivf_index at 16 cells: the local build equals the distributed one, with no shuffle") {
    val (local, _) = bothBranches("ivf", sf, Map.empty, Ann.ivfIndexDirForSpec, IvfTables)
    assert(local == 0, s"the local build ran $local shuffle stages")
  }

  test("ivf_index at 64 cells: the local build equals the distributed one, with no shuffle") {
    val (local, _) = bothBranches("ivf", sf, Map("graft.ivf.cells" -> "64"),
      Ann.ivfIndexDirForSpec, IvfTables)
    assert(local == 0, s"the local build ran $local shuffle stages")
  }

  test("sampled ivf_index: the driver-side residue sample equals the distributed one") {
    // 2,000 vectors at sf0.1 against a 500-row sample target
    val (local, _) = bothBranches("ivf", sf01, Map("graft.ann.trainSampleRows" -> "500"),
      Ann.ivfIndexDirForSpec, IvfTables)
    assert(local == 0, s"the local build ran $local shuffle stages")
  }

  test("ivf_incr: the local build equals the distributed one, with no shuffle") {
    val (local, _) = bothBranches("ivf", sf, Map.empty, Ann.ivfIncrDirForSpec,
      Seq("centroids", "gen-0/corpus", "gen-1/corpus"))
    assert(local == 0, s"the local build ran $local shuffle stages")
  }

  test("pq_index: the local build equals the distributed one, with fewer shuffles") {
    // the codes write aggregates per vector in both branches; only the
    // training's seed window and Lloyd aggregates go away
    val (local, dist) = bothBranches("pq", sf, Map.empty, Ann.pqIndexDirForSpec,
      Seq("codebook", "codes"))
    assert(local < dist, s"local build ran $local shuffle stages, distributed $dist")
  }

  /** A dataset dir holding the first `n` vectors of the sf0.001 corpus. */
  private def corpusPrefix(n: Long): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-train").toString
    graft.operators.Tables.embeddings(spark, sf).filter(col("vec_id") < n)
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def ivfBuildError(d: String, confs: Map[String, String]): String = {
    val e = intercept[IllegalArgumentException](
      build("ivf", d, confs, Ann.ivfIndexDirForSpec, IvfTables))
    e.getMessage
  }

  test("an empty embeddings table fails the IVF build loudly") {
    // zero rows fit every cap, so both settings take the local branch
    val d = corpusPrefix(0)
    Seq(Map.empty[String, String], Forced).foreach { confs =>
      assert(ivfBuildError(d, confs).contains("IVF training set is empty"))
    }
  }

  test("a trainSampleRows sample that keeps no row fails the IVF build on both branches") {
    // at n = 200 and trainSampleRows = 1 the residue sample keeps each
    // vector with probability 5242 / 2^20, and none of vec_id 0..199 passes
    val d = corpusPrefix(200)
    Seq(Map.empty[String, String], Forced).foreach { confs =>
      val msg = ivfBuildError(d, confs + ("graft.ann.trainSampleRows" -> "1"))
      assert(msg.contains("IVF training set is empty") &&
        msg.contains("graft.ann.trainSampleRows"), msg)
    }
  }

  test("a non-positive trainSampleRows fails the IVF build on both branches") {
    Seq("0", "-1").foreach { m =>
      Seq(Map.empty[String, String], Forced).foreach { confs =>
        val msg = ivfBuildError(sf, confs + ("graft.ann.trainSampleRows" -> m))
        assert(msg.contains("graft.ann.trainSampleRows must be positive"), msg)
      }
    }
  }

  test("a broadcastMaxRows cap outside (0, Int.MaxValue) fails instead of truncating") {
    // the training probe is limit(cap + 1): a cap at Int.MaxValue would
    // overflow it and silently train on a truncated set
    Seq(Int.MaxValue.toString, Long.MaxValue.toString, "0").foreach { cap =>
      val msg = ivfBuildError(sf, Map("graft.embedding.broadcastMaxRows" -> cap))
      assert(msg.contains("graft.embedding.broadcastMaxRows"), msg)
    }
  }
}
