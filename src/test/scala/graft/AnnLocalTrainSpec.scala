package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, transform}
import graft.plans.MixHash
import graft.similarity.Ann

/** Every IVF and PQ trainer runs on the driver over one bounded sample:
  * the whole training set when it fits `graft.embedding.broadcastMaxRows`,
  * else a deterministic splitmix64 residue sample of at most cap rows.
  * Over the cap, a build must be repeatable, and its centroids or codebook
  * must equal an under-cap build over a corpus that holds exactly the
  * sample rows (raw double bits). Each build lands in a fresh family root,
  * so no two builds share an artifact generation.
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
      tempDir(s"graft-$family-gate").toString)
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

  private val IvfTables = Seq("centroids", "corpus")

  test("ivf_index at 16 cells: an under-cap build runs no shuffle") {
    val (tables, shuffles) = build("ivf", sf, Map.empty, Ann.ivfIndexDir, IvfTables)
    assert(tables("centroids").length == Ann.IvfCells && tables("corpus").nonEmpty)
    assert(shuffles == 0, s"the under-cap build ran $shuffles shuffle stages")
  }

  test("ivf_index at 64 cells: an under-cap build runs no shuffle") {
    val (tables, shuffles) = build("ivf", sf, Map("graft.ivf.cells" -> "64"),
      Ann.ivfIndexDir, IvfTables)
    assert(tables("centroids").length == 64 && tables("corpus").nonEmpty)
    assert(shuffles == 0, s"the under-cap build ran $shuffles shuffle stages")
  }

  /** (vec_id, v) of `d`'s embeddings in the trainers' input shape. */
  private def vectors(d: String)(s: SparkSession): DataFrame =
    graft.operators.Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))

  /** The over-cap sample replayed from its definition: the splitmix64
    * residue filter at target min(trainSampleRows, cap) over the n training
    * ids, then the cap ids of smallest (residue, vec_id). */
  private def replaySample(ids: Seq[Long], target: Long, cap: Int): Seq[Long] = {
    val den = 1L << 20
    val keep = (den * target / ids.length).max(1L)
    def residue(id: Long) = Math.floorMod(MixHash.splitmix64(id), den)
    ids.filter(residue(_) < keep).sortBy(id => (residue(id), id)).take(cap)
  }

  /** A dataset dir whose embeddings table holds exactly `ids` of `d`'s. */
  private def plantedCorpus(d: String, ids: Seq[Long]): String = {
    val dir = tempDir("graft-train-sample").toString
    graft.operators.Tables.embeddings(spark, d).filter(col("vec_id").isin(ids: _*))
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** An over-cap build of one artifact, whose training set is `train`:
    * it samples at most `cap` rows by the residue rule, two builds in
    * fresh roots are identical, and its `trained` table equals an
    * under-cap build's over a corpus planted with exactly the sample. */
  private def overCapBuild(family: String, d: String, cap: Int,
      train: SparkSession => DataFrame, dirOf: (SparkSession, String) => String,
      tables: Seq[String], trained: String): Unit = {
    val confs = Map("graft.embedding.broadcastMaxRows" -> cap.toString)
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    val ids = train(s).select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    assert(ids.length > cap, s"the training set (${ids.length} rows) must exceed cap $cap")
    val sample = Ann.trainingSampleIdsForSpec(train(s))
    assert(sample.nonEmpty && sample.length <= cap,
      s"the sample has ${sample.length} rows against cap $cap")
    assert(sample.sorted.toSeq == replaySample(ids, cap, cap).sorted)
    val (first, _) = build(family, d, confs, dirOf, tables)
    val (second, _) = build(family, d, confs, dirOf, tables)
    assert(first == second, "two over-cap builds differ")
    val (planted, _) = build(family, plantedCorpus(d, sample.toSeq), Map.empty, dirOf,
      Seq(trained))
    assert(first(trained).nonEmpty && first(trained) == planted(trained),
      s"$trained differs from an under-cap build over the sample")
  }

  test("ivf_index over the cap: repeatable, trained on at most cap sampled rows") {
    overCapBuild("ivf", sf, 100, vectors(sf), Ann.ivfIndexDir, IvfTables,
      "centroids")
  }

  test("ivf_incr over the cap: repeatable, trained on at most cap sampled rows") {
    // the base arrivals: every vector outside the appended residue class
    def base(s: SparkSession): DataFrame = vectors(sf)(s).filter(
      pmod(MixHash.splitmix64Col(col("vec_id")), lit(Ann.IvfIncrMod.toLong)) =!= Ann.IvfIncrRes)
    overCapBuild("ivf", sf, 100, base, Ann.ivfIncrDir,
      Seq("centroids", "gen-0/corpus", "gen-1/corpus"), "centroids")
  }

  test("pq_index over the cap: repeatable, trained on at most cap sampled rows") {
    // 2,000 vectors against a 500-row cap: ~62 per vec_id % 32 residue
    // class, ~1/4 sampled, so every class keeps a seed
    overCapBuild("pq", sf01, 500, vectors(sf01), Ann.pqIndexDir,
      Seq("codebook", "codes"), "codebook")
  }

  /** A dataset dir holding the first `n` vectors of the sf0.001 corpus. */
  private def corpusPrefix(n: Long): String = {
    val dir = tempDir("graft-ivf-train").toString
    graft.operators.Tables.embeddings(spark, sf).filter(col("vec_id") < n)
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def ivfBuildError(d: String, confs: Map[String, String]): String = {
    val e = intercept[IllegalArgumentException](
      build("ivf", d, confs, Ann.ivfIndexDir, IvfTables))
    e.getMessage
  }

  test("an empty embeddings table fails the IVF build loudly") {
    // zero rows fit every cap, so both settings take the under-cap branch
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
