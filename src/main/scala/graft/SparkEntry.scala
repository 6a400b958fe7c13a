package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  type Query = (SparkSession, String) => DataFrame

  /** One gated operator: the query and the ANSI SQL that DuckDB runs on the
    * same parquet tables to check it. */
  case class Op(run: Query, oracle: String)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The end-to-end data-prep composite V2 is the engine's identity piece:
    * quality gate + language ID + keep-BEST near-dup dedup + eval-set
    * decontamination + per-source trim + LEARNED-BPE token accounting +
    * water-filling mix allocation, fused into one Catalyst plan over three
    * documents scans plus two fingerprint-versioned artifact reads.
    */
  def entry(spark: SparkSession): DataFrame =
    CorpusClean.corpusPrepareV2(spark, "/root/testdata/sf0.001")

  /** Every operator module, named once. A def, because Pca writes its
    * oracle text from the rotation its gated query last served. */
  private def modules: Seq[Map[String, Op]] = Seq(
    Relational.ops, Analytics.ops, TpchMore.ops, Graph.ops, BeamParity.ops,
    TextAnalysis.ops, CorpusClean.ops, CorpusSpans.ops, Signals.ops,
    Bucketed.ops, SetSketch.ops, BpeTrain.ops, QualityTrain.ops, UlmTrain.ops,
    ScaleCurve.ops, graft.dedup.Dedup.ops, graft.similarity.Ann.ops,
    graft.similarity.Pca.ops, graft.multimodal.Multimodal.ops,
    graft.streaming.Streams.ops)

  /** The module maps merged into one. A key declared by two modules fails
    * here instead of one declaration silently overwriting another. */
  private[graft] def merged(ms: Seq[Map[String, Op]]): Map[String, Op] = {
    val dup = ms.flatMap(_.keys).groupBy(identity).collect {
      case (k, ks) if ks.size > 1 => k
    }
    require(dup.isEmpty, s"keys declared by two modules: ${dup.toSeq.sorted.mkString(", ")}")
    ms.foldLeft(Map.empty[String, Op])(_ ++ _)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, Query] = merged(modules).map { case (k, op) => k -> op.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = merged(modules).map { case (k, op) => k -> op.oracle }
}
