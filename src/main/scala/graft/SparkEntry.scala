package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  type Query = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The end-to-end data-prep composite V2 is the engine's identity piece:
    * quality gate + language ID + keep-BEST near-dup dedup + eval-set
    * decontamination + per-source trim + LEARNED-BPE token accounting +
    * water-filling mix allocation, fused into one Catalyst plan over three
    * documents scans plus two fingerprint-versioned artifact reads.
    */
  def entry(spark: SparkSession): DataFrame =
    CorpusClean.corpusPrepareV2(spark, "/root/testdata/sf0.001")

  /** Every operator module, named once: its queries and its oracles. A def,
    * because Pca writes its oracle text from the rotation its gated query
    * last served. */
  private def modules: Seq[(Map[String, Query], Map[String, String])] = Seq(
    Relational.queries -> Relational.oracles,
    Analytics.queries -> Analytics.oracles,
    TpchMore.queries -> TpchMore.oracles,
    Graph.queries -> Graph.oracles,
    BeamParity.queries -> BeamParity.oracles,
    TextAnalysis.queries -> TextAnalysis.oracles,
    CorpusClean.queries -> CorpusClean.oracles,
    CorpusSpans.queries -> CorpusSpans.oracles,
    Signals.queries -> Signals.oracles,
    Bucketed.queries -> Bucketed.oracles,
    SetSketch.queries -> SetSketch.oracles,
    BpeTrain.queries -> BpeTrain.oracles,
    QualityTrain.queries -> QualityTrain.oracles,
    UlmTrain.queries -> UlmTrain.oracles,
    ScaleCurve.queries -> ScaleCurve.oracles,
    graft.dedup.Dedup.queries -> graft.dedup.Dedup.oracles,
    graft.similarity.Ann.queries -> graft.similarity.Ann.oracles,
    graft.similarity.Pca.queries -> graft.similarity.Pca.oracles,
    graft.multimodal.Multimodal.queries -> graft.multimodal.Multimodal.oracles,
    graft.streaming.Streams.queries -> graft.streaming.Streams.oracles)

  /** The driver maps merged from `ms`. A key declared by two modules, or a
    * key without an oracle (or an oracle without a key), fails here
    * instead of one declaration silently overwriting another. */
  private[graft] def merged(ms: Seq[(Map[String, Query], Map[String, String])])
      : (Map[String, Query], Map[String, String]) = {
    def list(ks: Set[String]) = ks.toSeq.sorted.mkString(", ")
    def union[V](maps: Seq[Map[String, V]], what: String): Map[String, V] = {
      val dup = maps.flatMap(_.keys).groupBy(identity).collect {
        case (k, ks) if ks.size > 1 => k
      }
      require(dup.isEmpty, s"$what keys declared by two modules: ${list(dup.toSet)}")
      maps.foldLeft(Map.empty[String, V])(_ ++ _)
    }
    val q = union(ms.map(_._1), "query")
    val o = union(ms.map(_._2), "oracle")
    require(q.keySet == o.keySet,
      s"keys without an oracle: ${list(q.keySet -- o.keySet)}; " +
        s"oracles without a key: ${list(o.keySet -- q.keySet)}")
    (q, o)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, Query] = merged(modules)._1

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = merged(modules)._2
}
