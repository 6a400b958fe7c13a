package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver maps are merged from one module list: every key is declared
  * once, together with its oracle. */
class SparkEntrySpec extends AnyFunSuite {

  private val q: SparkEntry.Query = (s, _) => s.emptyDataFrame

  test("driver maps reject a key declared twice") {
    assert(SparkEntry.queries.nonEmpty)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    val dup = intercept[IllegalArgumentException](SparkEntry.merged(Seq(
      Map("k" -> SparkEntry.Op(q, "SELECT 1")),
      Map("k" -> SparkEntry.Op(q, "SELECT 2")))))
    assert(dup.getMessage.contains("declared by two modules: k"))
  }

  test("Pca's oracle is written from the rotation its key last served") {
    val key = "emb_pca_project"
    assert(SparkEntry.queries(key)(SparkSpecBase.spark, SparkSpecBase.sf).count() > 0)
    assert(!SparkEntry.oracleSql(key).contains("WHERE 1 = 0"),
      s"$key oracle is still the placeholder after the key ran")
  }

  test("every PlanAudit exemption names a declared key or audit frame") {
    val frames = (graft.operators.ScaleCurve.auditFrameBuilders ++
      graft.multimodal.Multimodal.mmPrepareAuditFrames).map(_._1.split("@")(0))
    val known = SparkEntry.queries.keySet ++ frames
    val stale = (PlanAudit.SinglePartitionOk ++ PlanAudit.ObjectAggOk)
      .map(_.split("@")(0)).filterNot(known)
    assert(stale.isEmpty, s"exemptions for undeclared names: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
