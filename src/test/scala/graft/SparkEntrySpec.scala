package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver maps are merged from one module list: every key is declared
  * once and has an oracle. */
class SparkEntrySpec extends AnyFunSuite {

  private val q: SparkEntry.Query = (s, _) => s.emptyDataFrame

  test("driver maps reject a key declared twice and a key without an oracle") {
    assert(SparkEntry.queries.nonEmpty)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    val dup = intercept[IllegalArgumentException](SparkEntry.merged(Seq(
      Map("k" -> q) -> Map("k" -> "SELECT 1"),
      Map("k" -> q) -> Map("k" -> "SELECT 2"))))
    assert(dup.getMessage.contains("declared by two modules: k"))
    val orphan = intercept[IllegalArgumentException](SparkEntry.merged(Seq(
      Map("k" -> q, "j" -> q) -> Map("k" -> "SELECT 1"))))
    assert(orphan.getMessage.contains("keys without an oracle: j;"))
  }
}
