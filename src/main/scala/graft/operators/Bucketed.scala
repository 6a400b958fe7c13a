package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Exact._
import graft.SparkEntry.Op

/** B22 — bucketed co-located join as a gated query: the fact tables are
  * written ONCE per data dir as bucketed+sorted tables (hash-pre-shuffled on
  * the join key at write time), and every subsequent join on that key plans
  * with NO shuffle exchange on either side — the co-location contract a
  * 100 TB fact table amortizes across every query that joins it. The two
  * tables are one [[graft.Artifacts.stored]] generation, registered per
  * generation ([[graft.Artifacts.saveBucketed]]): kept across calls BY
  * DESIGN, rebuilt when either fact table changes in place. BucketingSpec
  * pins the no-exchange plan shape; the oracle pins the result against the
  * plain unbucketed join.
  */
object Bucketed {

  val Buckets = 8

  private def ensureTables(s: SparkSession, d: String): (String, String) = {
    val dir = graft.Artifacts.stored(s, "bucketed_facts", d,
        Seq("lineitem.parquet", "orders.parquet"), Buckets) { dir =>
      graft.Artifacts.saveBucketed(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice")),
        dir, "graft_bkt_lineitem", Buckets, "l_orderkey")
      graft.Artifacts.saveBucketed(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
        dir, "graft_bkt_orders", Buckets, "o_orderkey")
    }
    (graft.Artifacts.tableIn(dir, "graft_bkt_lineitem"),
      graft.Artifacts.tableIn(dir, "graft_bkt_orders"))
  }

  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val (lt, ot) = ensureTables(s, d)
    s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
  }

  val ops: Map[String, Op] = Map(
    "bucketed_join" -> Op(bucketedJoin _, s"""
      SELECT o_orderpriority, COUNT(*) AS n,
        ${sqlDsum("l_extendedprice")} AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))
}
