package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Exact._
import graft.SparkEntry.Op

/** B22 — bucketed co-located join as a gated query: the fact tables are
  * written ONCE per data dir as bucketed+sorted tables (hash-pre-shuffled on
  * the join key at write time), and every subsequent join on that key plans
  * with NO shuffle exchange on either side — the co-location contract a
  * 100 TB fact table amortizes across every query that joins it. The tables
  * are kept across calls BY DESIGN (write-once is the point; same persistent
  * -artifact pattern as the E7 corpus index); rebuilt only when absent from
  * the catalog. BucketingSpec pins the no-exchange plan shape; the oracle
  * pins the result against the plain unbucketed join.
  */
object Bucketed {

  val Buckets = 8

  private def dirSlug(d: String): String =
    d.replaceAll("[^A-Za-z0-9]", "_").toLowerCase

  /** Clear a table and any stale on-disk location a previous JVM left
    * behind (the in-memory catalog forgets tables across JVMs but their
    * warehouse dirs persist; CTAS refuses a stale location).
    */
  private def resetTable(s: SparkSession, tbl: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS `$tbl`")
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), tbl)
    loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
  }

  private def ensureTables(s: SparkSession, d: String): (String, String) = {
    val slug = dirSlug(d)
    val lt = s"graft_bkt_lineitem_$slug"
    val ot = s"graft_bkt_orders_$slug"
    // write-once BY DESIGN, but never across a source regeneration: the
    // in-JVM fingerprint ledger ([[graft.Artifacts]]) forces a rebuild when
    // the fact parquet changes under an existing catalog entry
    val fp = graft.Artifacts.fingerprint(
      s, s"$d/lineitem.parquet", s"$d/orders.parquet")
    if (!Seq(lt, ot).forall(s.catalog.tableExists) ||
        graft.Artifacts.tableStale(s, lt, fp)) {
      Seq(lt, ot).foreach(resetTable(s, _))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"))
        .write.bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(lt)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.bucketBy(Buckets, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(ot)
      graft.Artifacts.markTableBuilt(s, lt, fp)
    }
    (lt, ot)
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
