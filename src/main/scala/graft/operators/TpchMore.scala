package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Exact._
import graft.SparkEntry.Op

/** TPC-H pattern completion (SURVEY §2 B46+): the remaining nine of the 22
  * TPC-H query shapes, adapted where this schema lacks `partsupp` or the
  * commit/receipt dates (each adaptation keeps the query's distinctive plan
  * pattern — correlated min subquery, double-EXISTS, share-of-total — on the
  * columns that exist). Same contract as [[Relational]]/[[Analytics]]:
  * declarative plans, unsorted outputs, int128-exact money sums.
  */
object TpchMore {

  private def revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** B46 — Q6-style forecast revenue: the canonical pure scan-filter-agg.
    * Zero joins, zero shuffles beyond the final 1-row reduce; every predicate
    * (ship year, discount band, quantity cap) pushes to the parquet scan, so
    * at 100 TB the query reads only row groups whose min/max stats overlap
    * the band. The plan to check is PushedFilters on all three columns.
    */
  def q6Forecast(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= expr("timestamp'1996-01-01 00:00:00'") &&
        col("l_shipdate") < expr("timestamp'1997-01-01 00:00:00'") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))

  /** B47 — Q4-style priority check (EXISTS): orders in one quarter that had
    * at least one slow-to-ship line (>60 days after order; the schema has no
    * commit/receipt dates, so lateness is ship-vs-order). The EXISTS is a
    * LEFT SEMI join on o_orderkey with the lateness test in the join
    * condition — the probe side is date-pruned at the scan, and the count per
    * priority is a 5-row aggregate.
    */
  def q4PriorityExists(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= expr("timestamp'1996-01-01 00:00:00'") &&
        col("o_orderdate") < expr("timestamp'1996-04-01 00:00:00'"))
    val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** B48 — Q8-style national market share: one nation's share of a region's
    * import volume for one part type, per order year. The nation dim joins
    * twice in different roles (customer region membership / supplier
    * nationality); the share is a ratio of two int128-exact conditional sums
    * computed in the SAME aggregate pass — one scan, one group-by-year
    * shuffle, never two queries joined.
    */
  val Q8Nation = "NATION_2"

  def q8MarketShare(s: SparkSession, d: String): DataFrame = {
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val asia = Tables.region(s, d).filter(col("r_name") === "ASIA")
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).filter(col("p_type") === "PROMO")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate").between(
            expr("timestamp'1996-01-01 00:00:00'"),
            expr("timestamp'1997-12-31 00:00:00'"))),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
      .join(broadcast(asia), col("c_rk") === col("r_regionkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(round(
        dsum(when(col("supp_nation") === Q8Nation, revenue).otherwise(lit(0.0)))
          / dsum(revenue), 6).as("mkt_share"))
  }

  /** B49 — Q9-style product-line profit: per supplier nation and order year,
    * profit on parts matching a name pattern. The schema has no
    * ps_supplycost, so cost is the 0.6·p_retailprice·l_quantity proxy — the
    * plan shape (LIKE-filtered part dim broadcast into the fact, then a
    * (nation, year) rollup) is the Q9 pattern. The amount expression runs in
    * IEEE doubles identically on both engines before the one exact rounding.
    */
  def q9Profit(s: SparkSession, d: String): DataFrame = {
    val amount = revenue - lit(0.6) * col("p_retailprice") * col("l_quantity")
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).filter(col("p_name").contains("gear"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(dsum(amount).as("sum_profit"))
  }

  /** B50 — Q15-style top supplier: quarterly revenue per supplier, return
    * the supplier(s) achieving the maximum. The revenue view aggregates
    * BEFORE anything joins (one shuffle on l_suppkey); the max is a 1-row
    * aggregate over the per-supplier rows broadcast back as a filter — the
    * view-plus-scalar-subquery pattern without materializing a view. Revenue
    * equality is safe because both engines compute the identical int128-exact
    * sum.
    */
  def q15TopSupplier(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= expr("timestamp'1996-01-01 00:00:00'") &&
        col("l_shipdate") < expr("timestamp'1996-04-01 00:00:00'"))
      .groupBy(col("l_suppkey"))
      .agg(dsum(revenue).as("total_revenue"))
    val mx = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_revenue") === col("max_revenue"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  /** B51 — Q16-style supplier diversity count: distinct suppliers per part
    * (brand, type, size) bucket, excluding a supplier blacklist (negative
    * account balance, standing in for Q16's complaints filter). The
    * blacklist is a broadcast ANTI join; COUNT(DISTINCT) shuffles (bucket,
    * suppkey) pairs — bounded by parts × suppliers, not lineitems.
    */
  val Q16Sizes: Seq[Int] = Seq(1, 4, 9, 14, 19, 23, 36, 45)

  def q16SupplierCnt(s: SparkSession, d: String): DataFrame = {
    val bad = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
          .filter(col("p_brand") =!= "Brand#45" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(Q16Sizes: _*))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** B52 — Q2-style min-cost supplier: for each small part, the supplier
    * with the lowest observed average unit price (no partsupp table, so the
    * price book is derived from lineitem history). The correlated min
    * subquery becomes a per-part min joined back on (part, cost) equality —
    * both sides shuffle on l_partkey, ties broken by MIN(suppkey). The 6dp
    * rounding makes the equality join deterministic on both engines.
    */
  def q2MinCostSupplier(s: SparkSession, d: String): DataFrame = {
    val pc = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(davg(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
    val m = pc.groupBy(col("l_partkey").as("m_partkey"))
      .agg(min(col("unit_cost")).as("min_cost"))
    pc.join(m, col("l_partkey") === col("m_partkey") &&
        col("unit_cost") === col("min_cost"))
      .join(broadcast(Tables.part(s, d).filter(col("p_size") <= 5)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("p_name"), col("min_cost"))
      .agg(min(col("l_suppkey")).as("best_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("best_suppkey"), col("min_cost"))
  }

  /** B53 — Q20-style dominant supplier: suppliers shipping more than twice
    * the average supplier's share of a part's total volume (among parts with
    * ≥3 suppliers) — the share-of-total shape Q20 runs against availqty,
    * derived from shipment history. Two stacked aggregates on l_partkey
    * reuse one hash partitioning; quantities are integer-valued so every sum
    * and the 2× threshold compare are exact in doubles.
    */
  def q20DominantSupplier(s: SparkSession, d: String): DataFrame = {
    val ps = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(dsum(col("l_quantity")).as("q"))
    val pt = ps.groupBy(col("l_partkey").as("t_partkey"))
      .agg(sum(col("q")).as("tot"), count(lit(1)).as("ns"))
    ps.join(pt, col("l_partkey") === col("t_partkey"))
      .filter(col("ns") >= 3 && col("q") * col("ns") > lit(2.0) * col("tot"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("n_parts_dominant"))
  }

  /** B54 — Q21-style waiting-blame (double EXISTS): in finished
    * multi-supplier orders, the supplier whose line shipped late (>30 days
    * after order) while every OTHER supplier's lines were on time — Q21's
    * "who held up the order" with ship-vs-order lateness standing in for the
    * missing commit/receipt dates. EXISTS is a LEFT SEMI against all lines,
    * NOT EXISTS a LEFT ANTI against the late set, both keyed on l_orderkey
    * with the supplier-inequality in the join condition, so the whole query
    * reuses one hash partitioning on orderkey before the per-supplier count.
    */
  def q21LateSupplier(s: SparkSession, d: String): DataFrame = {
    val late = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"))
      .select(col("l_orderkey"), col("l_suppkey"))
    val others = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o2_orderkey"), col("l_suppkey").as("o2_suppkey"))
    val lateOthers = late
      .select(col("l_orderkey").as("o3_orderkey"), col("l_suppkey").as("o3_suppkey"))
    late
      .join(others, col("l_orderkey") === col("o2_orderkey") &&
        col("l_suppkey") =!= col("o2_suppkey"), "left_semi")
      .join(lateOthers, col("l_orderkey") === col("o3_orderkey") &&
        col("l_suppkey") =!= col("o3_suppkey"), "left_anti")
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
  }

  /** B56 — market-basket pair mining: part pairs co-purchased in the same
    * order, with support counts and lift — the association-rule primitive
    * behind recommenders. The within-basket self-join is keyed on
    * l_orderkey, so its blowup is bounded by basket size squared (≤7 lines
    * per order at any corpus size — linear overall, never corpus²); the
    * (pa < pb) canonical orientation halves the pairs and makes output
    * deterministic. Lift = support·N / (ca·cb) runs on exact integer counts
    * with one rounded double division per surviving pair.
    */
  val BasketMinSupport = 2

  /** Hard bound on basket size (`graft.basket.maxItems`, default 1024): a
    * basket's pair enumeration is quadratic in its size, and the ≤7-lines
    * property of this schema is a TPC-H artifact, not an invariant — one
    * mega-basket in a real feed would blow executor memory (or trip
    * array_pairs' Int.MaxValue limit and abort the job) without a cap.
    */
  val BasketItems = graft.Gate("graft.basket.maxItems", 1024, 1)

  /** Per-basket derivation with the scale cap ENFORCED IN THE AGGREGATE
    * ([[graft.plans.BoundedBasketAgg]] — the E2/E6 BoundedPostingsAgg
    * discipline): each basket keeps its `maxItems` smallest distinct parts
    * (a deterministic prefix of the sorted basket, so results are
    * replayable) and flags the truncation. Exposed for the cap audit.
    */
  private[graft] def baskets(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(graft.plans.SketchAggs
        .boundedBasket(col("l_partkey"), BasketItems.cap(s)).as("b"))

  /** Co-purchase pair counts above `minSupport`, shared by [[basketPairs]]
    * and the B57 PageRank edge derivation. NOT a self-join: each order's
    * distinct parts are collected into one sorted basket array (bounded by
    * [[BasketItems]] — mega-baskets degrade to a deterministic prefix
    * instead of a quadratic blow-up, see [[baskets]]) and the pairs
    * enumerate IN-ARRAY, so the whole derivation is two hash aggregates —
    * one shuffle on l_orderkey, one on the pair key — where the join form
    * paid a distinct shuffle plus both self-join sides. Sorted distinct
    * baskets make the (pa < pb) orientation free; the enumeration itself is
    * the codegen [[graft.plans.ArrayPairs]] nested loop, not interpreted
    * HOF lambdas.
    */
  def coPurchasePairs(s: SparkSession, d: String, minSupport: Int): DataFrame =
    baskets(s, d)
      .select(explode(graft.plans.ArrayPairs.pairs(col("b.ps"))).as("pr"))
      .select(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)

  /** Cap audit for [[coPurchasePairs]]: how many baskets were truncated by
    * `graft.basket.maxItems`, and the largest kept size. Zero capped rows
    * means the pair counts are exact; a nonzero count quantifies the
    * deliberate recall trade the cap makes on pathological feeds.
    */
  def basketCapAudit(s: SparkSession, d: String): DataFrame =
    baskets(s, d).agg(
      sum(when(col("b.capped"), 1L).otherwise(0L)).as("baskets_capped"),
      count(lit(1)).as("baskets_total"),
      max(size(col("b.ps"))).as("max_kept_items"))

  def basketPairs(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val pairs = coPurchasePairs(s, d, BasketMinSupport)
    val partCounts = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
    // basket total as a 1-row broadcast, not a driver action (q22 pattern)
    val nBaskets = li.agg(countDistinct(col("l_orderkey")).as("n_baskets"))
    pairs
      .join(broadcast(partCounts.select(col("l_partkey").as("pa"), col("c").as("ca"))), "pa")
      .join(broadcast(partCounts.select(col("l_partkey").as("pb"), col("c").as("cb"))), "pb")
      .crossJoin(broadcast(nBaskets))
      .select(col("pa"), col("pb"), col("support"),
        round(col("support") * col("n_baskets").cast("double") / (col("ca") * col("cb")), 6)
          .as("lift"))
  }

  /** B58 — snapshot diff (data reconciliation): classify every key as
    * added / removed / changed between two per-customer activity snapshots
    * (1995-1997 vs 1996-1998 order windows — overlapping so all three
    * classes populate). One full-outer join on the key; unchanged keys are
    * dropped so the output is the EXCEPTION REPORT, which is what stays
    * small at 100 TB (the diff of two healthy snapshots is near-empty
    * even when the snapshots are huge). The aggregate pair reuses one hash
    * partitioning on o_custkey.
    */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    def snap(lo: String, hi: String) = Tables.orders(s, d)
      .filter(col("o_orderdate") >= expr(s"timestamp'$lo 00:00:00'") &&
        col("o_orderdate") < expr(s"timestamp'$hi 00:00:00'"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
    val s1 = snap("1995-01-01", "1998-01-01")
      .select(col("o_custkey"), col("n").as("n1"), col("total").as("t1"))
    val s2 = snap("1996-01-01", "1999-01-01")
      .select(col("o_custkey").as("c2"), col("n").as("n2"), col("total").as("t2"))
    s1.join(s2, col("o_custkey") === col("c2"), "full_outer")
      .select(coalesce(col("o_custkey"), col("c2")).as("custkey"),
        when(col("o_custkey").isNull, "added")
          .when(col("c2").isNull, "removed")
          .when(col("n1") =!= col("n2") || col("t1") =!= col("t2"), "changed")
          .otherwise("same").as("change"),
        col("n1"), col("t1"), col("n2"), col("t2"))
      .filter(col("change") =!= "same")
  }

  val snapshotDiffSql: String = s"""
    WITH s1 AS (
      SELECT o_custkey, COUNT(*) AS n1, ${sqlDsum("o_totalprice")} AS t1
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1),
    s2 AS (
      SELECT o_custkey, COUNT(*) AS n2, ${sqlDsum("o_totalprice")} AS t2
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      GROUP BY 1)
    SELECT COALESCE(s1.o_custkey, s2.o_custkey) AS custkey,
      CASE WHEN s1.o_custkey IS NULL THEN 'added'
           WHEN s2.o_custkey IS NULL THEN 'removed'
           WHEN s1.n1 <> s2.n2 OR s1.t1 <> s2.t2 THEN 'changed'
           ELSE 'same' END AS change,
      s1.n1, s1.t1, s2.n2, s2.t2
    FROM s1 FULL OUTER JOIN s2 ON s1.o_custkey = s2.o_custkey
    WHERE CASE WHEN s1.o_custkey IS NULL THEN 'added'
           WHEN s2.o_custkey IS NULL THEN 'removed'
           WHEN s1.n1 <> s2.n2 OR s1.t1 <> s2.t2 THEN 'changed'
           ELSE 'same' END <> 'same'
    ORDER BY custkey"""

  /** B60 — Q11-style important stock: per-part supplied value from one
    * nation's suppliers, keeping only parts above a fraction of that
    * nation's TOTAL supplied value — the HAVING-over-global-scalar shape
    * (the last of the 22 TPC-H query shapes; no partsupp table, so supplied
    * value derives from lineitem history like Q2/Q20). Two aggregations of
    * one filtered join: per-part and global, both int128-exact ([[Exact]]),
    * the 1-row total broadcast back as a cross-join scalar. The threshold
    * compares `value · F > total` — multiplying the exact-derived doubles
    * instead of dividing the total keeps both engines on the identical
    * arithmetic. One shuffle on l_partkey; the nation's supplier set is a
    * broadcast semi-join; at 100 TB the filtered stripe is scanned twice
    * (or once with a persisted intermediate — the plan shape is unchanged).
    * TPC-H's literal fraction (0.0001/SF) hard-wires the scale factor; the
    * scale-FREE form keeps parts above [[Q11Multiple]]× the mean part value
    * — same plan, same semantics, meaningfully selective at every SF
    * (~10-12% of parts at sf0.001 through sf0.1).
    */
  val Q11Nation = "NATION_19"
  val Q11Multiple = 2.0 // keep parts with value > 2x the mean part value

  def q11ImportantStock(s: SparkSession, d: String): DataFrame = {
    val natSupp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
          .filter(col("n_name") === Q11Nation)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val base = Tables.lineitem(s, d)
      .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"),
        (col("l_extendedprice") * col("l_quantity")).as("v"))
    val vals = base.groupBy(col("l_partkey")).agg(dsum(col("v")).as("value"))
    // both scalars exact: the total re-aggregates the base (int128 — a
    // double re-sum of per-part values would be accumulation-order-dependent)
    val tot = base.agg(dsum(col("v")).as("total"))
    val np = vals.agg(count(lit(1)).as("np"))
    vals.crossJoin(broadcast(tot)).crossJoin(broadcast(np))
      .filter(col("value") * col("np") > lit(Q11Multiple) * col("total"))
      .select(col("l_partkey"), col("value"))
  }

  val q11Sql: String = s"""
    WITH ns AS (
      SELECT s_suppkey FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = '$Q11Nation'),
    base AS (
      SELECT l_partkey, l_extendedprice * l_quantity AS v
      FROM lineitem JOIN ns ON l_suppkey = s_suppkey),
    vals AS (
      SELECT l_partkey, ${Exact.sqlDsum("v")} AS value
      FROM base GROUP BY 1),
    tot AS (SELECT ${Exact.sqlDsum("v")} AS total FROM base),
    np AS (SELECT COUNT(*) AS np FROM vals)
    SELECT l_partkey, value FROM vals, tot, np
    WHERE value * np > $Q11Multiple * total ORDER BY l_partkey"""

  val ops: Map[String, Op] = Map(
    "q11_important_stock" -> Op(q11ImportantStock _, q11Sql),
    "snapshot_diff" -> Op(snapshotDiff _, snapshotDiffSql),
    "basket_pairs" -> Op(basketPairs _, s"""
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      p AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS support
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= $BasketMinSupport),
      pc AS (SELECT l_partkey, COUNT(*) AS c FROM li GROUP BY 1),
      nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM li)
      SELECT pa, pb, support,
        ROUND(support * CAST(n_baskets AS DOUBLE) / (ca.c * cb.c), 6) AS lift
      FROM p
      JOIN pc ca ON ca.l_partkey = pa
      JOIN pc cb ON cb.l_partkey = pb, nb
      ORDER BY pa, pb"""),
    "q6_forecast" -> Op(q6Forecast _, s"""
      SELECT ${sqlDsum("l_extendedprice * l_discount")} AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),
    "q4_priority" -> Op(q4PriorityExists _, """
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey
                      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY 1 ORDER BY 1"""),
    "q8_market_share" -> Op(q8MarketShare _, s"""
      SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
        ROUND(
          ${sqlDsum(s"CASE WHEN n2.n_name = '$Q8Nation' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
          / ${sqlDsum("l_extendedprice * (1 - l_discount)")}, 6) AS mkt_share
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
          AND TIMESTAMP '1997-12-31 00:00:00'
      GROUP BY 1 ORDER BY 1"""),
    "q9_profit" -> Op(q9Profit _, s"""
      SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
        ${sqlDsum("l_extendedprice * (1 - l_discount) - 0.6 * p_retailprice * l_quantity")} AS sum_profit
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%gear%'
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    "q15_top_supplier" -> Op(q15TopSupplier _, s"""
      WITH rev AS (
        SELECT l_suppkey, ${sqlDsum("l_extendedprice * (1 - l_discount)")} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY 1)
      SELECT s_suppkey, s_name, total_revenue
      FROM supplier JOIN rev ON s_suppkey = l_suppkey
      WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
      ORDER BY s_suppkey"""),
    "q16_supplier_cnt" -> Op(q16SupplierCnt _, s"""
      SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
        AND p_size IN (${Q16Sizes.mkString(", ")})
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    "q2_min_cost_supplier" -> Op(q2MinCostSupplier _, s"""
      WITH pc AS (
        SELECT l_partkey, l_suppkey,
          ${sqlDavg("l_extendedprice / l_quantity")} AS unit_cost
        FROM lineitem GROUP BY 1, 2),
      m AS (SELECT l_partkey, MIN(unit_cost) AS min_cost FROM pc GROUP BY 1)
      SELECT p_partkey, p_name, MIN(l_suppkey) AS best_suppkey, min_cost
      FROM pc
      JOIN m ON pc.l_partkey = m.l_partkey AND pc.unit_cost = m.min_cost
      JOIN part ON p_partkey = pc.l_partkey
      WHERE p_size <= 5
      GROUP BY 1, 2, 4 ORDER BY 1"""),
    "q20_dominant_supplier" -> Op(q20DominantSupplier _, s"""
      WITH ps AS (
        SELECT l_partkey, l_suppkey, ${sqlDsum("l_quantity")} AS q
        FROM lineitem GROUP BY 1, 2),
      pt AS (SELECT l_partkey, SUM(q) AS tot, COUNT(*) AS ns FROM ps GROUP BY 1)
      SELECT s_suppkey, s_name, COUNT(*) AS n_parts_dominant
      FROM ps JOIN pt USING (l_partkey)
      JOIN supplier ON s_suppkey = l_suppkey
      WHERE ns >= 3 AND q * ns > 2.0 * tot
      GROUP BY 1, 2 ORDER BY 1"""),
    "q21_late_supplier" -> Op(q21LateSupplier _, """
      WITH late AS (
        SELECT l_orderkey, l_suppkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
          AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      SELECT s_name, COUNT(*) AS numwait
      FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
      WHERE EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM late l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey)
      GROUP BY 1 ORDER BY 1""")
  )
}
