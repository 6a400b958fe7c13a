package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.Exact._
import graft.SparkEntry.Op

/** Second analytics block (SURVEY §2 B30+): aggregate-then-join, grouping
  * sets, funnel analysis, histogramming, CDC merge, and runtime bloom-filter
  * join pruning. Same contract as [[Relational]]: declarative plans, outputs
  * unsorted (the gate row-sorts), decimal-exact money math.
  */
object Analytics {

  /** B30 — TPC-H Q18-style large-volume orders: aggregate the fact table
    * FIRST (having-filter on the grouped sum), then join the surviving keys
    * to orders/customer. At 100 TB the pre-aggregation is the whole game:
    * the join input shrinks from every lineitem row to one row per
    * qualifying order before any wide join runs. Customer is broadcast.
    */
  def q18LargeVolume(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300)
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  /** B13c — GROUPING SETS beyond rollup/cube: per-returnflag totals,
    * per-linestatus totals, and the grand total in one pass. Catalyst
    * expands the sets map-side; still a single shuffle on the expanded keys.
    */
  def groupingSetsAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))

  /** C8 — event funnel: signup -> first view after signup -> first purchase
    * within 24h of that view. Every stage keys by user_id and the join
    * strategy is left to Catalyst: at small SF the per-user stage aggregates
    * sit under the broadcast threshold and plan as broadcast joins; at scale
    * their size estimate grows with the user count and the same query falls
    * back to shuffle joins co-partitioned on user_id (one shared hash
    * partitioning across all three stages). Nothing in the operator pins the
    * small-data plan. Each stage's headline count is a global aggregate —
    * a whitelisted 1-row single-partition reduce.
    */
  val FunnelPurchaseWindowUs: Long = 86400L * 1000000L

  def eventFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("ts_signup"))
    val vw = ev.filter(col("event_type") === "view")
      .join(su, "user_id")
      .filter(col("ts") > col("ts_signup"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("ts_view"))
    val pu = ev.filter(col("event_type") === "purchase")
      .join(vw, "user_id")
      .filter(col("ts") > col("ts_view") &&
        unix_micros(col("ts")) - unix_micros(col("ts_view")) <= FunnelPurchaseWindowUs)
      .groupBy(col("user_id")).agg(min(col("ts")).as("ts_purchase"))
    def stage(df: DataFrame, step: Int, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(step).as("step"), lit(name).as("stage"), col("n_users"))
    stage(su, 1, "signup")
      .unionByName(stage(vw, 2, "view"))
      .unionByName(stage(pu, 3, "purchase"))
  }

  /** C36 — TIME-TO-CONVERT report (round-13; the latency companion of C8's
    * count funnel — product analytics asks "how long", not just "how
    * many"): per funnel transition, the converting-user count and the
    * exact nearest-rank median and p90 of the transition latency. Stage
    * timestamps use C8's exact derivation (same constants, same strictly-
    * after + purchase-window rules); percentiles are the deterministic
    * lower nearest-rank ((n+1) DIV 2, (9n+9) DIV 10) over a per-stage rank
    * window with (delta, user_id) tiebreaks — all integer µs, no float
    * percentile anywhere. Per-stage frames are converting-users-sized.
    */
  def eventsFunnelTime(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("ts_signup"))
    val vw = ev.filter(col("event_type") === "view")
      .join(su, "user_id")
      .filter(col("ts") > col("ts_signup"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("ts_view"), min(col("ts_signup")).as("ts_signup"))
    val pu = ev.filter(col("event_type") === "purchase")
      .join(vw.select(col("user_id"), col("ts_view")), "user_id")
      .filter(col("ts") > col("ts_view") &&
        unix_micros(col("ts")) - unix_micros(col("ts_view")) <= FunnelPurchaseWindowUs)
      .groupBy(col("user_id")).agg(min(col("ts")).as("ts_purchase"), min(col("ts_view")).as("ts_view"))
    val deltas = vw.select(lit("signup_to_view").as("stage"), col("user_id"),
        (unix_micros(col("ts_view")) - unix_micros(col("ts_signup"))).as("delta"))
      .unionByName(pu.select(lit("view_to_purchase").as("stage"), col("user_id"),
        (unix_micros(col("ts_purchase")) - unix_micros(col("ts_view"))).as("delta")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("stage"))
    deltas
      .withColumn("rk", row_number().over(w.orderBy(col("delta"), col("user_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("rk") === expr("(n + 1) DIV 2") || col("rk") === expr("(9 * n + 9) DIV 10"))
      .groupBy(col("stage"))
      .agg(max(col("n")).as("n_users"),
        max(when(col("rk") === expr("(n + 1) DIV 2"), col("delta"))).as("median_us"),
        max(when(col("rk") === expr("(9 * n + 9) DIV 10"), col("delta"))).as("p90_us"))
  }

  val eventsFunnelTimeSql: String = s"""
    WITH su AS (
      SELECT user_id, MIN(ts) AS ts_signup FROM events
      WHERE event_type = 'signup' GROUP BY 1),
    vw AS (
      SELECT e.user_id, MIN(e.ts) AS ts_view, MIN(su.ts_signup) AS ts_signup
      FROM events e JOIN su USING (user_id)
      WHERE e.event_type = 'view' AND e.ts > su.ts_signup GROUP BY 1),
    pu AS (
      SELECT e.user_id, MIN(e.ts) AS ts_purchase, MIN(vw.ts_view) AS ts_view
      FROM events e JOIN vw USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > vw.ts_view
        AND epoch_us(e.ts) - epoch_us(vw.ts_view) <= $FunnelPurchaseWindowUs
      GROUP BY 1),
    d AS (
      SELECT 'signup_to_view' AS stage, user_id,
        epoch_us(ts_view) - epoch_us(ts_signup) AS delta FROM vw
      UNION ALL
      SELECT 'view_to_purchase', user_id,
        epoch_us(ts_purchase) - epoch_us(ts_view) FROM pu),
    r AS (
      SELECT stage, delta,
        ROW_NUMBER() OVER (PARTITION BY stage ORDER BY delta, user_id) AS rk,
        COUNT(*) OVER (PARTITION BY stage) AS n
      FROM d)
    SELECT stage, CAST(MAX(n) AS BIGINT) AS n_users,
      CAST(MAX(CASE WHEN rk = (n + 1) // 2 THEN delta END) AS BIGINT) AS median_us,
      CAST(MAX(CASE WHEN rk = (9 * n + 9) // 10 THEN delta END) AS BIGINT) AS p90_us
    FROM r GROUP BY stage ORDER BY stage"""

  /** B31 — fixed-width histogram: bin key computed in the scan's codegen
    * stage, one shuffle into ~10 bins. The no-surprises building block for
    * distribution profiling at any scale.
    */
  val HistBinWidth = 50000.0

  def histBins(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("bin", floor(col("o_totalprice") / lit(HistBinWidth)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))

  /** B32 — CDC merge/upsert: a base snapshot (orders before the cutoff,
    * pre-aggregated per customer) merged with a delta batch (orders after)
    * via one full-outer join on the key. The merged snapshot must equal a
    * direct recompute over the union — that recompute IS the oracle, so the
    * gate proves the merge arithmetic, not just the join shape. Partial sums
    * stay DECIMAL until after the merge add: summing exact decimals then
    * casting once matches the oracle's single decimal sum bit-for-bit
    * (double(a)+double(b) would not).
    */
  def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val cut = expr("timestamp'1998-01-01 00:00:00'")
    val dec = DecimalType(18, 4)
    val orders = Tables.orders(s, d)
    val base = orders.filter(col("o_orderdate") < cut).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("b_n"), max(col("o_orderdate")).as("b_last"),
        sum(col("o_totalprice").cast(dec)).as("b_sum"))
    val delta = orders.filter(col("o_orderdate") >= cut).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("d_n"), max(col("o_orderdate")).as("d_last"),
        sum(col("o_totalprice").cast(dec)).as("d_sum"))
    base.join(delta, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("b_n"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n_orders"),
        greatest(col("b_last"), col("d_last")).as("last_odate"),
        (coalesce(col("b_sum"), lit(0).cast(dec)) +
          coalesce(col("d_sum"), lit(0).cast(dec))).cast("double").as("sum_price"))
  }

  /** B33 — bloom-pruned semi-join (see [[Skew.bloomPrunedSemiJoin]]): events
    * whose user bought in the BUILDING segment, aggregated per event type.
    * The oracle is the plain EXISTS form — bloom false positives must be
    * invisible in the result.
    */
  def joinBloomPrune(s: SparkSession, d: String): DataFrame = {
    implicit val ss: SparkSession = s
    val dim = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    Skew.bloomPrunedSemiJoin(Tables.events(s, d), dim, "user_id", "c_custkey")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
  }

  /** B9c — NTILE quantile binning WITHIN partitions: quartiles of order
    * value per priority class. The window partitions by o_orderpriority, so
    * work distributes across the partition key — the scalable form of
    * quantile binning (a GLOBAL ntile would be a single-partition sort; for
    * global quantiles use approx boundaries + bin assignment instead).
    * Unique (price, orderkey) sort keys make bucket edges deterministic.
    */
  def windowNtile(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("quartile", ntile(4).over(w))
      .groupBy(col("o_orderpriority"), col("quartile"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
  }

  /** B34 — Q17-style aggregate-subquery predicate: lineitems below 20% of
    * their part's average quantity. The per-part average is a grouped
    * aggregate joined back to the fact — both sides shuffle on l_partkey
    * (the agg side is one row per part, far smaller). The 6dp-rounded
    * decimal-exact average makes the 0.2×avg threshold bit-identical on
    * both engines, so boundary rows cannot flip the filter.
    */
  def q17SmallQty(s: SparkSession, d: String): DataFrame = {
    val aq = Tables.lineitem(s, d).groupBy(col("l_partkey"))
      .agg(davg(col("l_quantity")).as("aq"))
    Tables.lineitem(s, d).join(aq, "l_partkey")
      .filter(col("l_quantity") < lit(0.2) * col("aq"))
      .agg(round(dsum(col("l_extendedprice")) / 7.0, 6).as("avg_yearly"))
  }

  /** B35 — Z-order layout key: Morton interleave of (customer, order-day)
    * into one clustering key. Range-partitioning + sorting by `zvalue` at
    * write time co-locates rows that are close in BOTH dimensions, so
    * parquet row-group min/max stats prune scans filtered on EITHER column —
    * the standard multi-dimensional data-skipping layout at 100 TB. The
    * bit-spread runs as plain integer arithmetic (codegen, no UDF) and the
    * oracle replays the identical shift/mask pipeline in DuckDB.
    */
  val ZorderEpoch = "1995-01-01"

  private def spread16(c: Column): Column = {
    // spread the low 16 bits of c so consecutive bits land 2 apart
    val a = (c.bitwiseOR(shiftleft(c, 8))).bitwiseAND(lit(0x00FF00FFL))
    val b = (a.bitwiseOR(shiftleft(a, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val e = (b.bitwiseOR(shiftleft(b, 2))).bitwiseAND(lit(0x33333333L))
    (e.bitwiseOR(shiftleft(e, 1))).bitwiseAND(lit(0x55555555L))
  }

  def layoutZorder(s: SparkSession, d: String): DataFrame = {
    val xb = pmod(col("o_custkey"), lit(65536L))
    val yb = datediff(col("o_orderdate"), lit(ZorderEpoch).cast("date"))
      .cast("long").bitwiseAND(lit(65535L))
    Tables.orders(s, d)
      .select(col("o_orderkey"), xb.as("xb"), yb.as("yb"))
      .select(col("o_orderkey"),
        spread16(col("xb")).bitwiseOR(shiftleft(spread16(col("yb")), 1)).as("zvalue"))
  }

  /** B70 — HILBERT-curve layout key (round-13; B35's better-locality
    * sibling — the curve production clustering engines moved to): unlike
    * Z-order, the Hilbert curve has NO long diagonal jumps, so consecutive
    * keys are always ADJACENT cells and a range of keys covers a tighter
    * 2-D box (the spec MEASURES it: total Manhattan drift along the curve
    * strictly below Z-order's on the same data). The xy→d transform is the
    * standard 16-round rotate-and-accumulate (one round per bit plane,
    * high to low; each round classifies the quadrant, adds s²·(3·rx ⊕ ry),
    * and rotates/reflects the frame) — pure integer AND/XOR/subtract, so
    * the DuckDB twin replays it round for round as a chained CTE unroll,
    * exactly the splitmix/BPE chain discipline. Same 16-bit inputs as B35
    * (custkey mod 2^16, bounded day offset). One scan, zero shuffles.
    */
  def layoutHilbert(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d).select(col("o_orderkey"),
        pmod(col("o_custkey"), lit(65536L)).as("x"),
        datediff(col("o_orderdate"), lit(ZorderEpoch).cast("date"))
          .cast("long").bitwiseAND(lit(65535L)).as("y"))
      .withColumn("acc", lit(0L))
    val folded = (0 until 16).foldLeft(base) { (df, r) =>
      val sv = 1L << (15 - r)
      df.withColumn("rx", expr(s"CASE WHEN (x & ${sv}L) > 0 THEN 1L ELSE 0L END"))
        .withColumn("ry", expr(s"CASE WHEN (y & ${sv}L) > 0 THEN 1L ELSE 0L END"))
        .withColumn("acc", expr(s"acc + ${sv * sv}L * ((3L * rx) ^ ry)"))
        .withColumn("xn", expr(
          s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${sv - 1}L - y ELSE y END) ELSE x END"))
        .withColumn("yn", expr(
          s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${sv - 1}L - x ELSE x END) ELSE y END"))
        .withColumn("x", col("xn")).withColumn("y", col("yn"))
        .drop("rx", "ry", "xn", "yn")
    }
    folded.select(col("o_orderkey"), col("acc").as("hvalue"))
  }

  /** Reference xy→d for the spec (same rounds, plain Scala). */
  private[graft] def hilbertD(x0: Long, y0: Long): Long = {
    var (x, y, acc) = (x0, y0, 0L)
    var r = 0
    while (r < 16) {
      val sv = 1L << (15 - r)
      val rx = if ((x & sv) > 0) 1L else 0L
      val ry = if ((y & sv) > 0) 1L else 0L
      acc += sv * sv * ((3L * rx) ^ ry)
      if (ry == 0) {
        val (nx, ny) =
          if (rx == 1) (sv - 1 - y, sv - 1 - x) else (y, x)
        x = nx; y = ny
      }
      r += 1
    }
    acc
  }

  val layoutHilbertSql: String = {
    val rounds = (0 until 16).map { r =>
      val sv = 1L << (15 - r)
      s"""h${r + 1} AS (
        SELECT o_orderkey,
          CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${sv - 1} - y ELSE y END) ELSE x END AS x,
          CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${sv - 1} - x ELSE x END) ELSE y END AS y,
          acc + ${sv * sv} * xor(3 * rx, ry) AS acc
        FROM (SELECT *,
            CASE WHEN (x & $sv) > 0 THEN 1 ELSE 0 END AS rx,
            CASE WHEN (y & $sv) > 0 THEN 1 ELSE 0 END AS ry
          FROM h$r))"""
    }.mkString(",\n")
    s"""
    WITH h0 AS (SELECT o_orderkey,
        o_custkey % 65536 AS x,
        date_diff('day', TIMESTAMP '$ZorderEpoch 00:00:00', o_orderdate) & 65535 AS y,
        CAST(0 AS BIGINT) AS acc
      FROM orders),
    $rounds
    SELECT o_orderkey, CAST(acc AS BIGINT) AS hvalue
    FROM h16 ORDER BY o_orderkey"""
  }

  /** B35b — the z-order loop CLOSED: B35 computes the clustering key; this
    * operator WRITES the z-ordered layout (range-partition + sort by
    * `zvalue` → every file/row-group covers a z-range, which bounds BOTH
    * dimensions' min/max stats) as a stored per-(dataset, fingerprint)
    * artifact, then reads it back through a 2-D predicate. Both filter
    * columns push down to the parquet scan, so the reader's row-group
    * min/max skipping does the pruning the layout exists for — at 100 TB
    * the 2-D box touches ~√(files) of the layout instead of all of it.
    * File count tracks `graft.zorder.files` (cluster parallelism at scale).
    * AnalyticsSpec pins the skipping claim against footer stats: the same
    * box overlaps strictly fewer row groups than a round-robin layout of
    * identical file count. The oracle replays the predicate on the plain
    * table — the layout must be a pure re-ordering, never a row filter.
    */
  val ZscanCustLo = 100L
  val ZscanCustHi = 300L
  val ZscanDateLo = "1995-03-01"
  val ZscanDateHi = "1995-06-30"

  private[graft] def zorderLayoutDir(s: SparkSession, d: String): String = {
    // the file-count conf SHAPES the artifact: flipping it mid-session
    // must rebuild
    val nFiles = s.conf.getOption("graft.zorder.files").map(_.toInt).getOrElse(16)
    graft.Artifacts.stored(s, "zorder_layout", d, Seq("orders.parquet"), nFiles) { dir =>
      val xb = pmod(col("o_custkey"), lit(65536L))
      val yb = datediff(col("o_orderdate"), lit(ZorderEpoch).cast("date"))
        .cast("long").bitwiseAND(lit(65535L))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice"),
          spread16(xb).bitwiseOR(shiftleft(spread16(yb), 1)).as("zvalue"))
        .repartitionByRange(nFiles, col("zvalue"))
        .sortWithinPartitions(col("zvalue"))
        .write.mode("overwrite").parquet(dir)
    }
  }

  def layoutZorderScan(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.parquet(s, zorderLayoutDir(s, d))
      .filter(col("o_custkey").between(ZscanCustLo, ZscanCustHi) &&
        col("o_orderdate").between(lit(ZscanDateLo).cast("date"),
          lit(ZscanDateHi).cast("date")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))

  /** B36 — approximate quantiles from a fixed histogram: one pass folds the
    * data into (group, bin) partial counts — k×bins rows of state, the
    * mergeable-summary shape that scales to 100 TB — then a tiny window
    * cumsum picks the first bin whose cumulative count crosses the target
    * rank. Estimates are bin upper edges (error ≤ bin width). Contrast B17
    * `agg_percentiles`, whose exact buffers hold every value per group.
    * Everything is integer counts + one double multiply, so the oracle
    * replays it exactly.
    */
  val AqBinWidth = 5000.0

  /** The (priority, bin) → count grid folded to p50/p90 estimates — shared
    * by B36 and its streaming twin (C18) so the extraction cannot drift.
    * The grid is histogram-sized (priorities × occupied bins), so the
    * windows here run over a tiny frame regardless of input scale.
    */
  def quantilesFromHist(grid: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority")).orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("o_orderpriority"))
    grid
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy(col("o_orderpriority"))
      .agg(
        min(when(col("cum") >= lit(0.5) * col("n"), (col("bin") + 1) * AqBinWidth)).as("p50_est"),
        min(when(col("cum") >= lit(0.9) * col("n"), (col("bin") + 1) * AqBinWidth)).as("p90_est"))
  }

  /** Per-row bin assignment for the quantile histogram — the map side C18
    * shares with this batch form. */
  def aqBinned(orders: DataFrame): DataFrame =
    orders.withColumn("bin",
      floor(col("o_totalprice") / lit(AqBinWidth)).cast("long"))

  def approxQuantileHist(s: SparkSession, d: String): DataFrame =
    quantilesFromHist(
      aqBinned(Tables.orders(s, d))
        .groupBy(col("o_orderpriority"), col("bin"))
        .agg(count(lit(1)).as("c")))

  /** B61 — LOG-BUCKET RANK SKETCH for UNKNOWN ranges (round-10 verdict
    * item 3): B36's fixed-width histogram needs the value range up front;
    * this sketch does not. Each positive value lands in an HDR/DDSketch-
    * style logarithmic bucket — octave `e = floor(log2(cents))` plus the
    * top [[DdFracBits]] mantissa bits — giving a RELATIVE-error guarantee
    * (bucket width / lower bound ≤ 2^-[[DdFracBits]]) over ANY range with
    * no prior min/max: the 100 TB telemetry case where tails shift daily.
    *
    * Why this shape instead of literal KLL: KLL's compactor decisions
    * depend on arrival ORDER, which no declarative engine (or DuckDB twin)
    * can replay without serializing the stream. The log-bucket sketch
    * reaches the same goal — mergeable rank queries over unknown ranges in
    * bounded memory — with ZERO randomness: bucket counts are a pure
    * function of the value multiset (a groupBy), merge is count addition,
    * and the bounded-memory "compaction" is the deterministic DDSketch
    * collapse (when a group exceeds [[DdMaxBuckets]] distinct buckets, the
    * lowest buckets fold into the [[DdMaxBuckets]]-th highest — again a
    * pure multiset function). Every step is integer-exact, so the DuckDB
    * oracle replays the registers bit for bit (the B16b/B55 discipline);
    * AnalyticsSpec pins the analytic error bound against exact quantiles.
    *
    * All arithmetic is integer: cents = round(price·100) (exact for 2-dp
    * money), floor-log2 as a sum of threshold comparisons, sub-bucket by
    * integer shift, bucket upper bound recovered by the inverse shift.
    */
  val DdFracBits = 4
  val DdSub = 1 << DdFracBits      // 16 sub-buckets per octave
  val DdMaxBuckets = 128
  private val DdMaxLog = 39        // cents < 2^39 covers $5.5B values

  /** floor(log2(v)) for v >= 1, as exact integer arithmetic (sum of
    * threshold tests — the same text the SQL twin runs). */
  private def ilog2(v: Column): Column =
    (1 to DdMaxLog).map(j => when(v >= lit(1L << j), 1L).otherwise(0L))
      .reduce(_ + _)

  private def ilog2Sql(x: String): String =
    (1 to DdMaxLog).map(j => s"CASE WHEN $x >= ${1L << j} THEN 1 ELSE 0 END")
      .mkString("(", " + ", ")")

  /** Map side shared by B61 and its streaming twin: (o_orderpriority,
    * bucket idx). idx = v for v < 2^F (exact small buckets), else
    * e·2^F + (v >> (e−F)) − 2^F.
    */
  def ddBucketed(orders: DataFrame): DataFrame =
    orders
      .withColumn("v", round(col("o_totalprice") * 100).cast("long"))
      .withColumn("e", ilog2(col("v")))
      .withColumn("idx",
        when(col("v") < lit(DdSub.toLong), col("v"))
          .otherwise(col("e") * DdSub +
            expr(s"shiftright(v, CAST(e - $DdFracBits AS INT))") - DdSub))

  /** Sketch finisher shared by batch and streaming: collapse to
    * [[DdMaxBuckets]], then fold cumulative counts to p50/p90/p99 bucket
    * UPPER BOUNDS in cents (integers — hash-exact). The grid is
    * sketch-sized, so every window here runs over ≤ priorities × buckets
    * rows regardless of input scale.
    */
  def ddSketchReport(grid: DataFrame): DataFrame = {
    val byGroup = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
    val rankW = byGroup.orderBy(col("idx").desc)
    val collapsed = grid
      .withColumn("r", row_number().over(rankW))
      .withColumn("thr", max(when(col("r") === DdMaxBuckets, col("idx"))).over(byGroup))
      .withColumn("cidx", when(col("thr").isNotNull && col("idx") < col("thr"),
        col("thr")).otherwise(col("idx")))
      .groupBy(col("o_orderpriority"), col("cidx"))
      .agg(sum(col("c")).as("c"))
    val cumW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority")).orderBy(col("cidx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // inverse map: bucket exclusive upper bound in cents
    val ub = when(col("cidx") < lit(DdSub.toLong), col("cidx") + 1)
      .otherwise(expr(s"shiftleft(cidx % $DdSub + ${DdSub + 1}, " +
        s"CAST(cidx DIV $DdSub - $DdFracBits AS INT))"))
    collapsed
      .withColumn("cum", sum(col("c")).over(cumW))
      .withColumn("n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("o_orderpriority"))))
      .withColumn("ub", ub)
      .groupBy(col("o_orderpriority"))
      .agg(
        max(col("n")).as("n"),
        count(lit(1)).as("n_buckets"),
        min(when(col("cum") >= lit(0.5) * col("n"), col("ub"))).as("p50_ub"),
        min(when(col("cum") >= lit(0.9) * col("n"), col("ub"))).as("p90_ub"),
        min(when(col("cum") >= lit(0.99) * col("n"), col("ub"))).as("p99_ub"))
  }

  def quantileSketchLog(s: SparkSession, d: String): DataFrame =
    ddSketchReport(
      ddBucketed(Tables.orders(s, d))
        .groupBy(col("o_orderpriority"), col("idx"))
        .agg(count(lit(1)).as("c")))

  val quantileSketchLogSql: String = s"""
    WITH b0 AS (SELECT o_orderpriority,
        CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
    b1 AS (SELECT o_orderpriority, v, ${ilog2Sql("v")} AS e FROM b0),
    h AS (SELECT o_orderpriority,
        CASE WHEN v < $DdSub THEN v
             ELSE e * $DdSub + (v >> (e - $DdFracBits)) - $DdSub END AS idx,
        COUNT(*) AS c
      FROM b1 GROUP BY 1, 2),
    rk AS (SELECT o_orderpriority, idx, c,
        ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY idx DESC) AS r
      FROM h),
    th AS (SELECT o_orderpriority, idx, c,
        MAX(CASE WHEN r = $DdMaxBuckets THEN idx END)
          OVER (PARTITION BY o_orderpriority) AS thr
      FROM rk),
    cl AS (SELECT o_orderpriority,
        CASE WHEN thr IS NOT NULL AND idx < thr THEN thr ELSE idx END AS cidx,
        SUM(c) AS c
      FROM th GROUP BY 1, 2),
    cw AS (SELECT o_orderpriority, cidx, c,
        SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY cidx
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(c) OVER (PARTITION BY o_orderpriority) AS n,
        CASE WHEN cidx < $DdSub THEN cidx + 1
             ELSE (cidx % $DdSub + ${DdSub + 1}) << (cidx // $DdSub - $DdFracBits)
        END AS ub
      FROM cl)
    SELECT o_orderpriority, CAST(MAX(n) AS BIGINT) AS n,
      COUNT(*) AS n_buckets,
      CAST(MIN(CASE WHEN cum >= 0.5 * n THEN ub END) AS BIGINT) AS p50_ub,
      CAST(MIN(CASE WHEN cum >= 0.9 * n THEN ub END) AS BIGINT) AS p90_ub,
      CAST(MIN(CASE WHEN cum >= 0.99 * n THEN ub END) AS BIGINT) AS p99_ub
    FROM cw GROUP BY 1 ORDER BY 1"""

  /** B37 — referential-integrity audit: orphan counts for each FK edge of
    * the schema in one result. Anti-joins leave Catalyst free to broadcast
    * the key side; each check is a count of survivors. The first query a
    * pipeline runs after ingesting 100 TB of upstream-supplied data.
    */
  def qualityFkOrphans(s: SparkSession, d: String): DataFrame = {
    def orphans(fact: DataFrame, dim: DataFrame, fk: String, pk: String,
        label: String): DataFrame =
      fact.join(dim, col(fk) === col(pk), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(label).as("fk_edge"), col("n_orphans"))
    orphans(Tables.lineitem(s, d), Tables.orders(s, d),
        "l_orderkey", "o_orderkey", "lineitem->orders")
      .unionByName(orphans(Tables.orders(s, d), Tables.customer(s, d),
        "o_custkey", "c_custkey", "orders->customer"))
      .unionByName(orphans(Tables.events(s, d), Tables.customer(s, d),
        "user_id", "c_custkey", "events->customer"))
  }

  /** B38 — column profile: null count and exact distinct cardinality per
    * audited column, long format. Each column is one aggregate over the
    * same scan; COUNT(DISTINCT) shuffles the distinct values (bounded by
    * the column's cardinality). The schema-health snapshot that gates a
    * pipeline run.
    */
  def qualityProfile(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def prof(c: String): DataFrame =
      o.agg(count(lit(1)).as("n_rows"),
          count(when(col(c).isNull, lit(1))).as("n_null"),
          countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_null"), col("n_distinct"))
    prof("o_orderstatus").unionByName(prof("o_orderpriority")).unionByName(prof("o_custkey"))
  }

  private def revenue: Column = col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** B39 — TPC-H Q7-style nation-pair trade volume: the nation dim joins the
    * fact TWICE in different roles (supplier side / customer side), aliased
    * so Catalyst treats them as independent broadcasts. Nation and supplier
    * are hinted broadcast (bounded dims); the orders and customer joins are
    * left to Catalyst — at small SF they broadcast, at 100 TB the same plan
    * falls back to shuffle joins on the keys. One final shuffle on the
    * (supp_nation, cust_nation, year) group keys.
    */
  def q7Volume(s: SparkSession, d: String): DataFrame = {
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(dsum(revenue).as("revenue"))
  }

  /** B40 — TPC-H Q13-style customer order-count distribution: LEFT join so
    * zero-order customers survive with count 0, then a second tiny aggregate
    * over the per-customer counts. The first shuffle is on c_custkey (the
    * real work); the second input is one row per customer and its output one
    * row per distinct count.
    */
  def q13Custdist(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** B41 — TPC-H Q19-style disjunctive predicate: OR-of-ANDs over part
    * attributes and lineitem quantity. The part-side conjuncts cannot be
    * pushed below the join individually, but Catalyst pushes the UNION of
    * the brand predicates to the part scan and the quantity hull to the
    * lineitem scan — the plan to check is that both scans show
    * PushedFilters, not a post-join residual-only filter.
    */
  def q19Disjunctive(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"), dsum(revenue).as("revenue"))

  /** B42 — TPC-H Q22-style idle high-balance customers: customers whose
    * balance exceeds the global positive-balance average and who placed no
    * order since the cutoff, counted per nation. The scalar average is a
    * whitelisted 1-row global aggregate broadcast back over the scan; the
    * idleness test is a LEFT ANTI join against the date-pruned orders scan
    * (the filter pushes to parquet, so the anti-join's build side is only
    * the recent slice; at scale it shuffles on the key and the per-nation
    * result is bounded by the nation count). The 6dp-rounded decimal-exact
    * average makes the balance threshold bit-identical on both engines.
    */
  val IdleCutoff = "2000-01-01"

  def q22IdleCustomers(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val avgBal = c.filter(col("c_acctbal") > 0)
      .agg(davg(col("c_acctbal")).as("avg_bal"))
    val recent = Tables.orders(s, d)
      .filter(col("o_orderdate") >= expr(s"timestamp'$IdleCutoff 00:00:00'"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
  }

  /** B43 — time-RANGE rolling aggregate: per-customer 30-day trailing order
    * count and decimal-exact spend, as a RANGE frame over integer day
    * offsets. Value-based frames make ties (same-day orders) deterministic
    * regardless of intra-day row order — a ROWS frame would not be. Work
    * partitions by o_custkey; no global sort anywhere.
    */
  val RollEpoch = "1990-01-01"
  val RollDays = 30

  def windowRangeRolling(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-RollDays, 0)
    Tables.orders(s, d)
      .withColumn("day",
        datediff(col("o_orderdate"), lit(RollEpoch).cast("date")).cast("long"))
      .withColumn("roll_n", count(lit(1)).over(w))
      .withColumn("roll_sum", graft.operators.Exact.dsumOver(col("o_totalprice"), w))
      .select(col("o_orderkey"), col("o_custkey"), col("roll_n"), col("roll_sum"))
  }

  /** B44 — z-score outlier detection: per-group mean/variance from
    * int128-exact sums (Σx and Σx² both in 1e-4 units; a 6-digit price
    * squared is ~1e14 units per row, far inside the 128-bit range),
    * variance and z-scores then computed in IEEE doubles with the IDENTICAL
    * expression shape on both engines, so every op is exactly rounded and
    * the |z| cut cannot flip on a boundary row. The group stats (5 rows)
    * broadcast back over the scan — two passes over orders, no extra
    * shuffle.
    *
    * Threshold 1.5, not the textbook 2: o_totalprice is a near-uniform sum
    * (kurtosis ≈ -1.2), so |z| tops out around 1.7 — a 2σ cut would select
    * nothing at any SF and the query would be vacuous.
    */
  val ZThreshold = 1.5

  def statsOutliers(s: SparkSession, d: String): DataFrame = {
    val x = col("o_totalprice")
    val stats = Tables.orders(s, d).groupBy(col("o_orderpriority"))
      .agg(dsum(x).as("sx"), dsum(x * x).as("sxx"), count(lit(1)).as("n"))
      .select(col("o_orderpriority"),
        (col("sx") / col("n")).as("mean"),
        (col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n")))
          .as("varp"))
    Tables.orders(s, d).join(broadcast(stats), "o_orderpriority")
      .withColumn("z", (x - col("mean")) / sqrt(col("varp")))
      .filter(abs(col("z")) > ZThreshold)
      .select(col("o_orderkey"), col("o_orderpriority"), round(col("z"), 6).as("z_score"))
  }

  /** C9 — weekly cohort retention: users bucketed by first-activity week,
    * counted per (cohort, weeks-since-cohort) cell. Three shuffles, all on
    * bounded keys: first-day per user and the (user, day) activity dedup
    * both hash on user_id (co-partitioned, so the join between them is
    * shuffle-free under AQE reuse), and the final cell aggregate's
    * cardinality is cohorts × offsets, tiny at any corpus size. Day
    * arithmetic is integer DIV — replayed exactly by DuckDB's `//`.
    */
  val CohortEpoch = "2024-01-01"

  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"),
      datediff(col("ts"), lit(CohortEpoch).cast("date")).cast("long").as("day"))
    val firstDay = ev.groupBy(col("user_id")).agg(min(col("day")).as("day0"))
    val active = ev.distinct()
    active.join(firstDay, "user_id")
      .groupBy(expr("day0 DIV 7").as("cohort_week"),
        expr("(day - day0) DIV 7").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** C10 — DAU/WAU: per-day distinct actives and 7-day trailing distinct
    * actives. The trailing distinct uses the contribution-explode shape: each
    * (user, active-day) row is exploded to the 7 target days it supports,
    * deduplicated, and counted — a bounded 7× row blowup that keeps the
    * whole computation in hash aggregates, where the naive form (self-join
    * of every day against a 7-day activity range) is a range join that
    * degrades quadratically with density at 100 TB.
    */
  def activeUsers(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"),
      datediff(col("ts"), lit(CohortEpoch).cast("date")).cast("long").as("day"))
      .distinct()
    val dau = ev.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
    val wau = ev
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("day"))
      .distinct()
      .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
    // inner join restricts to observed days (explode emits up to 6 phantom
    // trailing days past each user's last activity)
    dau.join(wau, "day")
  }

  /** B45 — event debouncing: drop events that arrive within the debounce
    * window of the previous event of the same (user, type) — the retry/
    * double-click thinning step ahead of any event analytics. One window
    * over the natural partition key; the gap test is integer microseconds
    * (no float time math), and the (us, event_id) sort key makes
    * equal-timestamp ordering deterministic.
    */
  val DebounceUs: Long = 10L * 60 * 1000000L

  def eventsDebounce(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .filter(col("prev").isNull || col("us") - col("prev") > DebounceUs)
      .select(col("event_id"), col("user_id"), col("event_type"))
  }

  /** H10 — per-source length trimming: drop each source's shortest 5% and
    * longest 5% of documents — the outlier-length quality cut every corpus
    * pipeline applies, stratified so one verbose source doesn't set the
    * thresholds for all. Rank bounds are pure integer arithmetic
    * (rk·100 vs n·5 / n·95), so the cut is bit-exact on both engines; work
    * partitions by source.
    */
  def corpusLengthTrim(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    val cw = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    Tables.documents(s, d)
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(cw))
      .filter(col("rk") * 100 > col("n") * 5 && col("rk") * 100 <= col("n") * 95)
      .select(col("doc_id"), col("source"), col("n_chars"))
  }

  val ops: Map[String, Op] = Map(
    "quantile_sketch_log" -> Op(quantileSketchLog _, quantileSketchLogSql),
    "layout_zorder_scan" -> Op(layoutZorderScan _, s"""
      SELECT o_orderkey, o_custkey, o_orderdate
      FROM orders
      WHERE o_custkey BETWEEN $ZscanCustLo AND $ZscanCustHi
        AND o_orderdate BETWEEN DATE '$ZscanDateLo' AND DATE '$ZscanDateHi'
      ORDER BY o_orderkey"""),
    "q18_large_volume" -> Op(q18LargeVolume _, s"""
      SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
      FROM (SELECT l_orderkey, ${sqlDsum("l_quantity")} AS sum_qty
            FROM lineitem GROUP BY 1
            HAVING ${sqlDsum("l_quantity")} > 300) s
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"""),
    "grouping_sets_agg" -> Op(groupingSetsAgg _, s"""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        ${sqlDsum("l_quantity")} AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),
    "events_funnel_time" -> Op(eventsFunnelTime _, eventsFunnelTimeSql),
    "event_funnel" -> Op(eventFunnel _, s"""
      WITH s AS (SELECT user_id, MIN(ts) AS ts_signup FROM events
                 WHERE event_type = 'signup' GROUP BY 1),
      v AS (SELECT e.user_id, MIN(e.ts) AS ts_view FROM events e
            JOIN s ON e.user_id = s.user_id
              AND epoch_us(e.ts) > epoch_us(s.ts_signup)
            WHERE e.event_type = 'view' GROUP BY 1),
      p AS (SELECT e.user_id, MIN(e.ts) AS ts_purchase FROM events e
            JOIN v ON e.user_id = v.user_id
              AND epoch_us(e.ts) > epoch_us(v.ts_view)
              AND epoch_us(e.ts) - epoch_us(v.ts_view) <= $FunnelPurchaseWindowUs
            WHERE e.event_type = 'purchase' GROUP BY 1)
      SELECT 1 AS step, 'signup' AS stage, COUNT(*) AS n_users FROM s
      UNION ALL SELECT 2, 'view', COUNT(*) FROM v
      UNION ALL SELECT 3, 'purchase', COUNT(*) FROM p
      ORDER BY step"""),
    "hist_bins" -> Op(histBins _, s"""
      SELECT CAST(FLOOR(o_totalprice / $HistBinWidth) AS BIGINT) AS bin,
        COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS sum_price
      FROM orders GROUP BY 1 ORDER BY 1"""),
    "merge_upsert" -> Op(mergeUpsert _, s"""
      SELECT o_custkey, COUNT(*) AS n_orders, MAX(o_orderdate) AS last_odate,
        ${sqlDsum("o_totalprice")} AS sum_price
      FROM orders GROUP BY 1 ORDER BY 1"""),
    "join_bloom_prune" -> Op(joinBloomPrune _, s"""
      SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
      FROM events
      WHERE EXISTS (SELECT 1 FROM customer
                    WHERE c_custkey = user_id AND c_mktsegment = 'BUILDING')
      GROUP BY 1 ORDER BY 1"""),
    "window_ntile" -> Op(windowNtile _, s"""
      SELECT o_orderpriority, quartile, COUNT(*) AS n,
        ${sqlDsum("o_totalprice")} AS sum_price
      FROM (SELECT o_orderpriority, o_totalprice,
              CAST(NTILE(4) OVER (PARTITION BY o_orderpriority
                ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS quartile
            FROM orders)
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    "q17_small_qty" -> Op(q17SmallQty _, s"""
      WITH aq AS (SELECT l_partkey, ${sqlDavg("l_quantity")} AS aq
                  FROM lineitem GROUP BY 1)
      SELECT ROUND(${sqlDsum("l_extendedprice")} / 7.0, 6) AS avg_yearly
      FROM lineitem JOIN aq USING (l_partkey)
      WHERE l_quantity < 0.2 * aq"""),
    "layout_hilbert" -> Op(layoutHilbert _, layoutHilbertSql),
    "layout_zorder" -> Op(layoutZorder _, s"""
      WITH b AS (SELECT o_orderkey,
          o_custkey % 65536 AS xb,
          date_diff('day', TIMESTAMP '$ZorderEpoch 00:00:00', o_orderdate) & 65535 AS yb
        FROM orders),
      s1 AS (SELECT o_orderkey, ((xb | (xb << 8)) & 16711935) AS x,
               ((yb | (yb << 8)) & 16711935) AS y FROM b),
      s2 AS (SELECT o_orderkey, ((x | (x << 4)) & 252645135) AS x,
               ((y | (y << 4)) & 252645135) AS y FROM s1),
      s3 AS (SELECT o_orderkey, ((x | (x << 2)) & 858993459) AS x,
               ((y | (y << 2)) & 858993459) AS y FROM s2),
      s4 AS (SELECT o_orderkey, ((x | (x << 1)) & 1431655765) AS x,
               ((y | (y << 1)) & 1431655765) AS y FROM s3)
      SELECT o_orderkey, (x | (y << 1)) AS zvalue FROM s4 ORDER BY o_orderkey"""),
    "approx_quantile_hist" -> Op(approxQuantileHist _, s"""
      WITH h AS (SELECT o_orderpriority,
          CAST(FLOOR(o_totalprice / $AqBinWidth) AS BIGINT) AS bin, COUNT(*) AS c
        FROM orders GROUP BY 1, 2),
      cw AS (SELECT o_orderpriority, bin, c,
          SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          SUM(c) OVER (PARTITION BY o_orderpriority) AS n
        FROM h)
      SELECT o_orderpriority,
        MIN(CASE WHEN cum >= 0.5 * n THEN (bin + 1) * $AqBinWidth END) AS p50_est,
        MIN(CASE WHEN cum >= 0.9 * n THEN (bin + 1) * $AqBinWidth END) AS p90_est
      FROM cw GROUP BY 1 ORDER BY 1"""),
    "quality_fk_orphans" -> Op(qualityFkOrphans _, """
      SELECT 'lineitem->orders' AS fk_edge, COUNT(*) AS n_orphans FROM lineitem
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
      UNION ALL
      SELECT 'orders->customer', COUNT(*) FROM orders
        WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
      UNION ALL
      SELECT 'events->customer', COUNT(*) FROM events
        WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = user_id)
      ORDER BY fk_edge"""),
    "quality_profile" -> Op(qualityProfile _, """
      SELECT 'o_orderstatus' AS column_name, COUNT(*) AS n_rows,
        COUNT(CASE WHEN o_orderstatus IS NULL THEN 1 END) AS n_null,
        COUNT(DISTINCT o_orderstatus) AS n_distinct FROM orders
      UNION ALL
      SELECT 'o_orderpriority', COUNT(*),
        COUNT(CASE WHEN o_orderpriority IS NULL THEN 1 END),
        COUNT(DISTINCT o_orderpriority) FROM orders
      UNION ALL
      SELECT 'o_custkey', COUNT(*),
        COUNT(CASE WHEN o_custkey IS NULL THEN 1 END),
        COUNT(DISTINCT o_custkey) FROM orders
      ORDER BY column_name"""),
    "q7_volume" -> Op(q7Volume _, s"""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
        ${sqlDsum("l_extendedprice * (1 - l_discount)")} AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name <> n2.n_name
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    "q13_custdist" -> Op(q13Custdist _, """
      SELECT c_count, COUNT(*) AS custdist FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey)
      GROUP BY c_count ORDER BY c_count"""),
    "q19_disjunctive" -> Op(q19Disjunctive _, s"""
      SELECT p_brand, COUNT(*) AS n_items,
        ${sqlDsum("l_extendedprice * (1 - l_discount)")} AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
          AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
          AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
          AND l_quantity BETWEEN 20 AND 30)
      GROUP BY p_brand ORDER BY p_brand"""),
    "q22_idle_customers" -> Op(q22IdleCustomers _, s"""
      SELECT c_nationkey, COUNT(*) AS numcust,
        ${sqlDsum("c_acctbal")} AS totacctbal
      FROM customer
      WHERE c_acctbal > (SELECT ${sqlDavg("c_acctbal")} FROM customer
                         WHERE c_acctbal > 0)
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '$IdleCutoff 00:00:00')
      GROUP BY c_nationkey ORDER BY c_nationkey"""),
    "window_range_rolling" -> Op(windowRangeRolling _, s"""
      SELECT o_orderkey, o_custkey,
        COUNT(*) OVER w AS roll_n,
        ${Exact.sqlDsumOver("o_totalprice", "OVER w")} AS roll_sum
      FROM (SELECT *, DATEDIFF('day', TIMESTAMP '$RollEpoch 00:00:00',
              o_orderdate) AS day FROM orders)
      WINDOW w AS (PARTITION BY o_custkey ORDER BY day
        RANGE BETWEEN $RollDays PRECEDING AND CURRENT ROW)
      ORDER BY o_orderkey"""),
    "stats_outliers" -> Op(statsOutliers _, s"""
      WITH st AS (SELECT o_orderpriority,
          ${sqlDsum("o_totalprice")} AS sx,
          ${sqlDsum("o_totalprice * o_totalprice")} AS sxx,
          COUNT(*) AS n FROM orders GROUP BY 1),
      m AS (SELECT o_orderpriority, sx / n AS mean,
          sxx / n - (sx / n) * (sx / n) AS varp FROM st)
      SELECT o_orderkey, o.o_orderpriority,
        ROUND((o_totalprice - mean) / SQRT(varp), 6) AS z_score
      FROM orders o JOIN m USING (o_orderpriority)
      WHERE ABS((o_totalprice - mean) / SQRT(varp)) > $ZThreshold
      ORDER BY o_orderkey"""),
    "cohort_retention" -> Op(cohortRetention _, s"""
      WITH ev AS (SELECT user_id,
          DATEDIFF('day', TIMESTAMP '$CohortEpoch 00:00:00', ts) AS day
        FROM events),
      f AS (SELECT user_id, MIN(day) AS day0 FROM ev GROUP BY 1),
      a AS (SELECT DISTINCT user_id, day FROM ev)
      SELECT day0 // 7 AS cohort_week, (day - day0) // 7 AS week_offset,
        COUNT(DISTINCT user_id) AS n_users
      FROM a JOIN f USING (user_id)
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    "events_active_users" -> Op(activeUsers _, s"""
      WITH ev AS (SELECT DISTINCT user_id,
          DATEDIFF('day', TIMESTAMP '$CohortEpoch 00:00:00', ts) AS day
        FROM events),
      dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ev GROUP BY 1),
      wau AS (SELECT t.day, COUNT(DISTINCT e.user_id) AS wau
        FROM (SELECT DISTINCT day FROM ev) t
        JOIN ev e ON e.day BETWEEN t.day - 6 AND t.day
        GROUP BY 1)
      SELECT day, dau, wau FROM dau JOIN wau USING (day) ORDER BY day"""),
    "events_debounce" -> Op(eventsDebounce _, s"""
      WITH x AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
          LAG(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
            ORDER BY epoch_us(ts), event_id) AS prev
        FROM events)
      SELECT event_id, user_id, event_type FROM x
      WHERE prev IS NULL OR us - prev > $DebounceUs
      ORDER BY event_id"""),
    "corpus_length_trim" -> Op(corpusLengthTrim _, """
      WITH r AS (SELECT doc_id, source, n_chars,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
          COUNT(*) OVER (PARTITION BY source) AS n
        FROM documents)
      SELECT doc_id, source, n_chars FROM r
      WHERE rk * 100 > n * 5 AND rk * 100 <= n * 95
      ORDER BY doc_id""")
  )
}
