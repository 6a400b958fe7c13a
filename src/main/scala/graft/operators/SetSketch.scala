package graft.operators

import java.math.BigInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{MixHash, ShingleArray, SketchAggs}
import graft.SparkEntry.Op

/** B62 — KMV/theta-sketch SET OPERATIONS across sources: estimated
  * union / intersection / Jaccard of the 3-word-shingle sets of every
  * source pair, from one bounded sketch per source.
  *
  * This is the capability HLL (B15) cannot provide: HLL registers only
  * union; a KMV (k-minimum-values / bottom-k theta) sketch retains the k
  * smallest distinct hash VALUES, and two value sets intersect — so
  * cross-corpus overlap ("how much of src3 is already in src7?") costs
  * k longs per source instead of a corpus-sized distinct-join. At 100 TB
  * the plan shape is: one scan, map-side partial sketches (the
  * TypedImperativeAggregate combines per partition), one k-long row per
  * source over the wire, and all pair math on a #sources-sized frame.
  *
  * Determinism/oracle: hash = [[MixHash.polyHash]] (splitmix64-finalized
  * base-257 polynomial), XOR-shifted so SIGNED Long order equals the
  * UNSIGNED hash order DuckDB replays in HUGEINT; every estimate is pure
  * integer arithmetic (floor division), so the DuckDB twin is bit-exact.
  * Estimator (one uniform form for singles, union and intersection):
  * with theta = the sketch's coverage bound (k-th smallest value when
  * capped, else 2^64 = complete), est = |{values < theta}| * 2^64 / theta
  * — for a capped single sketch that is the unbiased KMV (k-1)*M/v_k.
  * Reference semantics: theta-sketch set operations (Dasgupta et al.,
  * "Theta-Sketch Framework", and the Apache DataSketches public docs);
  * reference runner has no sketch ops (beam_pyspark_runner covers only
  * the 8 core transforms, tests at tests/pyspark_runner_test.py:53-135).
  */
object SetSketch {

  val KmvK = 256
  private val M64 = BigInteger.ONE.shiftLeft(64)
  private val Shift = BigInteger.ONE.shiftLeft(63)

  /** Unsigned hash value of an XOR-shifted signed long. */
  private def u(zx: Long): BigInteger = BigInteger.valueOf(zx).add(Shift)

  /** (theta, nBelow) of one sketch: ps is ascending in shifted-signed
    * order (= unsigned hash order); capped means >k distinct inputs were
    * seen, so the k-th value bounds the covered hash range.
    */
  private def thetaOf(ps: Seq[Long], capped: Boolean): (BigInteger, Long) =
    if (capped) (u(ps.last), (ps.length - 1).toLong) else (M64, ps.length.toLong)

  private def estimate(nBelow: Long, theta: BigInteger): Long =
    BigInteger.valueOf(nBelow).multiply(M64).divide(theta).longValueExact()

  def sketchThetaOverlap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val zx = MixHash.polyHashCol(col("sh")).bitwiseXOR(lit(Long.MinValue))
    val kmv = Tables.documents(s, d)
      .select(col("source"), explode(ShingleArray.shingles(col("text"), 3)).as("sh"))
      .groupBy(col("source"))
      .agg(SketchAggs.boundedBasket(zx, KmvK).as("b"))
      .select(col("source"), col("b.ps").as("ps"), col("b.capped").as("capped"))
    val a = kmv.select(col("source").as("sa"), col("ps").as("pa"), col("capped").as("ca"))
    val b = kmv.select(col("source").as("sb"), col("ps").as("pb"), col("capped").as("cb"))
    // #sources² pair frame (tiny by construction: one row per source
    // survived the agg); every estimate below is exact BigInteger math.
    a.join(b, col("sa") < col("sb"))
      .as[(String, Seq[Long], Boolean, String, Seq[Long], Boolean)]
      .map { case (sa, pa, ca, sb, pb, cb) =>
        val (ta, na) = thetaOf(pa, ca)
        val (tb, nb) = thetaOf(pb, cb)
        val merged = (pa ++ pb).distinct.sorted
        val tk = if (merged.length >= KmvK) u(merged(KmvK - 1)) else M64
        val thetaU = ta.min(tb).min(tk)
        val nBelowU = merged.count(v => u(v).compareTo(thetaU) < 0).toLong
        val common = pa.toSet.intersect(pb.toSet)
        val nCommon = common.count(v => u(v).compareTo(thetaU) < 0).toLong
        val jacBps = if (nBelowU > 0) 10000L * nCommon / nBelowU else 0L
        (sa, sb, estimate(na, ta), estimate(nb, tb),
          estimate(nBelowU, thetaU), estimate(nCommon, thetaU), nCommon, jacBps)
      }
      .toDF("source_a", "source_b", "est_a", "est_b",
        "est_union", "est_intersect", "n_common", "jaccard_bps")
  }

  /** Bit-exact DuckDB replay: same shingles, same mixed hash (HUGEINT mod
    * 2^64 — unsigned order, matching the Spark side's XOR-shift), same
    * bottom-k per source, same integer estimator.
    */
  val sketchThetaOverlapSql: String = {
    val M = MixHash.M64
    s"""
    WITH w AS (SELECT doc_id, source, str_split(text,' ') AS ws FROM documents),
    shl AS (
      SELECT source,
        [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
         for i in range(1, len(ws) - 1)] AS s
      FROM w WHERE len(ws) >= 3),
    post AS (SELECT source, unnest(s) AS sh FROM shl),
    ${MixHash.sqlMixedCtes("post", "sh", Seq("source"))},
    dist AS (SELECT DISTINCT source, h FROM mh),
    rk AS (
      SELECT source, h,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn,
        COUNT(*) OVER (PARTITION BY source) AS c
      FROM dist),
    kmv AS (SELECT source, h, rn, c FROM rk WHERE rn <= $KmvK),
    est AS (
      SELECT source,
        CASE WHEN MAX(c) > $KmvK THEN MAX(h) ELSE $M END AS theta,
        CASE WHEN MAX(c) > $KmvK THEN ${KmvK - 1}::HUGEINT
             ELSE COUNT(*)::HUGEINT END AS nb
      FROM kmv GROUP BY source),
    pairs AS (
      SELECT a.source AS sa, b.source AS sb,
        (a.nb * $M) // a.theta AS ea, (b.nb * $M) // b.theta AS eb,
        LEAST(a.theta, b.theta) AS tab
      FROM est a JOIN est b ON a.source < b.source),
    mg AS (
      SELECT p.sa, p.sb, k.h FROM pairs p
      JOIN kmv k ON k.source = p.sa OR k.source = p.sb
      GROUP BY p.sa, p.sb, k.h),
    thu AS (
      SELECT p.sa, p.sb, p.ea, p.eb,
        LEAST(p.tab, COALESCE(MAX(CASE WHEN m.rn = $KmvK THEN m.h END), $M)) AS theta
      FROM pairs p LEFT JOIN (
        SELECT sa, sb, h,
          ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
        FROM mg) m ON m.sa = p.sa AND m.sb = p.sb
      GROUP BY p.sa, p.sb, p.ea, p.eb, p.tab),
    nbu AS (
      SELECT t.sa, t.sb, COUNT(*) FILTER (WHERE m.h < t.theta)::HUGEINT AS nb
      FROM thu t LEFT JOIN mg m ON m.sa = t.sa AND m.sb = t.sb
      GROUP BY t.sa, t.sb),
    com AS (
      SELECT t.sa, t.sb, COUNT(*) FILTER (WHERE k1.h < t.theta)::HUGEINT AS nc
      FROM thu t
      JOIN kmv k1 ON k1.source = t.sa
      JOIN kmv k2 ON k2.source = t.sb AND k2.h = k1.h
      GROUP BY t.sa, t.sb)
    SELECT t.sa AS source_a, t.sb AS source_b,
      CAST(t.ea AS BIGINT) AS est_a, CAST(t.eb AS BIGINT) AS est_b,
      CAST((n.nb * $M) // t.theta AS BIGINT) AS est_union,
      CAST((COALESCE(c.nc, 0) * $M) // t.theta AS BIGINT) AS est_intersect,
      CAST(COALESCE(c.nc, 0) AS BIGINT) AS n_common,
      CAST(CASE WHEN n.nb > 0 THEN (10000 * COALESCE(c.nc, 0)) // n.nb
                ELSE 0 END AS BIGINT) AS jaccard_bps
    FROM thu t
    JOIN nbu n ON n.sa = t.sa AND n.sb = t.sb
    LEFT JOIN com c ON c.sa = t.sa AND c.sb = t.sb
    ORDER BY source_a, source_b"""
  }

  val ops: Map[String, Op] = Map(
    "sketch_theta_overlap" -> Op(sketchThetaOverlap _, sketchThetaOverlapSql)
  )
}
