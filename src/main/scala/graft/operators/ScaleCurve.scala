package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.Op

/** Round-14, verdict item 1 — the measured scaling curve's GATED half: a
  * deterministic derived-corpus generator plus a (key × scale) report of
  * exact input/output row and character counts, hash-gated against a
  * DuckDB recompute of the same derived relations.
  *
  * The 100× case was an argument from plan shape; this key makes the
  * derivation itself an auditable operator: documents replicate with
  * salted ids and PER-WORD rep salting (each replica is an isomorphic but
  * shingle-disjoint copy — dup clusters multiply in COUNT, not size, so
  * healthy devices grow ~linearly), events replicate with salted ids and
  * a 40-day per-rep time shift (eras disjoint — interval overlap cannot
  * pair across replicas). The report runs the REAL operator cores —
  * [[graft.dedup.Dedup.minhashPairsOf]] (the E3 banding device) and
  * [[Signals.intervalOverlapPairsOf]] (the B69 binning device) — over the
  * derived corpora at 1×/2×/4×, plus linear bookkeeping keys (scan
  * totals, exact dedup). The ORACLE replays banding per scale through the
  * same parameterized CTE chain E3's gate uses
  * ([[graft.dedup.Dedup.minhashPairsCtes]]) and interval overlap through
  * B69's quadratic formulation — so the growth numbers are themselves
  * correctness-gated, not self-reported.
  *
  * The WALL-CLOCK half of the curve (1×/3×/10× of sf0.1, the seven heavy
  * families) was measured once and is published in PERF_NOTES §r14 —
  * timings cannot be hash-gated; counts can.
  *
  * Scale shape of the report itself: each count is one distributed
  * aggregate over a derived frame (the generator is a single
  * explode-projection fused into the scan); the driver assembles a
  * bounded (#keys × #scales)-row table.
  */
object ScaleCurve {

  /** Headline-gated scales. The 4x point moved to the spec tier in
    * round 15 (verdict item 4): one proof key was ~10-20% of the whole
    * bench; 1x/2x hash-gate the linearity slope at sf0.01 while
    * [[ScaleCurveSpec]] re-asserts the full 1x/2x/4x curve (exact
    * k-multiples + device envelope) and PERF_NOTES §r14 holds measured
    * wall-clock exponents across a decade of growth. */
  val Scales: Seq[Int] = Seq(1, 2)
  /** The spec tier's extended curve (includes the 4x point). */
  val SpecScales: Seq[Int] = Seq(1, 2, 4)
  /** Replica id offset — far above any base id. */
  val IdStride = 10000000L

  /** Offset of the PLANTED within-rep exact duplicates (stays inside the
    * rep's id band: base ids ≪ DupStride ≪ IdStride). Every 50th base doc
    * gets one exact copy PER REP, so the exact-dedup row is non-vacuous
    * (the base corpus has no exact dups) and grows exactly linearly —
    * within-rep planting keeps the minhash curve linear too. */
  val DupStride = 5000000L
  val DupEvery = 50L

  /** Base-corpus certification window (round-15, verdict item 4's second
    * cut): the growth REPORT's claim is count LINEARITY across scales,
    * which is independent of the base size — so the base is a
    * deterministic FIXED window (`doc_id % SampleMod == 0 && doc_id <
    * DocWindow`; events from users `< UserWindow`), the same
    * certification-budget-knob discipline as F25's residue modulus. The
    * window equals the sf0.01 corpus, so the hash gate's numbers stay
    * exactly as meaningful there (planted dups fire, minhash pairs and
    * 2941→5882 overlap pairs survive) while the headline cost stops
    * scaling with sf — growth-in-CORPUS wall-clock is in PERF_NOTES
    * §r14; this key proves growth-in-REPLICATION counts. */
  val SampleMod = 2L
  val DocWindow = 500L
  val UserWindow = 150L

  /** Documents replicated ×k: rep 0 is the original corpus (a pinned
    * deterministic half of it — see [[SampleMod]]); rep r > 0 salts EVERY
    * word with the rep index, making replicas shingle-disjoint isomorphic
    * copies. Plus the planted within-rep exact duplicates. */
  private[graft] def scaledDocs(s: SparkSession, d: String, k: Int): DataFrame = {
    val base = Tables.documents(s, d)
      .filter(col("doc_id") % SampleMod === 0 && col("doc_id") < DocWindow)
      .withColumn("rep", explode(expr(s"sequence(0, ${k - 1})")))
      .select(col("rep"), col("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(concat_ws(" ", transform(split(col("text"), " "),
            w => concat(w, col("rep").cast("string"))))).as("text"),
        col("source"))
    base.select((col("rep") * IdStride + col("doc_id")).as("doc_id"),
        col("text"), col("source"))
      .unionByName(base.filter(col("doc_id") % DupEvery === 0)
        .select((col("rep") * IdStride + lit(DupStride) + col("doc_id")).as("doc_id"),
          col("text"), col("source")))
  }

  /** The first THREE DAYS of events (all types), replicated ×k with
    * salted ids and a 40-day per-rep shift (≥ 10× the slice span, so
    * replica eras are time-disjoint). The slice keeps interval counts
    * bounded at every sf — a single-type restriction would make each
    * user's whole history ONE month-long island and the overlap report
    * near-all-pairs (measured: 195 s at 4× of sf0.1) — while the binning
    * device is exercised identically; type alternation keeps islands
    * realistic. */
  private[graft] def scaledEvents(s: SparkSession, d: String, k: Int): DataFrame = {
    val ev = Tables.events(s, d)
    val minTs = ev.agg(min(col("ts"))).head.getTimestamp(0) // scalar, bounded
    val cut = new java.sql.Timestamp(minTs.getTime + 3L * 24 * 3600 * 1000)
    ev.filter(col("ts") < lit(cut) && col("user_id") < UserWindow)
      .withColumn("rep", explode(expr(s"sequence(0, ${k - 1})")))
      .select((col("rep") * IdStride + col("event_id")).as("event_id"),
        (col("rep") * IdStride + col("user_id")).as("user_id"),
        col("event_type"),
        (col("ts") + expr("make_dt_interval(CAST(rep * 40 AS INT), 0, 0, 0)")).as("ts"))
  }

  /** The gated (key × scale) growth report. */
  def scaleCurveReport(s: SparkSession, d: String): DataFrame =
    scaleCurveReportAt(s, d, Scales)

  private[graft] def scaleCurveReportAt(
      s: SparkSession, d: String, scales: Seq[Int]): DataFrame = {
    import s.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import graft.functions.TextFunctions.wsTokens
    val nBase = Tables.documents(s, d).count()
    // an eager scope: each scale's doc frame feeds SEVERAL separate actions
    // (scopedPersist would release after the first). Materialize the shared
    // frames first, then fan the per-scale counts out as CONCURRENT jobs:
    // under the certification window every count is tiny, so sequential
    // execution paid the multi-stage scheduling floor 5×|scales| times —
    // concurrency pays it ~once (measured 10.2 → ~4 s at sf0.1). If any
    // concurrent action throws, Await rethrows and the scope still releases
    // every per-scale frame (sibling futures may still be running Spark
    // jobs, but unpersist is safe concurrently).
    val rows = graft.CacheScope.run {
      val perScale = scales.map { k =>
        (k, graft.CacheScope.persist(scaledDocs(s, d, k)), scaledEvents(s, d, k))
      }
      perScale.foreach(_._2.count())
      val futs = perScale.map { case (k, sd, se) =>
        val docAggF = Future(sd.agg(count(lit(1)),
          sum(length(col("text")).cast("long")),
          sum(wsTokens(col("text")).cast("long"))).head())
        val dupsF = Future(sd.groupBy(col("text")).agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).agg(coalesce(sum(col("c") - 1), lit(0L)))
          .head().getLong(0))
        val pairsF = Future(graft.dedup.Dedup.minhashPairsOf(s, sd).count())
        val evF = Future(se.count())
        val overlapF = Future(Signals.intervalOverlapPairsOf(s, se).count())
        (k, docAggF, dupsF, pairsF, evF, overlapF)
      }
      futs.flatMap { case (k, docAggF, dupsF, pairsF, evF, overlapF) =>
        val docAgg = Await.result(docAggF, Duration.Inf)
        val (nDocs, nChars, nToks) =
          (docAgg.getLong(0), docAgg.getLong(1), docAgg.getLong(2))
        val nDups = Await.result(dupsF, Duration.Inf)
        val nPairs = Await.result(pairsF, Duration.Inf)
        val nEv = Await.result(evF, Duration.Inf)
        val nOverlap = Await.result(overlapF, Duration.Inf)
        Seq(
          ("corpus_scaled", k.toLong, nBase, nDocs, nChars),
          ("text_tokens", k.toLong, nDocs, nToks, nChars),
          ("dedup_exact", k.toLong, nDocs, nDups, 0L),
          ("dedup_minhash", k.toLong, nDocs, nPairs, 0L),
          ("interval_overlap", k.toLong, nEv, nOverlap, 0L))
      }
    }
    rows.toDF("key", "scale", "n_input", "n_output", "input_chars")
  }

  /** The report's constituent DISTRIBUTED frames, exposed for PlanAudit
    * (round-15 verdict item 7): the gated key returns a driver-assembled
    * bounded table, so auditing it alone records 0 scans / no codegen —
    * a vacuous row. These builders hand the audit the real inner plans
    * (the E3 banding device and the B69 binning device over each derived
    * scale) as `scale_curve_report::<device>@<k>x` sub-rows. */
  private[graft] val auditFrameBuilders: Seq[(String, (SparkSession, String) => DataFrame)] =
    Scales.flatMap { k =>
      Seq(
        s"scale_curve_report::minhash_pairs@${k}x" ->
          ((s: SparkSession, d: String) =>
            graft.dedup.Dedup.minhashPairsOf(s, scaledDocs(s, d, k))),
        s"scale_curve_report::interval_overlap@${k}x" ->
          ((s: SparkSession, d: String) =>
            Signals.intervalOverlapPairsOf(s, scaledEvents(s, d, k))))
    }

  // ------------------------------------------------------------------
  // oracle
  // ------------------------------------------------------------------

  private def scaledDocsCte(k: Int): String = s"""
    sdocs${k}b AS (
      SELECT r.rep AS rep, d.doc_id AS doc_id,
        CASE WHEN r.rep = 0 THEN d.text
             ELSE array_to_string(list_transform(str_split(d.text, ' '),
                    w -> w || CAST(r.rep AS VARCHAR)), ' ') END AS text
      FROM documents d, (SELECT unnest(range($k)) AS rep) r
      WHERE d.doc_id % $SampleMod = 0 AND d.doc_id < $DocWindow),
    sdocs$k AS MATERIALIZED (
      SELECT rep * $IdStride + doc_id AS doc_id, text FROM sdocs${k}b
      UNION ALL
      SELECT rep * $IdStride + $DupStride + doc_id, text FROM sdocs${k}b
      WHERE doc_id % $DupEvery = 0)"""

  private def scaledEventsCte(k: Int): String = s"""
    sev$k AS MATERIALIZED (
      SELECT r.rep * $IdStride + e.event_id AS event_id,
        r.rep * $IdStride + e.user_id AS user_id, e.event_type,
        e.ts + (r.rep * 40) * INTERVAL '1 day' AS ts
      FROM events e, (SELECT unnest(range($k)) AS rep) r
      WHERE e.ts < (SELECT MIN(ts) + INTERVAL '3 days' FROM events)
        AND e.user_id < $UserWindow)"""

  /** B69's islands + quadratic overlap count, prefixed per scale. */
  private def overlapCountCtes(src: String, p: String): String = s"""
    ${p}flagged AS (
      SELECT user_id, event_type, ts, event_id,
        CASE WHEN LAG(event_type) OVER w IS NULL
               OR LAG(event_type) OVER w <> event_type
             THEN 1 ELSE 0 END AS chg
      FROM $src
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    ${p}numbered AS (
      SELECT user_id, event_type, ts,
        CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
      FROM ${p}flagged),
    ${p}si AS (
      SELECT user_id, island, event_type,
        MIN(ts) AS valid_from, MAX(ts) AS valid_to
      FROM ${p}numbered GROUP BY 1, 2, 3),
    ${p}pairs AS (
      SELECT a.user_id AS a_user
      FROM ${p}si a JOIN ${p}si b
        ON a.event_type = b.event_type AND a.user_id < b.user_id
       AND a.valid_from <= b.valid_to AND b.valid_from <= a.valid_to)"""

  private def scaleCurveReportSql: String = {
    import graft.functions.TextFunctions.wsTokensSql
    val ctes = Scales.flatMap { k =>
      Seq(scaledDocsCte(k), scaledEventsCte(k),
        graft.dedup.Dedup.minhashPairsCtes(s"sdocs$k", s"m${k}_"),
        overlapCountCtes(s"sev$k", s"v${k}_"))
    }.mkString(",\n")
    val rows = Scales.map { k =>
      s"""SELECT 'corpus_scaled' AS key, CAST($k AS BIGINT) AS scale,
        (SELECT COUNT(*) FROM documents) AS n_input,
        (SELECT COUNT(*) FROM sdocs$k) AS n_output,
        (SELECT CAST(SUM(length(text)) AS BIGINT) FROM sdocs$k) AS input_chars
      UNION ALL
      SELECT 'text_tokens', $k, (SELECT COUNT(*) FROM sdocs$k),
        (SELECT CAST(SUM(${wsTokensSql("text")}) AS BIGINT) FROM sdocs$k),
        (SELECT CAST(SUM(length(text)) AS BIGINT) FROM sdocs$k)
      UNION ALL
      SELECT 'dedup_exact', $k, (SELECT COUNT(*) FROM sdocs$k),
        (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) FROM
          (SELECT COUNT(*) AS c FROM sdocs$k GROUP BY text) t WHERE c > 1),
        CAST(0 AS BIGINT)
      UNION ALL
      SELECT 'dedup_minhash', $k, (SELECT COUNT(*) FROM sdocs$k),
        (SELECT COUNT(*) FROM m${k}_mhp), CAST(0 AS BIGINT)
      UNION ALL
      SELECT 'interval_overlap', $k, (SELECT COUNT(*) FROM sev$k),
        (SELECT COUNT(*) FROM v${k}_pairs), CAST(0 AS BIGINT)"""
    }.mkString(" UNION ALL ")
    s"WITH\n$ctes\nSELECT * FROM ($rows) t ORDER BY key, scale"
  }

  val ops: Map[String, Op] = Map(
    "scale_curve_report" -> Op(scaleCurveReport _, scaleCurveReportSql)
  )
}
