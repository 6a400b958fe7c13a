package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Exact._
import graft.SparkEntry.Op

/** Time-series signal operators over the events stream (SURVEY §2 C11+):
  * forward-fill on the densified timeline and self-calibrating rate alerts.
  * Same contract as [[Relational]]: declarative plans, unsorted outputs,
  * exact sums.
  */
object Signals {

  /** C11 — gap-fill + LOCF (last observation carried forward): the densified
    * hourly series from C1c, with missing hours carrying the most recent
    * hour's aggregate value forward instead of zero — the standard
    * downsample-then-ffill resampling of every metrics pipeline. The fill is
    * one IGNORE-NULLS running `last` over the per-type timeline: work
    * partitions by event_type, and the window runs over the DENSIFIED rows
    * (|types| × |hours|), not the raw events — at 100 TB the fill cost
    * tracks the output timeline. Leading missing hours (before the first
    * observation) surface as 0.0.
    */
  def eventsGapFillLocf(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    val spine = hourly.groupBy(col("event_type"))
      .agg(min(col("hour_start")).as("lo"), max(col("hour_start")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("hour_start"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("event_type", "hour_start"), "left")
      .withColumn("filled", col("n").isNull)
      .withColumn("sum_value_ff",
        coalesce(last(col("sum_value"), ignoreNulls = true).over(w), lit(0.0)))
      .select(col("hour_start"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"), col("filled"), col("sum_value_ff"))
  }

  val eventsGapFillLocfSql: String = s"""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
        COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
      FROM events GROUP BY 1, 2),
    bounds AS (
      SELECT event_type, MIN(hour_start) AS lo, MAX(hour_start) AS hi
      FROM hourly GROUP BY 1),
    spine AS (
      SELECT event_type,
        unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour_start
      FROM bounds)
    SELECT s.hour_start, s.event_type, COALESCE(h.n, 0) AS n,
      h.n IS NULL AS filled,
      COALESCE(LAST_VALUE(h.sum_value IGNORE NULLS) OVER (
        PARTITION BY s.event_type ORDER BY s.hour_start
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS sum_value_ff
    FROM spine s LEFT JOIN hourly h
      ON s.event_type = h.event_type AND s.hour_start = h.hour_start
    ORDER BY 1, 2"""

  /** C12 — self-calibrating rate alert: hours whose event count exceeds that
    * type's own mean + 2σ over the observed timeline — the anomaly primitive
    * behind every ops dashboard. Two aggregates: hourly counts (one shuffle
    * of the raw events), then per-type moments over the TINY hourly table,
    * broadcast back. Counts are integers, so Σn and Σn² are exact in
    * doubles; z runs in IEEE doubles with the identical expression shape on
    * both engines (the [[Analytics.statsOutliers]] determinism argument).
    */
  val AlertZ = 2.0

  /** The calibration + cut over an hourly (hour_start, event_type, n)
    * counter table — shared by the batch operator and the streaming twin so
    * the two cannot diverge. The stats table is aliased defensively: the
    * streaming twin's counter table is a memory-sink VIEW, and a view
    * self-join without distinct aliases fails attribute deduplication.
    * `varp > 0` guards the degenerate types (constant counts, or a single
    * observed hour): 0/0 would otherwise be NaN, which Spark's
    * NaN-is-largest ordering treats as > AlertZ — a spurious alert for a
    * perfectly constant rate (and DuckDB would error on sqrt of a
    * cancellation-negative variance).
    */
  def rateAlertFrom(hourly: DataFrame, statsSrc: DataFrame): DataFrame = {
    val stats = statsSrc.groupBy(col("event_type"))
      .agg(sum(col("n").cast("double")).as("sx"),
        sum((col("n") * col("n")).cast("double")).as("sxx"),
        count(lit(1)).as("cnt"))
      .select(col("event_type").as("st_type"),
        (col("sx") / col("cnt")).as("mean"),
        (col("sxx") / col("cnt") - (col("sx") / col("cnt")) * (col("sx") / col("cnt")))
          .as("varp"))
    hourly.join(broadcast(stats), col("event_type") === col("st_type"))
      .filter(col("varp") > 0)
      .withColumn("z", (col("n") - col("mean")) / sqrt(col("varp")))
      .filter(col("z") > AlertZ)
      .select(col("event_type"), col("hour_start"), col("n"),
        round(col("z"), 6).as("z_score"))
  }

  def eventsRateAlert(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    rateAlertFrom(hourly, hourly)
  }

  val eventsRateAlertSql: String = s"""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
        COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    st AS (SELECT event_type,
        SUM(CAST(n AS DOUBLE)) AS sx, SUM(CAST(n * n AS DOUBLE)) AS sxx,
        COUNT(*) AS cnt
      FROM hourly GROUP BY 1),
    m AS (SELECT event_type, sx / cnt AS mean,
        sxx / cnt - (sx / cnt) * (sx / cnt) AS varp FROM st)
    SELECT event_type, hour_start, n,
      ROUND((n - mean) / SQRT(varp), 6) AS z_score
    FROM hourly JOIN m USING (event_type)
    WHERE varp > 0 AND (n - mean) / SQRT(varp) > $AlertZ
    ORDER BY 1, 2"""

  /** B55 — count-min frequency sketch: per-user event counts estimated from
    * a 4×1024 counter grid (32 KB of mergeable state at ANY corpus size —
    * the sketch you keep when exact per-key counts would be another 100 TB
    * table). Each row r hashes the key with splitmix64(key XOR seed_r); the
    * counters are plain additive partial aggregates (order-independent, so
    * the sketch is DETERMINISTIC and the DuckDB oracle replays it bit-exactly
    * in HUGEINT — same replay discipline as the B16b HLL). The probe set
    * (user_id ≡ 0 mod 7) joins the tiny counter table broadcast; the
    * estimate is the standard min-over-rows upper bound.
    */
  val CmsRows = 4
  val CmsCols = 1024

  /** Row-r bucket of a long key (public: the streaming twin reuses it). */
  def cmsBucketCol(r: Int, key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(graft.plans.MixHash.splitmix64Col(
      key.bitwiseXOR(lit(graft.plans.MixHash.slotB(r)))), lit(CmsCols.toLong))

  /** Explode `user_id` rows to their (r, bucket) grid coordinates — the
    * build side's key derivation AND the probe side's, shared with the
    * streaming twin so the hash pipeline cannot diverge.
    */
  def cmsGridKeys(df: DataFrame): DataFrame =
    df.select(col("user_id"), posexplode(array((0 until CmsRows).map(r =>
        struct(lit(r).as("r"), cmsBucketCol(r, col("user_id")).as("bucket"))): _*))
        .as(Seq("i", "rb")))
      .select(col("user_id"), col("rb.r").as("r"), col("rb.bucket").as("bucket"))

  /** Min-over-rows estimates for the probe keys against a drained counter
    * grid — shared by the batch operator and the streaming twin.
    */
  def cmsEstimatesFrom(counters: DataFrame, probeSrc: DataFrame): DataFrame = {
    val probes = probeSrc.filter(pmod(col("user_id"), lit(7L)) === 0).distinct()
    cmsGridKeys(probes)
      .join(broadcast(counters), Seq("r", "bucket"))
      .groupBy(col("user_id"))
      .agg(min(col("c")).as("n_est"))
  }

  def freqSketchCms(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"))
    val counters = cmsGridKeys(ev)
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    cmsEstimatesFrom(counters, ev)
  }

  val freqSketchCmsSql: String = {
    import graft.plans.MixHash._
    val seeds = (0 until CmsRows)
      .map(r => s"($r, ${java.lang.Long.toUnsignedString(slotB(r))}::HUGEINT)")
      .mkString(", ")
    def chain(src: String, out: String): String = sqlSplitmixCtes(
      s"$src, seeds", "xor(CAST(user_id AS HUGEINT), sd)",
      Seq("user_id", "r"), out)
    s"""
    WITH seeds(r, sd) AS (SELECT * FROM (VALUES $seeds) t(r, sd)),
    ev AS (SELECT user_id FROM events),
    ${chain("ev", "cx")},
    counters AS (SELECT r, h % $CmsCols AS bucket, COUNT(*) AS c
                 FROM cx GROUP BY 1, 2),
    probes AS (SELECT DISTINCT user_id FROM events WHERE user_id % 7 = 0),
    ${chain("probes", "px")},
    pb AS (SELECT user_id, r, h % $CmsCols AS bucket FROM px)
    SELECT user_id, MIN(c) AS n_est
    FROM pb JOIN counters USING (r, bucket)
    GROUP BY 1 ORDER BY 1"""
  }

  /** C2b — sessionization via Spark's NATIVE `session_window` keyword (the
    * built-in alternative to C2's lag/cumsum composition — one aggregate,
    * no window functions; Spark merges overlapping gap-extended intervals
    * inside the aggregation operator, the same machinery its streaming
    * session windows use). `session_window.end` is last-event-ts + gap, so
    * subtracting the gap recovers C2's max-ts session_end exactly. Gated
    * against the SAME oracle as `events_session`; a spec pins the two
    * implementations identical row-for-row.
    */
  def eventsSessionNative(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        (col("sw.end") - expr("interval 30 minutes")).as("session_end"),
        col("n_events"))

  /** C31 — sessionization with a DYNAMIC per-event gap (round-13): Spark's
    * native `session_window` with a gap EXPRESSION — each event type keeps
    * the session alive for its own horizon (purchases 60 min, everything
    * else 30 — the "high-intent events extend engagement" rule product
    * analytics actually uses). Each event spans [ts, ts+gap); overlapping
    * spans merge, so the session end is the max per-event horizon, not
    * last-ts + constant. The oracle replays the merge rule as
    * gaps-and-islands over the running MAX of (ts + gap): a new session
    * starts exactly when every prior horizon has closed (≤ ts — end
    * exclusive, Spark's rule). Same one-shuffle shape as C2b.
    */
  def eventsSessionDynamic(s: SparkSession, d: String): DataFrame = {
    // session_window's gap expression requires CalendarIntervalType —
    // string literals through when() arrive as DayTimeInterval, so the
    // branches are explicit CalendarInterval casts
    val gap = when(col("event_type") === "purchase",
        expr("cast('60 minutes' as interval)"))
      .otherwise(expr("cast('30 minutes' as interval)"))
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))
  }

  val eventsSessionDynamicSql: String = """
    WITH g AS (
      SELECT user_id, ts, event_id,
        ts + (CASE WHEN event_type = 'purchase' THEN INTERVAL '60 minutes'
                   ELSE INTERVAL '30 minutes' END) AS horizon
      FROM events),
    f AS (
      SELECT user_id, ts, event_id, horizon,
        CASE WHEN MAX(horizon) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > ts
             THEN 0 ELSE 1 END AS new_session
      FROM g),
    n AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
      FROM f)
    SELECT user_id, MIN(ts) AS session_start, MAX(horizon) AS session_end,
      COUNT(*) AS n_events
    FROM n GROUP BY user_id, seq ORDER BY user_id, session_start"""

  /** C15 — state intervals (gaps-and-islands run-length encoding): collapse
    * each user's event stream into maximal runs of the same event type with
    * validity bounds — the SCD2-style interval build every temporal
    * dimension table needs, and the one shape GROUP BY cannot express
    * (identical states in different runs must NOT merge). One shuffle on
    * user_id serves both windows and the final aggregate; (ts, event_id)
    * ordering makes island boundaries tie-deterministic.
    */
  def eventsStateIntervals(s: SparkSession, d: String): DataFrame =
    stateIntervalsOf(Tables.events(s, d))

  /** Frame-based core of C15 — shared by the gate and the scale-curve
    * report (which runs it over derived scaled event corpora). */
  private[graft] def stateIntervalsOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("chg",
        when(col("prev_type").isNull || col("prev_type") =!= col("event_type"), 1)
          .otherwise(0))
      .withColumn("island",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"), col("event_type"))
      .agg(min(col("ts")).as("valid_from"), max(col("ts")).as("valid_to"),
        count(lit(1)).as("n_events"))
  }

  val eventsStateIntervalsSql: String = """
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
        CASE WHEN LAG(event_type) OVER w IS NULL
               OR LAG(event_type) OVER w <> event_type
             THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id, event_type, ts,
        CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
      FROM flagged)
    SELECT user_id, island, event_type,
      MIN(ts) AS valid_from, MAX(ts) AS valid_to, COUNT(*) AS n_events
    FROM numbered GROUP BY 1, 2, 3 ORDER BY user_id, island"""

  /** B69 hot-bucket occupancy cap (round-14, verdict item 4): one busy hour
    * × hot event type makes the per-bucket self-join Θ(m²) with nothing
    * bounding m — the same mega-cluster blowup E3/E4 cap with
    * `maxBandBucket`. Same discipline here: buckets at or under the cap
    * enumerate all pairs; an OVERSIZED (bucket, type) switches to a star —
    * every member pairs only with the bucket representative (min
    * (user_id, island) interval), m−1 candidates, so the hottest bucket
    * costs linear, not quadratic. Recall trade, documented like
    * `maxBandBucket`: member–member overlaps inside an oversized
    * bucket whose overlap STARTS there are not emitted (a pair whose
    * overlap starts in a sub-cap bucket is still emitted by that bucket's
    * all-pairs path). No-op below the cap — the gate corpora peak at ~51
    * intervals per (hour, type) at sf0.1, so CORRECTNESS and the oracle
    * are unchanged. Overridable via `graft.interval.maxBucketOccupancy`.
    */
  val BucketOccupancy = graft.Gate("graft.interval.maxBucketOccupancy", 10000, 1)

  /** B69 — INTERVAL-OVERLAP join (round-13): pairs of intervals that
    * intersect in time — the temporal-join shape Spark has no native
    * operator for (B26's range join is point-in-interval; this is
    * interval×interval). Inputs are C15's state intervals (the shared
    * definition); two users' same-type intervals link iff their closed
    * spans intersect. The SCALE DEVICE is time binning: each interval
    * explodes to the hour buckets it covers, the join keys on
    * (bucket, type) — so the quadratic work is per-bucket, bounded by
    * bucket occupancy (itself capped: see [[BucketOccupancy]]),
    * never all-pairs — and the classic duplicate
    * problem (one pair overlapping in many buckets) is solved WITHOUT a
    * distinct shuffle: only the bucket containing the overlap START emits
    * the pair (ownership rule — every emitted pair has exactly one such
    * bucket; star candidates pass the same filter, so a pair can never be
    * emitted by both paths). Exact-µs overlap lengths; oracle is the
    * quadratic formulation DuckDB can afford at sf.
    */
  def joinIntervalOverlap(s: SparkSession, d: String): DataFrame =
    intervalOverlapPairsOf(s, Tables.events(s, d))

  /** Frame-based core of B69 — shared by the gate and the scale-curve
    * report. */
  private[graft] def intervalOverlapPairsOf(s: SparkSession, events: DataFrame): DataFrame = {
    val binned = graft.CacheScope.scopedPersist(stateIntervalsOf(events)
      .select(col("user_id"), col("island"), col("event_type"),
        col("valid_from"), col("valid_to"))
      .withColumn("bkt", explode(expr(
        "sequence(date_trunc('hour', valid_from), date_trunc('hour', valid_to), interval 1 hour)"))))
    // occupancy stats via the E3 key-sized-aggregate device: only oversized
    // (bkt, type) keys come back non-null, AQE broadcasts the tiny key table
    val stats = graft.dedup.Dedup.withBucketStats(binned, Seq("bkt", "event_type"),
      struct(col("user_id"), col("island"), col("valid_from"), col("valid_to")),
      BucketOccupancy.cap(s))
    val small = stats.filter(col("bn").isNull)
    def side(p: String) = small.select(col("user_id").as(s"${p}_user"),
      col("island").as(s"${p}_island"), col("event_type"),
      col("valid_from").as(s"${p}_from"), col("valid_to").as(s"${p}_to"),
      col("bkt"))
    val allPairs = side("a").join(side("b"), Seq("bkt", "event_type"))
    // oversized buckets: member → representative stars, canonicalized by
    // user so the shared a_user < b_user contract applies unchanged
    val repIsA = col("rep.user_id") < col("user_id")
    val starPairs = stats
      .filter(col("bn").isNotNull &&
        !(col("user_id") === col("rep.user_id") && col("island") === col("rep.island")))
      .select(col("bkt"), col("event_type"),
        when(repIsA, col("rep.user_id")).otherwise(col("user_id")).as("a_user"),
        when(repIsA, col("rep.island")).otherwise(col("island")).as("a_island"),
        when(repIsA, col("rep.valid_from")).otherwise(col("valid_from")).as("a_from"),
        when(repIsA, col("rep.valid_to")).otherwise(col("valid_to")).as("a_to"),
        when(repIsA, col("user_id")).otherwise(col("rep.user_id")).as("b_user"),
        when(repIsA, col("island")).otherwise(col("rep.island")).as("b_island"),
        when(repIsA, col("valid_from")).otherwise(col("rep.valid_from")).as("b_from"),
        when(repIsA, col("valid_to")).otherwise(col("rep.valid_to")).as("b_to"))
    val cand = Seq("bkt", "event_type", "a_user", "a_island", "a_from", "a_to",
      "b_user", "b_island", "b_from", "b_to")
    val out = allPairs.select(cand.map(col): _*)
      .unionByName(starPairs.select(cand.map(col): _*))
      .filter(col("a_user") < col("b_user"))
      .filter(col("a_from") <= col("b_to") && col("b_from") <= col("a_to"))
      .filter(expr("date_trunc('hour', greatest(a_from, b_from)) = bkt"))
      .select(col("a_user"), col("a_island"), col("b_user"), col("b_island"),
        col("event_type"),
        (unix_micros(least(col("a_to"), col("b_to"))) -
          unix_micros(greatest(col("a_from"), col("b_from")))).as("overlap_us"))
    graft.CacheScope.releaseAfterUse(out, binned)
  }

  val joinIntervalOverlapSql: String = """
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
        CASE WHEN LAG(event_type) OVER w IS NULL
               OR LAG(event_type) OVER w <> event_type
             THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id, event_type, ts,
        CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
      FROM flagged),
    si AS (
      SELECT user_id, island, event_type,
        MIN(ts) AS valid_from, MAX(ts) AS valid_to
      FROM numbered GROUP BY 1, 2, 3)
    SELECT a.user_id AS a_user, a.island AS a_island,
      b.user_id AS b_user, b.island AS b_island, a.event_type,
      epoch_us(least(a.valid_to, b.valid_to))
        - epoch_us(greatest(a.valid_from, b.valid_from)) AS overlap_us
    FROM si a JOIN si b
      ON a.event_type = b.event_type AND a.user_id < b.user_id
     AND a.valid_from <= b.valid_to AND b.valid_from <= a.valid_to
    ORDER BY a_user, a_island, b_user, b_island"""

  /** B59 — per-group Pearson correlation from EXACT moments: Σx, Σy, Σxy,
    * Σx², Σy² all through the scaled-int128 aggregate (one pass, one
    * shuffle into k group rows), the r formula then evaluated in IEEE
    * doubles with the identical expression shape on both engines — the
    * [[Analytics.statsOutliers]] determinism argument extended to
    * bivariate stats. The built-in `corr` streams float partials whose
    * accumulation order is nondeterministic — unusable under a hash gate.
    * Degenerate groups (either variance 0) are emitted with NULL r, like
    * SQL corr — guarded EXPLICITLY on both sides: Spark's non-ANSI
    * divide-by-zero yields NULL but DuckDB's SQRT(0)*SQRT(0) denominator
    * yields NaN under ieee_floating_point_ops, so leaving the guard to the
    * engines would diverge the gate on a constant-valued group.
    */
  def statsCorrelation(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("double").as("n"),
        dsum(x).as("sx"), dsum(y).as("sy"), dsum(x * y).as("sxy"),
        dsum(x * x).as("sxx"), dsum(y * y).as("syy"))
      .select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
        when(
          col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
            col("n") * col("syy") - col("sy") * col("sy") > 0,
          round(
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6))
          .as("pearson_r"))
  }

  val statsCorrelationSql: String = s"""
    WITH m AS (
      SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
        ${sqlDsum("l_quantity")} AS sx,
        ${sqlDsum("l_extendedprice")} AS sy,
        ${sqlDsum("l_quantity * l_extendedprice")} AS sxy,
        ${sqlDsum("l_quantity * l_quantity")} AS sxx,
        ${sqlDsum("l_extendedprice * l_extendedprice")} AS syy
      FROM lineitem GROUP BY 1)
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        THEN ROUND((n * sxy - sx * sy) /
          (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6)
        ELSE NULL END AS pearson_r
    FROM m ORDER BY 1"""

  /** C20 — MAD-based anomaly detection over the hourly rate series: the
    * robust twin of C12's mean/stddev alert. Median + median-absolute-
    * deviation ignore the outliers themselves (a traffic spike inflates a
    * stddev threshold enough to hide itself; it cannot move a median), so
    * this is what monitoring pipelines actually deploy. Exactness: hourly
    * counts are integers, so every median/MAD is a multiple of 0.5 —
    * dyadic, exactly representable in doubles — and the 3×MAD comparison
    * never sits on a rounding boundary in either engine. Shape: one
    * events→(type,hour) agg, two |types|-sized percentile aggs broadcast
    * back, one per-type rank for the worst hour — all windows partition by
    * event_type; nothing scales beyond the timeline.
    */
  val MadK = 3

  def eventsAnomalyMad(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val med = hourly.groupBy(col("event_type"))
      .agg(percentile(col("n"), lit(0.5)).as("med"))
    val dev = hourly.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("n") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(percentile(col("dev"), lit(0.5)).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("dev").desc, col("h"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        first(col("med")).as("med"), first(col("mad")).as("mad"),
        sum(when(col("dev") > lit(MadK) * col("mad"), 1L).otherwise(0L)).as("n_anomalies"),
        max(when(col("rn") === 1, col("h"))).as("worst_hour"),
        max(when(col("rn") === 1, col("n"))).as("worst_n"))
  }

  val eventsAnomalyMadSql: String = s"""
    WITH c AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    m AS (SELECT event_type, median(n) AS med FROM c GROUP BY 1),
    dv AS (
      SELECT c.event_type, h, n, med, abs(n - med) AS dev
      FROM c JOIN m USING (event_type)),
    mm AS (SELECT event_type, median(dev) AS mad FROM dv GROUP BY 1),
    r AS (
      SELECT dv.event_type, h, n, med, mad, dev,
        ROW_NUMBER() OVER (PARTITION BY dv.event_type
          ORDER BY dev DESC, h) AS rn
      FROM dv JOIN mm ON dv.event_type = mm.event_type)
    SELECT event_type, COUNT(*) AS n_hours,
      ANY_VALUE(med) AS med, ANY_VALUE(mad) AS mad,
      CAST(SUM(CASE WHEN dev > $MadK * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
      MAX(CASE WHEN rn = 1 THEN h END) AS worst_hour,
      MAX(CASE WHEN rn = 1 THEN n END) AS worst_n
    FROM r GROUP BY event_type ORDER BY event_type"""

  /** C22 — CUSUM change-point detection over the hourly event-rate series:
    * the classic one-sided cumulative-sum statistic
    * S_i = max(0, S_{i-1} + x_i - mean - slack), which accumulates
    * sustained upward rate shifts that per-hour thresholds (C12) and MAD
    * outliers (C20) both miss — a 20%-above-mean drift for two days never
    * trips a per-hour alert but drives S steadily up (Page's CUSUM, the
    * public textbook form). All arithmetic is fixed-point integer (counts
    * ×1000, mean/slack floor-divided), so the DuckDB recursive-CTE replay
    * is bit-exact.
    *
    * Scale shape: the raw stream collapses to |types| × |hours| rows in one
    * map-side-combined agg; the inherently SEQUENTIAL fold then runs per
    * type over its own hourly array via `aggregate()` — bounded by the
    * calendar (8,760 rows per type-year), never by the corpus, the same
    * bounded-per-key-array device as C11's spine. At 100 TB the fold input
    * is identical; only the first agg sees more data.
    *
    * Outputs per type: hours observed, fixed-point mean/slack, the max
    * CUSUM value, the FIRST hour attaining it (the detected change point),
    * and how many hours ran above the 3×mean alarm threshold.
    */
  def eventsCusumShift(s: SparkSession, d: String): DataFrame =
    cusumReport(
      Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n")))

  /** THE CUSUM finisher, shared by C22 (batch) and C23 (streaming drain):
    * input is the (event_type, h, n) hourly-count table; a definition
    * drift between the twins is impossible because there is one
    * definition. (The C18/C21 shared-finisher discipline.)
    */
  def cusumReport(hourly: DataFrame): DataFrame =
    hourly
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("h"), col("n")))).as("hs"),
        sum(col("n")).as("tot"), count(lit(1)).as("nh"))
      .withColumn("m", expr("(1000 * tot) DIV nh"))
      .withColumn("slack", expr("m DIV 10"))
      .withColumn("f", expr(
        """aggregate(hs,
             named_struct('s', 0L, 'mx', -1L,
                          'peak', CAST(NULL AS TIMESTAMP), 'al', 0L),
             (acc, x) -> named_struct(
               's',  greatest(0L, acc.s + 1000L * x.n - m - slack),
               'mx', greatest(acc.mx,
                       greatest(0L, acc.s + 1000L * x.n - m - slack)),
               'peak', CASE WHEN greatest(0L, acc.s + 1000L * x.n - m - slack)
                              > acc.mx THEN x.h ELSE acc.peak END,
               'al', acc.al + CASE WHEN greatest(0L,
                       acc.s + 1000L * x.n - m - slack) > 3 * m
                     THEN 1L ELSE 0L END))"""))
      .select(col("event_type"), col("nh").as("n_hours"),
        col("m").as("mean_milli"), col("slack").as("slack_milli"),
        col("f.mx").as("max_cusum"), col("f.peak").as("peak_hour"),
        col("f.al").as("n_alarm_hours"))

  val eventsCusumShiftSql: String = """
    WITH RECURSIVE c AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    p AS (
      SELECT event_type, COUNT(*) AS nh,
        CAST((1000 * SUM(n)) // COUNT(*) AS BIGINT) AS m,
        CAST(((1000 * SUM(n)) // COUNT(*)) // 10 AS BIGINT) AS slack
      FROM c GROUP BY 1),
    idx AS (
      SELECT event_type, h, n,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS i
      FROM c),
    f AS (
      SELECT event_type, 0 AS i, CAST(0 AS BIGINT) AS s,
        CAST(-1 AS BIGINT) AS mx, CAST(NULL AS TIMESTAMP) AS peak,
        CAST(0 AS BIGINT) AS al
      FROM p
      UNION ALL
      SELECT f.event_type, f.i + 1,
        greatest(0, f.s + 1000 * x.n - p.m - p.slack),
        greatest(f.mx, greatest(0, f.s + 1000 * x.n - p.m - p.slack)),
        CASE WHEN greatest(0, f.s + 1000 * x.n - p.m - p.slack) > f.mx
             THEN x.h ELSE f.peak END,
        f.al + CASE WHEN greatest(0, f.s + 1000 * x.n - p.m - p.slack) > 3 * p.m
               THEN 1 ELSE 0 END
      FROM f
      JOIN idx x ON x.event_type = f.event_type AND x.i = f.i + 1
      JOIN p ON p.event_type = f.event_type)
    SELECT p.event_type, CAST(p.nh AS BIGINT) AS n_hours,
      CAST(p.m AS BIGINT) AS mean_milli, CAST(p.slack AS BIGINT) AS slack_milli,
      CAST(f.mx AS BIGINT) AS max_cusum, f.peak AS peak_hour,
      CAST(f.al AS BIGINT) AS n_alarm_hours
    FROM p JOIN f ON f.event_type = p.event_type AND f.i = p.nh
    ORDER BY p.event_type"""

  /** B63 — two-sample A/B TEST report (Welch's t): the experiment-analysis
    * primitive every product-analytics stack ships — per event_type, split
    * users into control/treatment by user_id parity (a deterministic stand-
    * in for the assignment column a real experiment carries), compare mean
    * `value`, and emit Welch's t statistic with a |t| > 1.96 significance
    * flag. Exactness follows B59's (stats_correlation) proven discipline:
    * all sums are decimal-exact [[graft.operators.Exact.dsum]] (order-
    * independent), both engines then run the IDENTICAL parenthesized
    * double formula on bit-identical inputs, and the published floats are
    * rounded to 6 dp. One fused scan → |types|-row conditional agg —
    * report-sized at any scale, no second pass for the variances.
    */
  def statsAbTest(s: SparkSession, d: String): DataFrame = {
    val a = pmod(col("user_id"), lit(2L)) === 0
    val v = col("value")
    def cnt(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sum(when(c, 1L).otherwise(0L))
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(cnt(a).cast("double").as("na"), cnt(!a).cast("double").as("nb"),
        dsum(when(a, v).otherwise(0.0)).as("sa"),
        dsum(when(!a, v).otherwise(0.0)).as("sb"),
        dsum(when(a, v * v).otherwise(0.0)).as("sxa"),
        dsum(when(!a, v * v).otherwise(0.0)).as("sxb"))
      .withColumn("va", (col("sxa") - col("sa") * col("sa") / col("na")) / (col("na") - 1))
      .withColumn("vb", (col("sxb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1))
      .withColumn("t", (col("sa") / col("na") - col("sb") / col("nb")) /
        sqrt(col("va") / col("na") + col("vb") / col("nb")))
      .select(col("event_type"),
        col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        // a one-sided corpus (every user of a type in one parity) gives
        // na=0; Spark's 0.0/0.0 is NaN where DuckDB differs — guard to NULL
        when(col("na") > 0, round(col("sa") / col("na"), 6)).as("mean_a"),
        when(col("nb") > 0, round(col("sb") / col("nb"), 6)).as("mean_b"),
        when(col("na") > 1 && col("nb") > 1, round(col("t"), 6)).as("welch_t"),
        when(col("na") > 1 && col("nb") > 1, abs(col("t")) > 1.96)
          .as("significant"))
  }

  val statsAbTestSql: String = s"""
    WITH m AS (
      SELECT event_type,
        CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS na,
        CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
        ${sqlDsum("CASE WHEN user_id % 2 = 0 THEN value ELSE 0.0 END")} AS sa,
        ${sqlDsum("CASE WHEN user_id % 2 <> 0 THEN value ELSE 0.0 END")} AS sb,
        ${sqlDsum("CASE WHEN user_id % 2 = 0 THEN value * value ELSE 0.0 END")} AS sxa,
        ${sqlDsum("CASE WHEN user_id % 2 <> 0 THEN value * value ELSE 0.0 END")} AS sxb
      FROM events GROUP BY 1),
    w AS (
      SELECT event_type, na, nb, sa, sb,
        (sxa - sa * sa / na) / (na - 1) AS va,
        (sxb - sb * sb / nb) / (nb - 1) AS vb
      FROM m),
    tt AS (
      SELECT event_type, na, nb, sa, sb,
        (sa / na - sb / nb) / SQRT(va / na + vb / nb) AS t
      FROM w)
    SELECT event_type,
      CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      CASE WHEN na > 0 THEN ROUND(sa / na, 6) END AS mean_a,
      CASE WHEN nb > 0 THEN ROUND(sb / nb, 6) END AS mean_b,
      CASE WHEN na > 1 AND nb > 1 THEN ROUND(t, 6) END AS welch_t,
      CASE WHEN na > 1 AND nb > 1 THEN abs(t) > 1.96 END AS significant
    FROM tt ORDER BY event_type"""

  /** B67 — deterministic POISSON-BOOTSTRAP confidence intervals for the
    * per-type mean (round-12): the uncertainty quantification B63's point
    * test lacks — a 95% percentile CI from B=100 resamples, computed the
    * way web-scale systems actually bootstrap (Poisson weights per
    * (row, resample), Chamandy et al.'s streaming bootstrap — no
    * materialized resampled datasets, one pass per row per replicate).
    * DETERMINISM is total: the Poisson(1) weight is an inverse-CDF lookup
    * on the low 20 bits of splitmix64(event_id·131071 + b) — a POWER-OF-TWO
    * grid, so the signed (Spark) and unsigned (DuckDB HUGEINT) views of the
    * hash agree on the residue (2⁶⁴ ≡ 0 mod 2²⁰; a 10⁶ grid does NOT have
    * that property and diverged cross-engine) — against fixed integer
    * thresholds (385750/771499/964374/1028665 = e⁻¹ cumulative probs on
    * the 2²⁰ grid, tail lumped at 4), replicate means are exact-integer
    * numerators over integer weight sums with ONE rounded division (the
    * B63 discipline), and the percentile picks are rank statistics over
    * (rounded mean, b) — every step replays bit-exactly in the oracle.
    * Shape: events × B exploded rows reduce by map-side combine into
    * |types|·B partials; the rank window runs over that tiny frame.
    */
  val BootstrapB = 100

  def statsBootstrapCi(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val units = column(graft.plans.ScaledLong(
      expression(col("value").cast("double")), 10000.0))
    val means = Tables.events(s, d)
      .select(col("event_type"), col("event_id"), units.as("un"))
      .withColumn("b", explode(expr(s"sequence(0, ${BootstrapB - 1})")))
      .withColumn("u", graft.plans.MixHash.splitmix64Col(
        col("event_id") * lit(131071L) + col("b"))
        .bitwiseAND(lit((1L << 20) - 1)))
      .withColumn("w",
        when(col("u") < 385750L, 0L).when(col("u") < 771499L, 1L)
          .when(col("u") < 964374L, 2L).when(col("u") < 1028665L, 3L)
          .otherwise(4L))
      .groupBy(col("event_type"), col("b"))
      .agg(sum(col("w") * col("un")).as("num"), sum(col("w")).as("den"))
      .filter(col("den") > 0)
      .withColumn("mean_b",
        round(col("num").cast("double") / 10000.0 / col("den"), 6))
    val w = Window.partitionBy(col("event_type")).orderBy(col("mean_b"), col("b"))
    val ranked = means
      .withColumn("rn", row_number().over(w))
      .withColumn("nb", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val ci = ranked.groupBy(col("event_type"))
      .agg(
        min(when(col("rn") === greatest(lit(1L), expr("(25 * nb) DIV 1000")),
          col("mean_b"))).as("ci_lo"),
        min(when(col("rn") === expr("(975 * nb + 999) DIV 1000"),
          col("mean_b"))).as("ci_hi"))
    val base = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), davg(col("value")).as("mean_value"))
    base.join(ci, "event_type")
      .select(col("event_type"), col("n_events"), col("mean_value"),
        col("ci_lo"), col("ci_hi"))
  }

  val statsBootstrapCiSql: String = {
    import graft.plans.MixHash._
    s"""
    WITH ev AS (
      SELECT event_type, event_id,
        ${graft.plans.ScaledLong.sql("value", "10000.0")} AS un
      FROM events),
    bx AS (SELECT event_type, event_id, un, unnest(range($BootstrapB)) AS b FROM ev),
    ${sqlSplitmixCtes("bx", "CAST(event_id * 131071 + b AS HUGEINT)",
      Seq("event_type", "b", "un"), "bs")},
    wt AS (
      SELECT event_type, b, un,
        CASE WHEN h % 1048576 < 385750 THEN 0
             WHEN h % 1048576 < 771499 THEN 1
             WHEN h % 1048576 < 964374 THEN 2
             WHEN h % 1048576 < 1028665 THEN 3 ELSE 4 END AS w
      FROM bs),
    m AS (
      SELECT event_type, b,
        ROUND(CAST(SUM(w * un) AS DOUBLE) / 10000.0 / SUM(w), 6) AS mean_b
      FROM wt GROUP BY 1, 2 HAVING SUM(w) > 0),
    rk AS (
      SELECT event_type, b, mean_b,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY mean_b, b) AS rn,
        COUNT(*) OVER (PARTITION BY event_type) AS nb
      FROM m),
    ci AS (
      SELECT event_type,
        MIN(CASE WHEN rn = GREATEST(1, (25 * nb) // 1000) THEN mean_b END) AS ci_lo,
        MIN(CASE WHEN rn = (975 * nb + 999) // 1000 THEN mean_b END) AS ci_hi
      FROM rk GROUP BY 1),
    base AS (
      SELECT event_type, COUNT(*) AS n_events,
        ${graft.operators.Exact.sqlDavg("value")} AS mean_value
      FROM events GROUP BY 1)
    SELECT base.event_type, base.n_events, base.mean_value, ci.ci_lo, ci.ci_hi
    FROM base JOIN ci USING (event_type)
    ORDER BY event_type"""
  }

  /** C24 — LAST-TOUCH ATTRIBUTION: credit every `purchase` conversion to
    * the same user's most recent PRECEDING non-conversion event — the
    * marketing-analytics primitive behind "which touchpoint drives
    * revenue" tables. One ignore-nulls running `last` over the per-user
    * timeline (the C11 window family: partitions by user, scales with
    * users), a deterministic (ts, event_id) order tiebreak, then a
    * touch-type-sized report: conversion counts + decimal-exact revenue.
    * Conversions with no preceding touch surface as the NULL row (honest
    * accounting, not silently dropped).
    */
  def eventsAttribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .withColumn("touch", last(
        when(col("event_type") =!= "purchase", col("event_type")),
        ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(col("touch").as("touch_type"))
      .agg(count(lit(1)).as("n_conversions"),
        round(dsum(col("value")), 4).as("conv_value"))
  }

  val eventsAttributionSql: String = s"""
    WITH t AS (
      SELECT event_type, value,
        LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
          IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type
      FROM events)
    SELECT touch_type, COUNT(*) AS n_conversions,
      ROUND(${sqlDsum("value")}, 4) AS conv_value
    FROM t WHERE event_type = 'purchase'
    GROUP BY touch_type ORDER BY touch_type"""

  /** C27 — POSITION-BASED (U-shaped) multi-touch attribution (round-12;
    * C24's single-touch upgrade): the user timeline splits into conversion
    * PATHS at purchases — every non-purchase touch belongs to exactly ONE
    * path (the one its NEXT purchase closes), so the computation is
    * window-only and corpus-LINEAR (no conversion×touch join, no
    * quadratic). Within a path of n touches the credit is the standard
    * U-shape in exact basis points: n=1 → 10000; n=2 → 5000/5000; n≥3 →
    * first/last 4000 each, the m=n−2 middles split 2000 by floor division
    * with the remainder going to the EARLIEST middles — Σ weights ≡ 10000
    * per converting path, so attribution mass is conserved exactly and
    * the gate hashes it. Touch value credit = Σ(value_units · w_bps) as a
    * long, one final /10⁸ division + round (the B63 discipline). Paths
    * without a closing purchase earn nothing (honest accounting, like
    * C24's NULL row).
    */
  def eventsAttributionPosition(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(s, d)
      .withColumn("is_conv", (col("event_type") === "purchase").cast("long"))
      // path id = purchases strictly before this row: touches and their
      // closing purchase share it
      .withColumn("path", coalesce(sum(col("is_conv")).over(
        byUser.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val touches = ev.filter(col("is_conv") === 0)
      .withColumn("i", row_number().over(
        Window.partitionBy(col("user_id"), col("path"))
          .orderBy(col("ts"), col("event_id"))).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("user_id"), col("path"))))
    val convs = ev.filter(col("is_conv") === 1)
      .select(col("user_id"), col("path"),
        org.apache.spark.sql.graft.ColumnBridge.column(graft.plans.ScaledLong(
          org.apache.spark.sql.graft.ColumnBridge.expression(
            col("value").cast("double")), 10000.0)).as("conv_units"))
    touches
      .join(convs, Seq("user_id", "path")) // paths without a purchase drop
      .withColumn("w", when(col("n") === 1, 10000L)
        .when(col("n") === 2, 5000L)
        .when(col("i") === 1 || col("i") === col("n"), 4000L)
        .otherwise(expr("2000 DIV (n - 2) + " +
          "CASE WHEN i - 1 <= 2000 % (n - 2) THEN 1 ELSE 0 END")))
      .groupBy(col("event_type").as("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("w")).as("attributed_bps"),
        round(sum(col("w") * col("conv_units")).cast("double") / 1e8, 4)
          .as("attr_value"))
  }

  val eventsAttributionPositionSql: String = s"""
    WITH ev AS (
      SELECT user_id, event_id, ts, event_type, value,
        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv,
        COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS path
      FROM events),
    touches AS (
      SELECT user_id, path, event_type,
        ROW_NUMBER() OVER (PARTITION BY user_id, path ORDER BY ts, event_id) AS i,
        COUNT(*) OVER (PARTITION BY user_id, path) AS n
      FROM ev WHERE is_conv = 0),
    convs AS (
      SELECT user_id, path,
        ${graft.plans.ScaledLong.sql("value", "10000.0")} AS conv_units
      FROM ev WHERE is_conv = 1),
    wt AS (
      SELECT t.event_type AS touch_type, c.conv_units,
        CASE WHEN t.n = 1 THEN 10000
             WHEN t.n = 2 THEN 5000
             WHEN t.i = 1 OR t.i = t.n THEN 4000
             ELSE 2000 // (t.n - 2) +
               CASE WHEN t.i - 1 <= 2000 % (t.n - 2) THEN 1 ELSE 0 END
        END AS w
      FROM touches t JOIN convs c ON c.user_id = t.user_id AND c.path = t.path)
    SELECT touch_type, COUNT(*) AS n_touches,
      CAST(SUM(w) AS BIGINT) AS attributed_bps,
      ROUND(CAST(SUM(w * conv_units) AS DOUBLE) / 100000000.0, 4) AS attr_value
    FROM wt GROUP BY 1 ORDER BY 1"""

  /** B64 — INCREMENTAL AGGREGATE MAINTENANCE (materialized-view merge):
    * the pattern that makes a 100 TB daily pipeline affordable — yesterday's
    * per-(type, day) aggregate table is never recomputed; today's batch
    * produces the same-shaped partial state and the two MERGE additively.
    * Exactness is the whole game: the mergeable state is the decimal-exact
    * integer UNIT sum ([[graft.plans.ExactSum]] — integer-valued doubles,
    * exact under addition below 2^53), so stored ⊕ batch then ONE final
    * /10⁴ division is bit-identical to the full recompute the oracle runs
    * — a float mean or a rounded partial would drift at the merge
    * boundary. The gate proves merged == recomputed by hashing against
    * the full-recompute oracle; the E7 incremental-dedup discipline
    * applied to the aggregate side.
    */
  def aggIncrementalMerge(s: SparkSession, d: String): DataFrame = {
    def partial(f: org.apache.spark.sql.Column): DataFrame =
      Tables.events(s, d).filter(f)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          graft.plans.ExactSum.sumUnits(col("value")).as("units"))
    // "stored" state = the history (event_id mod 10 < 8, ~80%); "batch" =
    // the increment. In production the first is a parquet table; the merge
    // below is the only work the daily job runs.
    val stored = partial(pmod(col("event_id"), lit(10L)) < 8)
    val batch = partial(pmod(col("event_id"), lit(10L)) >= 8)
    stored.unionByName(batch)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("n")).as("n_events"),
        (sum(col("units")) / lit(10000.0)).as("sum_value"))
      .withColumn("mean_value",
        round(col("sum_value") / col("n_events"), 6))
  }

  val aggIncrementalMergeSql: String = s"""
    SELECT event_type, time_bucket(INTERVAL '1 day', ts) AS day,
      COUNT(*) AS n_events, ${sqlDsum("value")} AS sum_value,
      ROUND(${sqlDsum("value")} / COUNT(*), 6) AS mean_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  val ops: Map[String, Op] = Map(
    "stats_bootstrap_ci" -> Op(statsBootstrapCi _, statsBootstrapCiSql),
    "events_attribution_position" -> Op(eventsAttributionPosition _, eventsAttributionPositionSql),
    "events_anomaly_mad" -> Op(eventsAnomalyMad _, eventsAnomalyMadSql),
    "stats_correlation" -> Op(statsCorrelation _, statsCorrelationSql),
    "events_gap_fill_locf" -> Op(eventsGapFillLocf _, eventsGapFillLocfSql),
    "events_rate_alert" -> Op(eventsRateAlert _, eventsRateAlertSql),
    "events_state_intervals" -> Op(eventsStateIntervals _, eventsStateIntervalsSql),
    // the native session_window form must equal C2's composition exactly
    "agg_incremental_merge" -> Op(aggIncrementalMerge _, aggIncrementalMergeSql),
    "events_attribution" -> Op(eventsAttribution _, eventsAttributionSql),
    "stats_ab_test" -> Op(statsAbTest _, statsAbTestSql),
    "events_cusum_shift" -> Op(eventsCusumShift _, eventsCusumShiftSql),
    "events_session_native" -> Op(eventsSessionNative _, Relational.ops("events_session").oracle),
    "events_session_dynamic" -> Op(eventsSessionDynamic _, eventsSessionDynamicSql),
    "join_interval_overlap" -> Op(joinIntervalOverlap _, joinIntervalOverlapSql),
    "freq_sketch_cms" -> Op(freqSketchCms _, freqSketchCmsSql)
  )
}
