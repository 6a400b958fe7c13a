package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.state.StateStoreProviderId
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, StreamingQueryProgress, Trigger}
import graft.operators.{Analytics, Relational, Signals, Tables}
import graft.operators.Exact._
import graft.SparkEntry.Op

/** C-block streaming (SURVEY §2 C3/C4): the same event computations as the
  * batch operators, expressed over Structured Streaming. Batch/stream parity
  * is pinned by StreamingSpec (stream result == Relational.eventsWindowAgg /
  * eventsSession on the same data).
  */
object Streams {

  /** C3 — tumbling-window count/sum with a 1-hour watermark: late data past
    * the watermark is dropped, windows finalize (and emit, in append mode)
    * once the watermark passes their end.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"), col("sum_value"))

  /** Event with microsecond-precision epoch time (Timestamp round-trips
    * through ms and silently drops the µs the batch operators keep).
    */
  case class Ev(user_id: Long, ts_us: Long, value: Double)
  case class SessionState(start: Long, end: Long, n: Int)
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  val GapUs: Long = 30L * 60 * 1000 * 1000

  /** C4 — stateful sessionization with flatMapGroupsWithState: one open
    * session per user lives in the state store; events extend it or close it
    * (emitting the finished session). The same 30-minute gap rule as the
    * batch `events_session` operator.
    */
  def sessionize(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[List[SessionState]]) =>
          val sorted = evs.map(_.ts_us).toArray.sorted
          var open: Option[SessionState] = state.getOption.flatMap(_.headOption)
          val closed = scala.collection.mutable.ArrayBuffer[SessionState]()
          sorted.foreach { t =>
            open match {
              case Some(sess) if t - sess.end <= GapUs =>
                open = Some(sess.copy(end = t, n = sess.n + 1))
              case Some(sess) =>
                closed += sess
                open = Some(SessionState(t, t, 1))
              case None =>
                open = Some(SessionState(t, t, 1))
            }
          }
          open match {
            case Some(sess) => state.update(List(sess))
            case None => state.remove()
          }
          closed.iterator.map(sess => SessionOut(userId, sess.start, sess.end, sess.n))
      }
  }

  /** C30 — sessionization re-expressed on Spark 4's `transformWithState`
    * (the arbitrary-stateful successor of flatMapGroupsWithState, and the
    * API new state machines should target): the SAME 30-minute gap rule as
    * C4, with the open session held in a NAMED `ValueState` through the
    * StatefulProcessor lifecycle (init allocates the state handle once per
    * partition; handleInputRows folds each micro-batch's rows). Runs on
    * the RocksDB state store provider the operator requires — itself the
    * production choice at scale (changelog-checkpointed, memory-bounded
    * off-heap state vs the in-memory HDFS-backed default). Gate: the same
    * oracle text as C4 — one session rule, two state APIs, provably equal.
    */
  class TwsSession extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, SessionOut] {
    @transient private var open: org.apache.spark.sql.streaming.ValueState[SessionState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      open = getHandle.getValueState[SessionState]("open",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(userId: Long, evs: Iterator[Ev],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      val sorted = evs.map(_.ts_us).toArray.sorted
      var cur: Option[SessionState] = if (open.exists()) Some(open.get()) else None
      val closed = scala.collection.mutable.ArrayBuffer[SessionState]()
      sorted.foreach { t =>
        cur match {
          case Some(sess) if t - sess.end <= GapUs =>
            cur = Some(sess.copy(end = t, n = sess.n + 1))
          case Some(sess) =>
            closed += sess
            cur = Some(SessionState(t, t, 1))
          case None =>
            cur = Some(SessionState(t, t, 1))
        }
      }
      cur match {
        case Some(sess) => open.update(sess)
        case None => open.clear()
      }
      closed.iterator.map(sess => SessionOut(userId, sess.start, sess.end, sess.n))
    }
  }

  def sessionizeTws(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TwsSession,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** C32 — session FLUSH-ON-EXPIRY via transformWithState EVENT-TIME
    * TIMERS (round-13; the other half of the new API, and the semantics a
    * production sessionizer actually needs): C4/C30 only emit a session
    * when a LATER event closes it — a user who walks away leaves their
    * final session in state forever. Here every open session registers an
    * event-time timer at end + gap; when the watermark passes it,
    * `handleExpiredTimer` emits the session and clears the state. The
    * emitted set therefore has a batch-exact characterization: a maximal
    * 30-min-gap run is emitted iff a later event of the same user closed
    * it OR its (ms-grain) end + gap sits behind the final watermark
    * (ms-truncated max event time − 1h) — the no-data batch Spark runs
    * after the last file fires the remaining timers. Mid-stream flushes
    * (the era fixture's bridge) cannot diverge from that formula because
    * the expiry horizon (gap + delay = 1.5 h) exceeds the session gap: any
    * event that could have extended a flushed session would have arrived
    * inside its horizon. Timer hygiene: the previous open session's timer
    * is deleted whenever the open session changes; a stale expiry (not
    * matching the current session's timer) is ignored.
    */
  case class Ev2(user_id: Long, ts: java.sql.Timestamp)

  class TwsTimedSession extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev2, SessionOut] {
    @transient private var open: org.apache.spark.sql.streaming.ValueState[SessionState] = _
    private def usOf(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    private def timerMs(sess: SessionState): Long =
      sess.end / 1000 + GapUs / 1000
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      open = getHandle.getValueState[SessionState]("open",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(userId: Long, evs: Iterator[Ev2],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      val prev = if (open.exists()) Some(open.get()) else None
      val sorted = evs.map(e => usOf(e.ts)).toArray.sorted
      var cur = prev
      val closed = scala.collection.mutable.ArrayBuffer[SessionState]()
      sorted.foreach { t =>
        cur match {
          case Some(sess) if t - sess.end <= GapUs =>
            cur = Some(sess.copy(end = t, n = sess.n + 1))
          case Some(sess) =>
            closed += sess
            cur = Some(SessionState(t, t, 1))
          case None =>
            cur = Some(SessionState(t, t, 1))
        }
      }
      (prev, cur) match {
        case (p, Some(c)) if !p.contains(c) =>
          p.foreach(s => getHandle.deleteTimer(timerMs(s)))
          getHandle.registerTimer(timerMs(c))
          open.update(c)
        case (_, Some(c)) => open.update(c)
        case (p, None) =>
          p.foreach(s => getHandle.deleteTimer(timerMs(s)))
          open.clear()
      }
      closed.iterator.map(sess => SessionOut(userId, sess.start, sess.end, sess.n))
    }
    override def handleExpiredTimer(userId: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] = {
      if (open.exists()) {
        val sess = open.get()
        if (timerMs(sess) == info.getExpiryTimeInMs()) {
          open.clear()
          return Iterator.single(SessionOut(userId, sess.start, sess.end, sess.n))
        }
      }
      Iterator.empty
    }
  }

  /** C35 — per-user TRANSITION counting via transformWithState MAP state
    * (round-13; completes the new API's state-primitive coverage —
    * ValueState C30, timers C32, ListState C33, initial state C34): the
    * behavioral Markov-chain counter — for every event after a user's
    * first, emit (from_type → to_type) with the running count of that
    * transition for the user. State = one ValueState (previous type) + one
    * MapState keyed by the transition pair — bounded by |types|² per user,
    * never stream length; MapState gives per-entry point updates (the
    * whole point of the primitive: no read-modify-write of a full map
    * blob). Fold order (ts, event_id) makes ties deterministic; the batch
    * oracle is a lag + per-transition row_number.
    */
  case class TEv(user_id: Long, event_id: Long, ts_us: Long, event_type: String)
  case class TransOut(user_id: Long, event_id: Long, ts_us: Long,
      from_type: String, to_type: String, n_so_far: Long)

  class TwsTransitions extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TEv, TransOut] {
    @transient private var prev: org.apache.spark.sql.streaming.ValueState[String] = _
    @transient private var counts: org.apache.spark.sql.streaming.MapState[(String, String), Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      prev = getHandle.getValueState[String]("prev",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      counts = getHandle.getMapState[(String, String), Long]("counts",
        org.apache.spark.sql.Encoders.product[(String, String)],
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(userId: Long, evs: Iterator[TEv],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[TransOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[TransOut]
      var p: Option[String] = if (prev.exists()) Some(prev.get()) else None
      evs.toArray.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        p.foreach { from =>
          val key = (from, e.event_type)
          val n = (if (counts.containsKey(key)) counts.getValue(key) else 0L) + 1L
          counts.updateValue(key, n)
          out += TransOut(userId, e.event_id, e.ts_us, from, e.event_type, n)
        }
        p = Some(e.event_type)
      }
      p.foreach(prev.update)
      out.iterator
    }
  }

  def streamingTypeTransitions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = eventsStream(s, d, "event_id BIGINT, user_id BIGINT, event_type STRING")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
      .as[TEv]
    drain(s, src.groupByKey(_.user_id)
      .transformWithState(new TwsTransitions,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append()),
      "append", rocksDb = true)
  }

  /** C34 — BATCH-BOOTSTRAP of streaming state via
    * `StatefulProcessorWithInitialState` (round-13; the migration path
    * every deployment needs — start a streaming state machine from state a
    * batch job computed, instead of replaying history): the batch side
    * folds the OLD era (ts ≤ max − 2h) into each user's final OPEN session
    * (old-era CLOSED sessions are the batch job's own output, not
    * re-emitted here); `handleInitialState` seeds the ValueState; the
    * stream processes ONLY the new era. A session that started in the old
    * era and closes in the new era is emitted by the STREAM with its
    * old-era start — the handover case that proves the bootstrap carries
    * real state, not just keys. Batch-exact characterization (the gate):
    * a full-corpus session is stream-emitted iff its closing event (the
    * next session's first event) lands in the new era.
    */
  class TwsBootSession extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[Long, Ev, SessionOut, SessionState] {
    @transient private var open: org.apache.spark.sql.streaming.ValueState[SessionState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      open = getHandle.getValueState[SessionState]("open",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInitialState(userId: Long, st: SessionState,
        tv: org.apache.spark.sql.streaming.TimerValues): Unit =
      open.update(st)
    override def handleInputRows(userId: Long, evs: Iterator[Ev],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      val sorted = evs.map(_.ts_us).toArray.sorted
      var cur: Option[SessionState] = if (open.exists()) Some(open.get()) else None
      val closed = scala.collection.mutable.ArrayBuffer[SessionState]()
      sorted.foreach { t =>
        cur match {
          case Some(sess) if t - sess.end <= GapUs =>
            cur = Some(sess.copy(end = t, n = sess.n + 1))
          case Some(sess) =>
            closed += sess
            cur = Some(SessionState(t, t, 1))
          case None =>
            cur = Some(SessionState(t, t, 1))
        }
      }
      cur match {
        case Some(sess) => open.update(sess)
        case None => open.clear()
      }
      closed.iterator.map(sess => SessionOut(userId, sess.start, sess.end, sess.n))
    }
  }

  def streamingSessionizeBootstrap(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    // batch side: the old era's final OPEN session per user (ms-grain cut,
    // so both engines and the stream filter agree exactly)
    val evb = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"))
    val maxTs = evb.agg(max(col("ts"))).head.getTimestamp(0) // scalar, bounded
    val cut2 = new java.sql.Timestamp(maxTs.getTime - 2L * 3600 * 1000)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val oldSessions = evb.filter(col("ts") <= lit(cut2))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev", lag(col("ts_us"), 1).over(w))
      .withColumn("ns", when(col("prev").isNull ||
        col("ts_us") - col("prev") > GapUs, 1).otherwise(0))
      .withColumn("seq", sum(col("ns")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("seq"))
      .agg(min(col("ts_us")).as("start"), max(col("ts_us")).as("end"),
        count(lit(1)).cast("int").as("n"))
    val openState = oldSessions
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("seq").desc)))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("start"), col("end"), col("n"))
      .as[(Long, Long, Long, Int)]
      .map { case (u, st, en, n) => (u, SessionState(st, en, n)) }
      .groupByKey(_._1).mapValues(_._2)
    val src = eventsStream(s, d, "user_id BIGINT, value DOUBLE")
      .filter(col("ts") > lit(cut2))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Ev]
    drain(s, src.groupByKey(_.user_id)
      .transformWithState(new TwsBootSession,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append(),
        openState),
      "append", rocksDb = true)
  }

  /** C33 — BURST detection via transformWithState LIST state (round-13;
    * the remaining state primitive of the new API, in its natural role —
    * a bounded recent-events buffer): emit an alert row whenever a user's
    * k-th purchase lands inside a sliding 12-hour horizon (the velocity
    * rule every fraud/abuse pipeline runs; the horizon is a parameter —
    * 12 h is where this corpus's purchase rate makes the rule fire). The
    * ListState holds ONLY the
    * horizon-recent purchase times — pruned to (max seen − horizon) on
    * every call, so state per key is bounded by horizon × rate, never
    * stream length. Rows fold in (ts, event_id) order, so tie handling is
    * deterministic and the batch oracle replays the count as
    * rn − |rows ≤ t − horizon| (a RANGE frame), the exact same quantity.
    */
  val BurstWindowUs: Long = 12L * 3600 * 1000000
  val BurstK = 3

  case class PEv(user_id: Long, event_id: Long, ts_us: Long)
  case class BurstOut(user_id: Long, event_id: Long, ts_us: Long, n_in_window: Long)

  class TwsBurst extends org.apache.spark.sql.streaming.StatefulProcessor[Long, PEv, BurstOut] {
    @transient private var recent: org.apache.spark.sql.streaming.ListState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      recent = getHandle.getListState[Long]("recent",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(userId: Long, evs: Iterator[PEv],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[BurstOut] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      if (recent.exists()) buf ++= recent.get()
      val out = scala.collection.mutable.ArrayBuffer.empty[BurstOut]
      evs.toArray.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        buf += e.ts_us
        val cnt = buf.count(t => t > e.ts_us - BurstWindowUs)
        if (cnt >= BurstK) out += BurstOut(userId, e.event_id, e.ts_us, cnt)
      }
      if (buf.nonEmpty) {
        val horizon = buf.max - BurstWindowUs
        recent.put(buf.filter(_ > horizon).toArray)
      }
      out.iterator
    }
  }

  def streamingBurstDetect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = eventsStream(s, d, "event_id BIGINT, user_id BIGINT, event_type STRING")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .as[PEv]
    drain(s, src.groupByKey(_.user_id)
      .transformWithState(new TwsBurst,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append()),
      "append", rocksDb = true)
  }

  /** Writes `df` as the one parquet file `<dir>/<name>.parquet` of a
    * stream fixture and, when `modTime` is given, stamps its mtime: with
    * maxFilesPerTrigger=1 the file source reads one file per micro-batch
    * in mtime order, so the stamps pin the batch order. */
  private[graft] def writeFixtureFile(s: SparkSession, dir: String, df: DataFrame,
      name: String, modTime: Long = -1L): Unit = {
    val staging = new org.apache.hadoop.fs.Path(dir, s"_stage_$name")
    val fs = staging.getFileSystem(s.sparkContext.hadoopConfiguration)
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = fs.listStatus(staging)
      .map(_.getPath).find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file in $staging"))
    val target = new org.apache.hadoop.fs.Path(dir, s"$name.parquet")
    fs.rename(part, target)
    fs.delete(staging, true)
    if (modTime >= 0) fs.setTimes(target, modTime, -1)
  }

  /** Era fixture for C32 (the C25/C28 modTime-ordered discipline): old-era
    * events, an empty bridge (fires the mid-stream timer pass at the
    * post-batch0 watermark), then the new era. */
  private def twsFixtureDir(s: SparkSession, d: String): String = {
    graft.Artifacts.stored(s, "tws_fixture", d, Seq("events.parquet")) { loc =>
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
      val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0) // scalar, bounded
      val cut2 = new java.sql.Timestamp(maxTs.getTime - 2L * 3600 * 1000)
      def writeOne(df: DataFrame, name: String, modTime: Long): Unit =
        writeFixtureFile(s, loc, df, name, modTime)
      val t0 = System.currentTimeMillis()
      writeOne(ev.filter(col("ts") <= lit(cut2)), "batch0_oldera", t0 - 180000)
      writeOne(ev.filter(lit(false)), "batch1_bridge", t0 - 120000)
      writeOne(ev.filter(col("ts") > lit(cut2)), "batch2_newera", t0 - 60000)
    }
  }

  def streamingSessionTimers(s: SparkSession, d: String): DataFrame = {
    val dir = twsFixtureDir(s, d)
    import s.implicits._
    val src = s.readStream
      .schema("user_id BIGINT, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*.parquet")
      .withWatermark("ts", "1 hour")
      .as[Ev2]
    drain(s, src.groupByKey(_.user_id)
      .transformWithState(new TwsTimedSession,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append()),
      "append", rocksDb = true)
  }

  private val sinkId = new java.util.concurrent.atomic.AtomicInteger()

  /** Bounded-file streaming source over `$d/events.parquet` with `ts`
    * normalized to TimestampType — the streaming twin of
    * [[graft.operators.Tables.events]]. The physical ts encoding is PROBED
    * (Tables.eventsTsType) and branched on, never assumed: the testdata has
    * shipped both int64-nanos and timestamp[us] eras, and a hardcoded
    * BIGINT schema silently reads micros as nanos — every timestamp 1000×
    * too small, windows merged, sessions never closing (round 7: three
    * wrong gated queries). The batch-side era gate runs first so any
    * residual unit mistake crashes instead of corrupting.
    *
    * `restCols` is the non-ts part of the read schema (file sources require
    * an explicit schema; parquet matches columns by name, and listing only
    * what the query needs prunes the scan).
    *
    * The sf dirs ship events as a single FILE. FileStreamSource derives
    * basePath from a NON-glob path as the path itself (a file → "must be a
    * directory" failure; a user-supplied basePath option is overridden). A
    * glob that matches exactly that file makes the derived basePath the
    * parent directory, which is what the source needs.
    */
  private def eventsStream(s: SparkSession, d: String, restCols: String): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    Tables.assertEventsEra(s, d)
    val glob = s"$d/{events.parquet}"
    Tables.eventsTsType(s, d) match {
      case TimestampType =>
        s.readStream.schema(s"$restCols, ts TIMESTAMP").parquet(glob)
      case TimestampNTZType =>
        // NTZ→LTZ cast is wall-clock-identical under the pinned UTC session
        // time zone (same convention as the batch reader)
        s.readStream.schema(s"$restCols, ts TIMESTAMP_NTZ").parquet(glob)
          .withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other — expected timestamp[us/ms]")
    }
  }

  /** Per-batch progress of the last [[runToCompletion]] query (spec probe). */
  @volatile private[graft] var lastProgress: Seq[StreamingQueryProgress] = Nil

  /** State-store providers of the last [[runToCompletion]] query (spec probe). */
  @volatile private[graft] var lastStateStores: Seq[StateStoreProviderId] = Nil

  /** Runs one bounded streaming query to completion — the one place every
    * streaming key and `Pipe.drain` start, drain and stop a query. `writer`
    * is built inside the conf scope and started with an AvailableNow
    * trigger; the query is stopped, its state stores closed (unless another
    * query of the session still runs) and the session conf restored even
    * when it fails.
    *
    * The stateful-operator partition count is decoupled from the session's
    * batch shuffle width via `graft.streaming.statePartitions` (default 8).
    * State partitioning is fixed for a streaming query's lifetime at first
    * start and each state partition pays per-micro-batch store open/commit
    * I/O, so it should be sized to sustained throughput and key cardinality
    * — NOT inherited from a compute-width conf tuned for batch scans (the
    * sf0.1 stream-stream join measured 7.0 s at 32 state partitions, 2.0 s
    * at 8 — pure store overhead, identical results; PERF_NOTES, "Figures
    * from retired probes"). A production deployment raises the conf for
    * high-cardinality keyed state. `rocksDb` selects the RocksDB state
    * store, which transformWithState requires.
    */
  private[graft] def runToCompletion(s: SparkSession, rocksDb: Boolean = false)(
      writer: => DataStreamWriter[_]): Seq[StreamingQueryProgress] = {
    val parts = "spark.sql.shuffle.partitions"
    val provider = "spark.sql.streaming.stateStore.providerClass"
    // explicit settings only: getOption returns a registered conf's default,
    // and restoring that would leave the default pinned as a setting
    val explicit = s.conf.getAll
    val saved = Seq(parts, provider).map(k => k -> explicit.get(k))
    s.conf.set(parts, s.conf.getOption("graft.streaming.statePartitions").getOrElse("8"))
    if (rocksDb) s.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = writer.trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable()
      finally {
        try q.stop()
        finally {
          // a stopped query's HDFS-backed maps stay on the heap until Spark's
          // maintenance sweep, its RocksDB stores until JVM exit (whose late
          // close fails MANIFEST verification)
          if (s.streams.active.isEmpty) ColumnBridge.unloadStateStores()
          lastStateStores = ColumnBridge.stateStores(q)
        }
      }
      lastProgress = q.recentProgress.toSeq
      lastProgress
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** [[runToCompletion]] into a uniquely named memory sink: returns a frame
    * backed by the drained rows, with the sink's catalog view already
    * dropped (the frame keeps the rows; nothing is left in the session). */
  private[graft] def drain(s: SparkSession, df: => Dataset[_], mode: String,
      rocksDb: Boolean = false): DataFrame = {
    val name = "graft_stream_sink_" + sinkId.incrementAndGet()
    try {
      runToCompletion(s, rocksDb)(
        df.writeStream.format("memory").queryName(name).outputMode(mode))
      s.table(name)
    } finally s.catalog.dropTempView(name)
  }

  /** C5 as a CORRECTNESS-GATED query: exact streaming dedup over a bounded
    * file source — `dropDuplicates` state keyed on (user_id, event_type),
    * run to completion with an AvailableNow trigger into a memory sink,
    * returned as the drained sink table. StreamingSpec pins the same
    * batch/stream equality in-process; this entry keys it to the DuckDB
    * batch-DISTINCT oracle so the streaming block has a driver-checked
    * CORRECTNESS row too. The memory sink holds one row per DISTINCT pair —
    * bounded by the key space, not the stream length.
    *
    * The explicit 2-column schema prunes the parquet scan to the dedup keys,
    * never reading the `ts` column.
    */
  def streamingDedup(s: SparkSession, d: String): DataFrame =
    drain(s, s.readStream
      .schema("user_id BIGINT, event_type STRING")
      // the glob makes the single-file source's basePath its directory
      // (see eventsStream)
      .parquet(s"$d/{events.parquet}")
      .dropDuplicates("user_id", "event_type"), "append")

  /** C3 as a CORRECTNESS-GATED query: the same tumbling-window aggregation
    * as `windowedAgg`, run over the bounded file source to completion in
    * COMPLETE output mode — append mode would hold back every window the
    * final watermark hasn't passed (by design), so its drained sink is a
    * strict subset of the batch answer; complete mode emits the full
    * aggregation state, which is exactly what the batch
    * `events_window_agg` oracle computes. `ts` comes through the
    * probe-and-branch [[eventsStream]] source, normalized identically to
    * the batch side.
    */
  def streamingWindowAgg(s: SparkSession, d: String): DataFrame = {
    val src = eventsStream(s, d, "event_type STRING, value DOUBLE")
    drain(s, windowedAgg(src), "complete")
  }

  /** C6 as a CORRECTNESS-GATED query: stream-static enrichment — the event
    * stream joined per-micro-batch against a static broadcast dimension
    * (the Structured Streaming analogue of a map-side dim join; the static
    * side is re-resolvable per batch, no state store involved). Append mode
    * emits each enriched row exactly once, so the drained sink equals the
    * batch join the oracle runs.
    */
  def streamingEnrich(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    drain(s, s.readStream
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
      .parquet(s"$d/{events.parquet}")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("c_mktsegment")), "append")
  }

  /** C4 as a CORRECTNESS-GATED query: the flatMapGroupsWithState session
    * state machine run to completion over the bounded source. A session is
    * emitted only when a LATER event closes it, so each user's final session
    * is still open (in the state store) when the stream ends — the drained
    * sink is exactly "every session except each user's last", which is what
    * the oracle computes by excluding the max-start session per user. The
    * whole file arrives as one micro-batch (AvailableNow, single file, no
    * maxFilesPerTrigger), so per-user iterators see all events at once and
    * the emitted set is deterministic.
    */
  def streamingSessionize(s: SparkSession, d: String): DataFrame =
    drain(s, sessionize(sessionEvents(s, d)), "append")

  /** The events stream as [[Ev]]: normalized TimestampType → exact epoch-µs
    * for the session state machines. */
  private def sessionEvents(s: SparkSession, d: String): Dataset[Ev] = {
    import s.implicits._
    eventsStream(s, d, "user_id BIGINT, value DOUBLE")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Ev]
  }

  /** C30's gated driver: [[sessionizeTws]] run to completion over the
    * bounded source, on the RocksDB provider (set for this query, restored
    * after — transformWithState rejects the default HDFS-backed store). */
  def streamingSessionizeTws(s: SparkSession, d: String): DataFrame =
    drain(s, sessionizeTws(sessionEvents(s, d)), "append", rocksDb = true)

  /** Fixture for C37: the event corpus split into two time-ordered halves
    * (one parquet file each), fingerprint-cached like the other stream
    * fixtures. Arrival ORDER is controlled per run by the recovery driver
    * (phase 1 stages half0 only), so no modTime choreography is needed. */
  private[graft] def recoveryFixtureDir(s: SparkSession, d: String): String = {
    graft.Artifacts.stored(s, "recovery_fixture", d, Seq("events.parquet")) { loc =>
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
      val mm = ev.agg(min(col("ts")), max(col("ts"))).head // 2 scalars, bounded
      val midMs = mm.getTimestamp(0).getTime +
        (mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime) / 2
      // The cut must fall strictly INSIDE a session that a later event
      // closes, or the restart never exercises cross-phase state merge (and
      // the spec's boundary assertion is vacuous). Deterministically pick
      // the closed multi-instant session nearest the corpus midpoint and
      // cut at its start: its first event lands in half 0, its remaining
      // events in half 1, and phase 2 must extend phase 1's restored open
      // session to emit it whole.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val cutRow = ev
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_s", when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) > GapUs, 1).otherwise(0))
        .withColumn("seq", sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("seq"))
        .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
        .withColumn("mx", max(col("s_start")).over(
          Window.partitionBy(col("user_id"))))
        .filter(col("s_start") < col("mx") && col("s_end") > col("s_start"))
        .withColumn("dist", abs(unix_millis(col("s_start")) - lit(midMs)))
        .orderBy(col("dist"), col("user_id"), col("s_start"))
        .limit(1).collect() // ≤1 row, bounded
      val cut = cutRow.headOption.map(_.getTimestamp(2))
        .getOrElse(new java.sql.Timestamp(midMs)) // degenerate-corpus fallback
      def writeOne(df: DataFrame, name: String): Unit =
        writeFixtureFile(s, loc, df, name)
      writeOne(ev.filter(col("ts") <= lit(cut)), "half0")
      writeOne(ev.filter(col("ts") > lit(cut)), "half1")
      import s.implicits._
      writeOne(Seq(cut.getTime / 1000 * 1000000L + cut.getNanos / 1000)
        .toDF("cut_us"), "cutinfo")
    }
  }

  /** The phase-boundary instant (epoch µs) the recovery fixture cut at —
    * spec accessor for asserting a session actually spans the restart. */
  private[graft] def recoveryCutUs(s: SparkSession, d: String): Long =
    graft.Artifacts.parquet(s, s"${recoveryFixtureDir(s, d)}/cutinfo.parquet").head.getLong(0)

  /** C37 — checkpoint RESTART RECOVERY (round-14, verdict item 3): the
    * production property the other streaming keys run to completion without
    * exercising — stop a stateful query with open state at a batch
    * boundary, start a NEW query from the same checkpoint, and the final
    * result is identical to the uninterrupted run. (The stop is graceful
    * — drain, then stop — so what this key proves is state
    * restoration and commit-log continuation across query objects;
    * restart after a MID-batch crash additionally leans on the file
    * sink's commit-log dedup of a partially written batch, which this
    * gate does not exercise.) Per invocation the corpus arrives as two
    * time-ordered halves in a fresh input dir: phase 1 sees only half 0
    * (C30's transformWithState sessionizer on RocksDB, writing through the
    * exactly-once PARQUET file sink), drains, and STOPS — a stop with every
    * user's open session live in the state store. Phase 2 is a brand-new
    * query object over the same checkpoint after half 1 lands: it must
    * resume from the restored RocksDB state (sessions spanning the phase
    * boundary merge, not split) and append through the file-sink commit log
    * without loss or duplication. A `require` pins restoration on every
    * gate run: phase 2's batches all have id ≥ 1 — a from-scratch rerun
    * would restart at batch 0. Gate: the C4/C30 oracle text UNCHANGED —
    * recovery must be invisible in the result.
    */
  /** One C37 phase: the sessionizeTws query over whatever parquet slices
    * sit in `in`, parquet file sink + checkpoint, AvailableNow. Shared by
    * the gated key and the mid-batch-crash spec so the recovery property
    * is pinned on the SAME query. Returns the processed batch ids. */
  private[graft] def recoveryPhase(s: SparkSession, in: String, ckpt: String,
      out: String): Seq[Long] = {
    import s.implicits._
    val src = s.readStream.schema("user_id BIGINT, ts TIMESTAMP")
      .parquet(s"$in/*.parquet")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        lit(0.0).as("value")).as[Ev]
    runToCompletion(s, rocksDb = true)(sessionizeTws(src)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append")).map(_.batchId)
  }

  def streamingRestartRecovery(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fix = recoveryFixtureDir(s, d)
    val base = graft.Artifacts.scratchDir(s, d, "recov_run")
    val hconf = s.sparkContext.hadoopConfiguration
    val fs = base.getFileSystem(hconf)
    val in = new org.apache.hadoop.fs.Path(base, "in")
    fs.mkdirs(in)
    val ckpt = new org.apache.hadoop.fs.Path(base, "ckpt").toString
    val out = new org.apache.hadoop.fs.Path(base, "out").toString
    def arrive(name: String): Unit = {
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new org.apache.hadoop.fs.Path(fix, name),
        fs, new org.apache.hadoop.fs.Path(in, name), false, hconf); ()
    }
    def runPhase(): Seq[Long] = recoveryPhase(s, in.toString, ckpt, out)
    arrive("half0.parquet")
    runPhase() // phase 1: committed, then stopped with open state
    arrive("half1.parquet")
    val p2 = runPhase() // phase 2: fresh query, same checkpoint
    require(p2.nonEmpty && p2.forall(_ >= 1),
      s"phase 2 did not resume from the checkpoint: batch ids $p2")
    s.read.parquet(out)
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
  }

  /** Fixture for C38: orders split into three date-ordered CDC slices, the
    * arrival choreography the other stream fixtures use (modTime order +
    * maxFilesPerTrigger=1 → one slice per micro-batch). */
  private[graft] def cdcFixtureDir(s: SparkSession, d: String): String = {
    graft.Artifacts.stored(s, "cdc_fixture", d, Seq("orders.parquet")) { loc =>
      val o = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
      val c1 = expr("timestamp'1996-01-01 00:00:00'")
      val c2 = expr("timestamp'1998-01-01 00:00:00'")
      def writeOne(df: DataFrame, name: String, modTime: Long): Unit =
        writeFixtureFile(s, loc, df, name, modTime)
      val t0 = System.currentTimeMillis()
      writeOne(o.filter(col("o_orderdate") < c1), "cdc0", t0 - 180000)
      writeOne(o.filter(col("o_orderdate") >= c1 && col("o_orderdate") < c2),
        "cdc1", t0 - 120000)
      writeOne(o.filter(col("o_orderdate") >= c2), "cdc2", t0 - 60000)
    }
  }

  /** Buckets in the C38 snapshot layout (B22's bucket discipline applied
    * to a continuously-merged table). Each snapshot generation holds only
    * the buckets its batch TOUCHED; a `_MANIFEST` file maps every bucket
    * to the generation whose `bucket=K/` dir carries its live data.
    *
    * The count is a conf, `graft.streaming.cdcBuckets`, because it is the
    * knob the whole design's win rides on: bucket pruning only pays when
    * buckets ≫ distinct delta keys (a d-key micro-batch then hash-touches
    * ~d buckets, so per-batch I/O is O(|delta| × snapshot/buckets), not
    * O(snapshot)). Size it like a table format sizes files:
    * snapshot_bytes / target_file_size — ~400k buckets for a 100 TB
    * snapshot at 256 MB files, thousands even for a 1 TB table. The
    * default (8) is GATE-scale only: the sf0.01 snapshot is ~4k rows, so
    * more buckets would just mean thousands of near-empty files. The
    * CdcLayoutSpec runs the buckets-≫-delta regime explicitly (512
    * buckets, 5-key delta ⇒ ≤5 bucket dirs rewritten). */
  private[graft] def cdcBucketsConf(s: SparkSession): Int = {
    val b = s.conf.getOption("graft.streaming.cdcBuckets").map(_.toInt).getOrElse(8)
    require(b > 0, s"graft.streaming.cdcBuckets must be positive, got $b")
    b
  }

  /** The bucket count is LAYOUT, not session state: `pmod(hash(key), B)`
    * must be the same B for every generation of one snapshot or merges
    * read the wrong prior buckets. So batch 0 pins the count into a
    * `_BUCKETS` file at the snapshot root (it survives the retention
    * sweep, which only touches `gen-*`), and every later batch reads the
    * pinned value — a conf change mid-stream cannot corrupt the layout. */
  private[graft] def cdcBucketCount(s: SparkSession, snapP: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem): Int = {
    val f = new org.apache.hadoop.fs.Path(snapP, "_BUCKETS")
    if (fs.exists(f)) {
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
      finally in.close()
    } else {
      val b = cdcBucketsConf(s)
      if (!fs.exists(snapP)) fs.mkdirs(snapP)
      val out = fs.create(f, true)
      try out.write(b.toString.getBytes("UTF-8")) finally out.close()
      b
    }
  }

  /** Parse a committed generation's `_MANIFEST`: lines `bucket,genId`. */
  private[graft] def cdcManifest(
      fs: org.apache.hadoop.fs.FileSystem,
      gen: org.apache.hadoop.fs.Path): Map[Int, Long] = {
    val in = fs.open(new org.apache.hadoop.fs.Path(gen, "_MANIFEST"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { l =>
        val Array(b, g) = l.split(","); b.toInt -> g.toLong
      }.toMap
    finally in.close()
  }

  private def writeCdcManifest(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, m: Map[Int, Long]): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_MANIFEST"), true)
    try out.write(m.toSeq.sorted.map { case (b, g) => s"$b,$g" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The live snapshot as of the newest committed generation: for each
    * bucket, the parquet dir the manifest points at (generations differ
    * per bucket — that's the carry-forward-by-reference working). */
  private[graft] def readCdcSnapshot(s: SparkSession, snap: String): DataFrame = {
    val snapP = new org.apache.hadoop.fs.Path(snap)
    val fs = snapP.getFileSystem(s.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(snapP).map(_.getPath.getName)
      .filter(_.startsWith("gen-")).map(_.stripPrefix("gen-").toLong)
    require(gens.nonEmpty, s"no CDC generations committed under $snap")
    val manifest = cdcManifest(fs,
      new org.apache.hadoop.fs.Path(snapP, s"gen-${gens.max}"))
    require(manifest.nonEmpty, s"empty CDC manifest under $snap/gen-${gens.max}")
    s.read.parquet(manifest.toSeq.sorted.map { case (k, g) =>
      new org.apache.hadoop.fs.Path(snapP, s"gen-$g/bucket=$k").toString }: _*)
  }

  /** One idempotent CDC MERGE step for C38 — the foreachBatch body. The
    * snapshot is hash-bucketed on the merge key ([[CdcBuckets]] fixed
    * buckets, `pmod(hash(key), B)` — B22's co-location discipline) and
    * lives as batchId-versioned generations under `snap`, each holding
    * ONLY the buckets its batch touched plus a `_MANIFEST` mapping every
    * bucket to the generation that carries its live data. Per-batch work
    * is therefore O(delta ∪ touched buckets), not O(snapshot): untouched
    * buckets carry forward by manifest REFERENCE — their files are never
    * read, rewritten, or copied. A batch commits by atomic rename of
    * `_tmp-gen-N` → `gen-N` (manifest included), so a RETRIED batch
    * (foreachBatch's at-least-once delivery after a failure) sees its own
    * generation and returns untouched — the idempotent-sink discipline
    * that upgrades at-least-once to exactly-once; only gen-N itself must
    * survive for that, since a replay of batch N implies N−1 was already
    * checkpointed. After commit, retention SWEEPS superseded storage:
    * bucket dirs no longer referenced by the new manifest and generation
    * dirs with no referenced bucket left — storage stays O(one snapshot),
    * not O(snapshot × batches). Merge arithmetic is B32's: counts add,
    * last dates take greatest, and money stays DECIMAL across EVERY
    * generation (decimal addition is exact and associative, so K merges
    * equal the one-shot recompute bit-for-bit; the one double cast
    * happens at read-out). */
  private[graft] def applyCdcBatch(s: SparkSession, snap: String,
      batch: DataFrame, batchId: Long): Unit = {
    val dec = "decimal(28,4)"
    val snapP = new org.apache.hadoop.fs.Path(snap)
    val fs = snapP.getFileSystem(s.sparkContext.hadoopConfiguration)
    val gen = new org.apache.hadoop.fs.Path(snapP, s"gen-$batchId")
    if (fs.exists(gen)) return // retried batch: already committed
    // committed-batch marker that SURVIVES the retention sweep: gen-N
    // itself can be deleted once fully superseded, so `fs.exists(gen)`
    // alone can't detect a replay from a restored/rolled-back checkpoint
    // (batches commit in order, so one high-water mark suffices)
    val lastF = new org.apache.hadoop.fs.Path(snapP, "_LAST_BATCH")
    // the marker carries the owning streaming QUERY id next to the
    // high-water mark (round-16 ADVICE): a checkpoint replay arrives from
    // the SAME query (queryId is persisted in the checkpoint, stable
    // across restarts) and must no-op; a batch below the mark from a
    // DIFFERENT query is a fresh stream pointed at an existing snapshot —
    // silently no-op'ing its batches 0..last would serve stale data, so
    // fail loudly instead. Detached (non-streaming) applies — the spec's
    // replay path — carry a fixed token and keep the same-owner no-op.
    val qid = Option(s.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse("detached")
    if (fs.exists(lastF)) {
      val in = fs.open(lastF)
      val parts = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      val (last, owner) = parts.split(",", 2) match {
        case Array(l, o) => (l.toLong, o)
        case _ => throw new IllegalStateException(
          s"$lastF holds '$parts', not 'batchId,queryId': refusing to guess " +
            "which query owns the snapshot")
      }
      if (batchId <= last) {
        require(owner == qid, s"batch $batchId arrived below the committed " +
          s"high-water mark $last from streaming query $qid, but the snapshot " +
          s"belongs to $owner — refusing to silently no-op a fresh stream " +
          "over an existing snapshot (restart the original checkpoint, or " +
          "point the new stream at a fresh snapshot dir)")
        return // same-query replay of an already-committed (possibly swept) batch
      }
    }
    val nBuckets = cdcBucketCount(s, snapP, fs)
    val bkt = pmod(hash(col("o_custkey")), lit(nBuckets))
    val delta = batch.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("d_n"), max(col("o_orderdate")).as("d_last"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast(dec).as("d_sum"))
      .withColumn("bucket", bkt)
    graft.CacheScope.run {
      // two driver actions below (touched-set, merge write)
      graft.CacheScope.persist(delta)
      // bounded collect: ≤ min(buckets, distinct delta keys) values
      val touched = delta.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).sorted
      val prevGens =
        if (!fs.exists(snapP)) Array.empty[Long]
        else fs.listStatus(snapP).map(_.getPath.getName)
          .filter(_.startsWith("gen-")).map(_.stripPrefix("gen-").toLong)
          .filter(_ < batchId)
      val prevManifest: Map[Int, Long] =
        if (prevGens.isEmpty) Map.empty
        else cdcManifest(fs,
          new org.apache.hadoop.fs.Path(snapP, s"gen-${prevGens.max}"))
      // prior state for ONLY the touched buckets (bucket pruning: each
      // path is one bucket dir of whichever generation last wrote it)
      val prevDirs = touched.toSeq.flatMap(k => prevManifest.get(k).map(g =>
        new org.apache.hadoop.fs.Path(snapP, s"gen-$g/bucket=$k").toString))
      val merged =
        if (prevDirs.isEmpty)
          delta.select(col("o_custkey"), col("d_n").as("n_orders"),
            col("d_last").as("last_odate"), col("d_sum").as("sum_dec"),
            col("bucket"))
        else {
          val prev = s.read.parquet(prevDirs: _*)
          prev.join(delta.drop("bucket"), Seq("o_custkey"), "full_outer")
            .select(col("o_custkey"),
              (coalesce(col("n_orders"), lit(0L)) +
                coalesce(col("d_n"), lit(0L))).as("n_orders"),
              greatest(col("last_odate"), col("d_last")).as("last_odate"),
              (coalesce(col("sum_dec"), lit(0).cast(dec)) +
                coalesce(col("d_sum"), lit(0).cast(dec))).cast(dec).as("sum_dec"),
              bkt.as("bucket"))
        }
      val tmp = new org.apache.hadoop.fs.Path(snapP, s"_tmp-gen-$batchId")
      // co-locate each bucket in one task before the partitioned write:
      // without this every shuffle partition writes a sliver into every
      // bucket dir (shuffle-width × buckets tiny files per generation —
      // measured 3.3× on the gate); with it a generation is ~one file per
      // touched bucket, the compaction-friendly layout a table format
      // keeps. Partition count = TOUCHED buckets, not the total bucket
      // count: write parallelism tracks the delta (a 5-bucket batch runs
      // 5 tasks, a full-table backfill runs |buckets| tasks — no fixed
      // ceiling, no storm of empty tasks either way).
      merged.repartition(math.max(touched.length, 1), col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(tmp.toString)
      val writtenBuckets = fs.listStatus(tmp).map(_.getPath.getName)
        .filter(_.startsWith("bucket=")).map(_.stripPrefix("bucket=").toInt)
      val manifest = prevManifest ++ writtenBuckets.map(_ -> batchId)
      writeCdcManifest(fs, tmp, manifest)
      fs.rename(tmp, gen)
      // advance the sweep-proof high-water mark (a crash between the
      // rename and this write is covered by the fs.exists(gen) guard —
      // gen-N is the newest generation and is never sweep-eligible)
      val lout = fs.create(lastF, true)
      try lout.write(s"$batchId,$qid".getBytes("UTF-8")) finally lout.close()
      // retention sweep: drop bucket dirs the new manifest superseded and
      // generations with no referenced bucket left (a replay can only be
      // of THIS batch, whose gen dir is kept whole)
      val live: Map[Long, Set[Int]] =
        manifest.groupBy(_._2).map { case (g, m) => g -> m.keySet }
      fs.listStatus(snapP).map(_.getPath)
        .filter(_.getName.startsWith("gen-")).foreach { gp =>
          val g = gp.getName.stripPrefix("gen-").toLong
          if (g < batchId) {
            if (!live.contains(g)) { fs.delete(gp, true); () }
            else fs.listStatus(gp).map(_.getPath)
              .filter(_.getName.startsWith("bucket=")).foreach { bp =>
                val k = bp.getName.stripPrefix("bucket=").toInt
                if (!live(g).contains(k)) { fs.delete(bp, true); () }
              }
          }
        }
    }
  }

  /** C38 — streaming CDC APPLY (round-14, verdict item 8): B32's
    * merge/upsert semantics run CONTINUOUSLY — each micro-batch of the
    * order stream is aggregated and MERGEd into a persistent per-customer
    * snapshot through [[applyCdcBatch]]'s idempotent foreachBatch sink.
    * This is the shape a warehouse ingestion pipeline actually runs (CDC
    * stream → MERGE INTO), with exactly-once landing guaranteed by the
    * batchId-keyed commit, not by the sink being magic. Gate: the final
    * snapshot must equal B32's one-shot recompute over ALL orders — the
    * same oracle text — so the per-batch merge arithmetic (including exact
    * decimal money across generations) is what's being proven. The spec
    * additionally re-applies the last committed batch and pins the
    * snapshot byte-identical (the retry path), and a planted-delta spec
    * pins the bucket pruning: untouched buckets' files unrewritten across
    * a batch, superseded generations swept.
    */
  def streamingMergeUpsert(s: SparkSession, d: String): DataFrame =
    runCdcMerge(s, d)._2

  private[graft] def runCdcMerge(s: SparkSession, d: String): (String, DataFrame) = {
    val fix = cdcFixtureDir(s, d)
    val base = graft.Artifacts.scratchDir(s, d, "cdc_run")
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(base)
    val snap = new org.apache.hadoop.fs.Path(base, "snap").toString
    val ckpt = new org.apache.hadoop.fs.Path(base, "ckpt").toString
    // NTZ, matching the batch reader's type for the same parquet (the
    // oracle compares naive timestamps)
    runToCompletion(s)(s.readStream
      .schema("o_custkey BIGINT, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$fix/*.parquet")
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => applyCdcBatch(s, snap, b, id))
      .option("checkpointLocation", ckpt))
    val df = readCdcSnapshot(s, snap)
      .select(col("o_custkey"), col("n_orders"), col("last_odate"),
        col("sum_dec").cast("double").as("sum_price"))
    (snap, df)
  }

  /** C7 as a CORRECTNESS-GATED query: stream-stream inner join — purchases
    * matched to the same user's clicks in the preceding 30 minutes (the
    * attribution join every event pipeline runs). Both sides carry
    * watermarks and the join condition carries the time bound, which is
    * what lets Structured Streaming EXPIRE state: a buffered click can be
    * dropped once the purchase-side watermark passes its ts + 30min, so
    * state is bounded by the time window × arrival rate, not the stream
    * length — the property that makes this run forever at scale. Inner
    * join in append mode emits each matched pair exactly once; with the
    * bounded file source the drained sink equals the batch theta-join the
    * oracle runs. (The oracle's time-range self-join is the quadratic
    * formulation; the streaming operator is the scale path.)
    */
  def streamingJoin(s: SparkSession, d: String): DataFrame =
    timeBoundedJoin(s, d, "inner")

  /** C26 — stream-stream LEFT OUTER time-bounded join (round-12; completes
    * the C7 join family): every purchase joins the same user's clicks in
    * the preceding 30 minutes, and a purchase with NO qualifying click
    * still emits — with a null click — once the watermark proves no future
    * click can match (c_ts ≤ p_ts, so a purchase is unmatchable the moment
    * the click-side watermark passes p_ts). Inner matches emit as they
    * arrive; the null rows emit from state EXPIRY, which is exactly the
    * semantics this gate pins: the oracle computes the batch left join and
    * keeps a null row only where the purchase sits strictly below the
    * final watermark — min over both streams of (max event ms) − 1h (the
    * engine's multi-watermark min policy, with EventTimeStats' ms
    * truncation replayed via epoch_us // 1000). Purchases at or above the
    * watermark are still held in state at stream end and must NOT emit a
    * null row — asserted by the spec's accounting.
    */
  def streamingOuterJoin(s: SparkSession, d: String): DataFrame =
    timeBoundedJoin(s, d, "left_outer")

  /** C29 — stream-stream FULL OUTER time-bounded join (round-12 verdict
    * item 9; completes the C7/C26 family): BOTH sides emit on state
    * expiry. Inner matches emit on arrival; an unmatched purchase emits a
    * NULL click once the watermark proves no future click can match
    * (c_ts ≤ p_ts ⇒ unmatchable when wm > p_ts — C26's branch); an
    * unmatched click emits a NULL purchase once the watermark proves no
    * future purchase can match (p_ts ≤ c_ts + 30 min ⇒ unmatchable when
    * wm > c_ts + 30 min — the NEW branch). The oracle is the batch full
    * join with each null branch cut at the final min-watermark
    * (per-stream ms-truncated max − 1h, the C26 replay); the spec pins
    * both null branches non-vacuous AND both held-at-stream-end sets
    * non-emitting.
    */
  def streamingFullOuterJoin(s: SparkSession, d: String): DataFrame =
    timeBoundedJoin(s, d, "full_outer")

  /** The C7/C26/C29 join: purchases ⋈ the same user's clicks in the
    * preceding 30 minutes, both sides watermarked so state expires.
    * `user_id` is the purchase side's, or the click side's on a
    * null-purchase row (the two agree on every matched row). */
  private def timeBoundedJoin(s: SparkSession, d: String, joinType: String): DataFrame = {
    def src = eventsStream(s, d, "event_id BIGINT, user_id BIGINT, event_type STRING")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    drain(s, purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("interval 30 minutes") &&
          col("c_ts") <= col("p_ts"),
        joinType)
      .select(col("p_id"), col("c_id"),
        coalesce(col("user_id"), col("c_user")).as("user_id")), "append")
  }

  case class FunnelEv(user_id: Long, event_type: String, ts_us: Long)
  case class FunnelState(s: Option[Long], v: Option[Long], p: Option[Long]) {
    def stage: Int = if (p.nonEmpty) 3 else if (v.nonEmpty) 2 else if (s.nonEmpty) 1 else 0
  }
  case class FunnelOut(user_id: Long, stage: Int)

  /** C13 — the funnel state machine (batch C8's streaming twin): per-user
    * (signup ts, first-view-after ts, first-purchase-within-24h ts) lives in
    * the state store; a user emits a row whenever their funnel ADVANCES, and
    * the rollup counts users by max emitted stage — append-mode-safe (no
    * retractions needed) and incremental across event-time-ordered batches.
    * Scanning each user's events in ts order makes "first qualifying" equal
    * the batch MIN() definitions; strict > comparisons make equal-ts ties
    * non-qualifying in either processing order, so the result is
    * deterministic. With the bounded one-micro-batch source the emitted
    * stages equal the batch funnel exactly (out-of-order ARRIVAL across
    * batches — an earlier-ts signup arriving after a view was processed —
    * would need retraction, which append mode rules out by construction).
    */
  def funnelStages(events: Dataset[FunnelEv]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[FunnelEv], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(None, None, None))
          val prev = st.stage
          evs.toArray.sortBy(_.ts_us).foreach { e =>
            e.event_type match {
              case "signup" if st.s.isEmpty => st = st.copy(s = Some(e.ts_us))
              case "view" if st.s.nonEmpty && st.v.isEmpty && e.ts_us > st.s.get =>
                st = st.copy(v = Some(e.ts_us))
              case "purchase" if st.v.nonEmpty && st.p.isEmpty &&
                  e.ts_us > st.v.get &&
                  e.ts_us - st.v.get <= Analytics.FunnelPurchaseWindowUs =>
                st = st.copy(p = Some(e.ts_us))
              case _ =>
            }
          }
          state.update(st)
          if (st.stage > prev) Iterator(FunnelOut(userId, st.stage)) else Iterator.empty
      }
  }

  /** C13 as a CORRECTNESS-GATED query: the drained stage advances rolled up
    * to the 3-row funnel (users at step k = max emitted stage ≥ k), gated
    * against the SAME oracle as the batch `event_funnel`.
    */
  def streamingFunnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = eventsStream(s, d, "user_id BIGINT, event_type STRING")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
      .as[FunnelEv]
    val stages = drain(s, funnelStages(src), "append")
      .groupBy(col("user_id")).agg(max(col("stage")).as("stage"))
    def stageRow(k: Int, nm: String): DataFrame =
      stages.filter(col("stage") >= k).agg(count(lit(1)).as("n_users"))
        .select(lit(k).as("step"), lit(nm).as("stage"), col("n_users"))
    stageRow(1, "signup").unionByName(stageRow(2, "view"))
      .unionByName(stageRow(3, "purchase"))
  }

  /** C14 — streaming rate alert (batch C12's twin): the hourly counts run
    * as a complete-mode streaming aggregation (the stateful part — counter
    * state per (hour, type) window key); the per-type calibration and the
    * 2σ cut then run as plain batch expressions over the drained counter
    * table, whose size is |types|×|hours|, not the stream length. Gated
    * against the SAME oracle as `events_rate_alert`.
    */
  def streamingRateAlert(s: SparkSession, d: String): DataFrame = {
    val src = eventsStream(s, d, "event_type STRING")
    val hourly = drain(s, src
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n")), "complete")
    // the drained sink joins a derivation of ITSELF; the alias keeps the
    // MemoryPlan self-join's attribute references distinct
    Signals.rateAlertFrom(hourly.alias("h"), hourly)
  }

  /** C16 — streaming count-min sketch (batch B55's twin): the counter grid
    * is an ADDITIVE aggregate, so it maintains incrementally as a streaming
    * groupBy over the exploded (row, bucket) keys — state is the ≤4×1024
    * grid regardless of stream length, the property that makes CMS the
    * streaming frequency sketch. Probe estimates then read the drained
    * grid exactly as the batch operator does; gated against the SAME
    * oracle as `freq_sketch_cms`.
    */
  def streamingFreqSketch(s: SparkSession, d: String): DataFrame = {
    val grid = drain(s, Signals.cmsGridKeys(
        s.readStream.schema("user_id BIGINT").parquet(s"$d/{events.parquet}"))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("c")), "complete")
    Signals.cmsEstimatesFrom(grid,
      Tables.events(s, d).select(col("user_id")))
  }

  /** C17 — streaming HyperLogLog distinct (batch B16b's twin): register
    * state is a MAX aggregate per bucket — at most [[Relational.HllM]]=256
    * rows regardless of stream length, the bounded-state property that
    * makes HLL the streaming cardinality sketch. The per-row (bucket, rho)
    * derivation is shared verbatim with the batch operator
    * ([[Relational.hllBucketRho]]); the harmonic estimate reads the drained
    * register table exactly as batch does. Deterministic (max is
    * order-independent) → gated against the same register-replay oracle
    * family as B16b, instantiated over events.user_id.
    */
  def streamingHllDistinct(s: SparkSession, d: String): DataFrame = {
    Relational.hllFromRegs(drain(s, Relational.hllBucketRho(
        s.readStream.schema("user_id BIGINT").parquet(s"$d/{events.parquet}"),
        "user_id")
      .groupBy(col("bucket"))
      .agg(max(col("rho")).as("reg")), "complete"))
  }

  /** C18 — streaming quantile estimates (batch B36's twin): the fixed-width
    * histogram IS the streaming-native quantile sketch — per (priority, bin)
    * counts run as a complete-mode aggregate whose state is bounded by
    * priorities × OCCUPIED bins, never by stream length, and the p50/p90
    * extraction reads the drained grid exactly as batch does (shared
    * [[graft.operators.Analytics.quantilesFromHist]] — the two cannot
    * drift). Counts are exact integers → deterministic → gated against
    * B36's own oracle.
    */
  def streamingQuantileHist(s: SparkSession, d: String): DataFrame = {
    Analytics.quantilesFromHist(drain(s, Analytics.aqBinned(
        s.readStream.schema("o_orderpriority STRING, o_totalprice DOUBLE")
          .parquet(s"$d/{orders.parquet}"))
      .groupBy(col("o_orderpriority"), col("bin"))
      .agg(count(lit(1)).as("c")), "complete"))
  }

  /** C21 — streaming twin of B61's log-bucket rank sketch: the stream
    * maintains only the (priority × bucket) count grid — bounded by the
    * sketch geometry (≤ priorities × octaves × 2^F rows), never the stream
    * length — and the drained sink goes through the SAME
    * [[graft.operators.Analytics.ddSketchReport]] finisher as the batch
    * form, so collapse and extraction cannot drift. Unknown-range quantiles
    * over an endless stream is exactly the case the fixed-width C18 grid
    * cannot serve (its bin width bakes in a range guess).
    */
  def streamingQuantileSketch(s: SparkSession, d: String): DataFrame = {
    Analytics.ddSketchReport(drain(s, Analytics.ddBucketed(
        s.readStream.schema("o_orderpriority STRING, o_totalprice DOUBLE")
          .parquet(s"$d/{orders.parquet}"))
      .groupBy(col("o_orderpriority"), col("idx"))
      .agg(count(lit(1)).as("c")), "complete"))
  }

  /** C19 — streaming per-window top-k: the trending-items query every event
    * platform runs ("top pages this hour, live"). The STREAM maintains the
    * only unbounded work — incremental (window × event_type) counts in the
    * state store, bounded by the key space, never the stream length — and
    * the drained complete-mode sink is finished by a batch rank window
    * (top-[[StreamTopK]] per hour, count-desc with a deterministic name
    * tiebreak). Ranking inside the stream would force every micro-batch to
    * re-sort all windows (complete-mode re-emission is the documented cost
    * of streaming rank); counts-in-stream + rank-at-read is the standard
    * serving-layer split, and the finisher touches windows × types rows,
    * not events.
    */
  val StreamTopK = 3

  def streamingTopK(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val src = eventsStream(s, d, "event_type STRING")
    drain(s, src
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n")), "complete")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("hour_start")).orderBy(col("n").desc, col("event_type"))))
      .filter(col("rank") <= StreamTopK)
      .select(col("hour_start"), col("event_type"), col("n"), col("rank"))
  }

  /** C23 — streaming CUSUM change-point twin (C22's stream form): the
    * STREAM maintains only the incremental (hour-window × event_type)
    * count grid — state bounded by the calendar × type space, never the
    * stream length (the C19 split) — and the drained complete-mode sink
    * runs through [[graft.operators.Signals.cusumReport]], the SAME fold
    * finisher as batch, so the twins cannot drift. Sequential CUSUM math
    * happens once at read time over the types×hours table; putting it IN
    * the stream would re-fold every micro-batch for no freshness gain.
    * Gated against C22's recursive-CTE oracle.
    */
  def streamingCusumShift(s: SparkSession, d: String): DataFrame = {
    val src = eventsStream(s, d, "event_type STRING")
    Signals.cusumReport(drain(s, src
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("h"), col("event_type"), col("n")), "complete"))
  }

  /** C25 — the LATE-DATA gate (round-11 verdict item 5): watermarks are
    * used throughout C3-C7, but nothing PROVED rows behind the watermark
    * are dropped — this does. The fixture splits the events table into two
    * single-file micro-batches with controlled modification times
    * (FileStreamSource processes files in modTime order;
    * maxFilesPerTrigger=1 pins one file per batch): batch 0 carries every
    * ON-TIME row, an empty bridge batch advances the LATE-EVENT FILTER
    * watermark (which lags the eviction watermark by one batch — see the
    * fixture builder), and the final batch carries the PLANTED LATE set —
    * every row with `event_id % 10 = 0 AND ts <= max(ts) - 3h`. By then
    * the filter watermark stands at max(ts) - 1h, so every late row's
    * window end (<= max - 2h) is behind it: Spark must drop ALL of them
    * (the spec pins numRowsDroppedByWatermark to the planted count), and
    * the eviction passes emit exactly the windows with
    * `end ≤ max − 1h` aggregated from on-time rows only. The oracle
    * computes that set from the batch table by filtering the late rows
    * EXPLICITLY — a hash match proves allowed-lateness semantics end to
    * end (append mode, unlike C3's complete-mode gate, so emission timing
    * itself is under test). StreamingSpec pins the dropped-row count.
    */
  /** Planted-late predicate, shared by the fixture build, the oracle text,
    * and the spec's recount. */
  private def isLate(maxTs: java.sql.Timestamp) =
    pmod(col("event_id"), lit(10L)) === 0 &&
      col("ts") <= lit(new java.sql.Timestamp(maxTs.getTime - 3L * 3600 * 1000))

  private def lateFixtureDir(s: SparkSession, d: String): String = {
    graft.Artifacts.stored(s, "late_fixture", d, Seq("events.parquet")) { loc =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"))
      val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0) // scalar, bounded
      val late = isLate(maxTs)
      def writeOne(df: DataFrame, name: String, modTime: Long): Unit =
        writeFixtureFile(s, loc, df, name, modTime)
      // modTimes 60 s apart pin the batch order: on-time, an EMPTY bridge,
      // then the late set. The bridge batch is load-bearing: Spark's
      // late-event filter deliberately uses the PREVIOUS batch's watermark
      // (SPARK-24634 — a batch must not drop rows a retried predecessor
      // would have accepted), so the batch right after the on-time data
      // still filters at the initial watermark and would ADMIT the late
      // rows (observed: numRowsDroppedByWatermark=0, late windows emitted
      // same-batch by the already-advanced eviction watermark). One empty
      // batch in between advances the filter watermark to max(ts) - 1h
      // before any late row arrives.
      val t0 = System.currentTimeMillis()
      writeOne(ev.filter(!late), "batch0_ontime", t0 - 180000)
      writeOne(ev.filter(lit(false)), "batch1_bridge", t0 - 120000)
      writeOne(ev.filter(late), "batch2_late", t0 - 60000)
    }
  }

  /** C28 — streaming dedup with BOUNDED state (round-12 verdict item 6):
    * C5's `dropDuplicates` keeps a state row per distinct key FOREVER —
    * unbounded on a real stream. `dropDuplicatesWithinWatermark` is the
    * production form: a key's state carries an expiry (first-seen event
    * time + the TTL delay) and is EVICTED once the watermark passes it, so
    * state is bounded by keys-per-TTL-window — and a key returning after
    * eviction legitimately re-emits. This gate proves the whole lifecycle
    * deterministically against a batch oracle.
    *
    * Fixture (the C25 modTime-ordered single-file-batch discipline):
    *   batch0 — the KEY REGISTRY: one row per (user_id, event_type) from
    *     the old era (ts ≤ max − 2h), the key's LATEST old-era occurrence
    *     (ts desc, event_id desc — a deterministic pick; one row per key
    *     is load-bearing: with duplicates in one micro-batch, WHICH row
    *     seeds the state — and thus the expiry — is partition-order
    *     nondeterministic);
    *   batch1 — the empty BRIDGE (SPARK-24634: the late filter lags one
    *     batch; the bridge also triggers the eviction pass, so batch2
    *     meets post-eviction state);
    *   batch2 — the NEW ERA (every row with ts > max − 2h): a key re-emits
    *     iff its registry state expired — probe-verified semantics:
    *     expiry is µs-grain first-seen + TTL, evicted when ≤ the ms-grain
    *     watermark (max registry event time, ms-truncated, minus TTL);
    *   batch3 — the PLANTED LATE set (old-era duplicates, event_id%10=0,
    *     ts ≤ max − 8h): all behind the watermark, all dropped — the spec
    *     pins numRowsDroppedByWatermark to the planted count (C25's
    *     discipline applied to dedup state).
    *
    * Output: per-key emission count (1 = deduped or seen once; 2 = state
    * evicted between eras). The oracle replays registry selection, the
    * ms-truncated watermark, and the µs expiry comparison exactly.
    */
  val DedupTtlUs: Long = 6L * 3600 * 1000000

  private def dedupFixtureDir(s: SparkSession, d: String): String = {
    import org.apache.spark.sql.expressions.Window
    graft.Artifacts.stored(s, "dedup_watermark_fixture", d, Seq("events.parquet")) { loc =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0) // scalar, bounded
      val cut2 = new java.sql.Timestamp(maxTs.getTime - 2L * 3600 * 1000)
      val lateCut = new java.sql.Timestamp(maxTs.getTime - 8L * 3600 * 1000)
      val registry = ev.filter(col("ts") <= lit(cut2))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id"), col("event_type"))
            .orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("ts"))
      val newEra = ev.filter(col("ts") > lit(cut2))
        .select(col("user_id"), col("event_type"), col("ts"))
      val late = ev
        .filter(pmod(col("event_id"), lit(10L)) === 0 && col("ts") <= lit(lateCut))
        .select(col("user_id"), col("event_type"), col("ts"))
      def writeOne(df: DataFrame, name: String, modTime: Long): Unit =
        writeFixtureFile(s, loc, df, name, modTime)
      val t0 = System.currentTimeMillis()
      writeOne(registry, "batch0_registry", t0 - 240000)
      writeOne(registry.filter(lit(false)), "batch1_bridge", t0 - 180000)
      writeOne(newEra, "batch2_newera", t0 - 120000)
      writeOne(late, "batch3_late", t0 - 60000)
    }
  }

  def streamingDedupWithinWatermark(s: SparkSession, d: String): DataFrame = {
    val dir = dedupFixtureDir(s, d)
    drain(s, s.readStream
      .schema("user_id BIGINT, event_type STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*.parquet")
      .withWatermark("ts", "6 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type"), "append")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_emits"))
  }

  def streamingLateData(s: SparkSession, d: String): DataFrame = {
    val dir = lateFixtureDir(s, d)
    val src = s.readStream
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
        "value DOUBLE, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*.parquet")
    drain(s, windowedAgg(src.drop("event_id", "user_id")), "append")
  }

  val ops: Map[String, Op] = Map(
    // explicit late-row filter + final-watermark window cut: what the
    // stream must have emitted iff allowed-lateness semantics hold
    "streaming_late_data" -> Op(streamingLateData _, s"""
      WITH mx AS (SELECT max(ts) AS m FROM events),
      kept AS (
        SELECT e.* FROM events e, mx
        WHERE NOT (e.event_id % 10 = 0 AND e.ts <= mx.m - INTERVAL 3 HOUR)),
      agg AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
          COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
        FROM kept GROUP BY 1, 2)
      SELECT a.hour_start, a.event_type, a.n, a.sum_value
      FROM agg a, mx
      WHERE a.hour_start + INTERVAL 1 HOUR <= mx.m - INTERVAL 1 HOUR
      ORDER BY 1, 2"""),
    // full join + BOTH state-expiry cuts: a null-click row survives where
    // the purchase is strictly below the final min-watermark; a
    // null-purchase row where the click's match horizon (c_ts + 30 min)
    // is strictly below it
    "streaming_full_outer_join" -> Op(streamingFullOuterJoin _, """
      WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts
                 FROM events WHERE event_type = 'purchase'),
      c AS (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
            FROM events WHERE event_type = 'click'),
      wm AS (SELECT LEAST(
          (SELECT (epoch_us(max(p_ts)) // 1000) * 1000 FROM p),
          (SELECT (epoch_us(max(c_ts)) // 1000) * 1000 FROM c))
          - 3600000000 AS w_us),
      m AS (SELECT p.p_id, c.c_id,
              COALESCE(p.user_id, c.c_user) AS user_id,
              epoch_us(p.p_ts) AS p_us, epoch_us(c.c_ts) AS c_us
            FROM p FULL JOIN c
              ON c.c_user = p.user_id
             AND c.c_ts >= p.p_ts - INTERVAL '30 minutes' AND c.c_ts <= p.p_ts)
      SELECT p_id, c_id, user_id FROM m, wm
      WHERE (p_id IS NOT NULL AND c_id IS NOT NULL)
         OR (c_id IS NULL AND p_us < wm.w_us)
         OR (p_id IS NULL AND c_us + 1800000000 < wm.w_us)
      ORDER BY p_id, c_id, user_id"""),
    // left join + the state-expiry cut: a null row survives only where the
    // purchase is STRICTLY below the final min-watermark (ms-truncated max
    // per stream, the engine's EventTimeStats precision)
    "streaming_outer_join" -> Op(streamingOuterJoin _, """
      WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts
                 FROM events WHERE event_type = 'purchase'),
      c AS (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
            FROM events WHERE event_type = 'click'),
      wm AS (SELECT LEAST(
          (SELECT (epoch_us(max(p_ts)) // 1000) * 1000 FROM p),
          (SELECT (epoch_us(max(c_ts)) // 1000) * 1000 FROM c))
          - 3600000000 AS w_us),
      m AS (SELECT p.p_id, c.c_id, p.user_id,
              epoch_us(p.p_ts) AS p_us
            FROM p LEFT JOIN c
              ON c.c_user = p.user_id
             AND c.c_ts >= p.p_ts - INTERVAL '30 minutes' AND c.c_ts <= p.p_ts)
      SELECT p_id, c_id, user_id FROM m, wm
      WHERE c_id IS NOT NULL OR p_us < wm.w_us
      ORDER BY p_id, c_id"""),
    // the streaming CUSUM drains to the batch hourly grid: share C22's
    "streaming_cusum_shift" -> Op(streamingCusumShift _, Signals.ops("events_cusum_shift").oracle),
    // the streaming histogram drains to the batch grid: share B36's oracle
    "streaming_quantile_hist" ->
      Op(streamingQuantileHist _, Analytics.ops("approx_quantile_hist").oracle),
    // the streaming log-bucket sketch drains to the batch grid: share B61's
    "streaming_quantile_sketch" -> Op(streamingQuantileSketch _, Analytics.quantileSketchLogSql),
    // the streaming funnel must equal the batch funnel on the bounded source
    "streaming_funnel" -> Op(streamingFunnel _, Analytics.ops("event_funnel").oracle),
    // streaming twins of the batch alert/sketch share their batch oracles
    "streaming_rate_alert" -> Op(streamingRateAlert _, Signals.ops("events_rate_alert").oracle),
    "streaming_freq_sketch" -> Op(streamingFreqSketch _, Signals.ops("freq_sketch_cms").oracle),
    // B16b's register-replay oracle instantiated over the stream's source
    "streaming_hll_distinct" -> Op(streamingHllDistinct _, Relational.hllSql("events", "user_id")),
    "streaming_dedup" ->
      Op(streamingDedup _, "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type"),
    // bounded-state dedup: registry selection (latest old-era row per key),
    // the ms-truncated watermark, and the µs expiry compare replayed exactly
    "streaming_dedup_within_watermark" -> Op(streamingDedupWithinWatermark _, s"""
      WITH e AS (SELECT event_id, user_id, event_type, ts FROM events),
      cut AS (SELECT max(ts) - INTERVAL 2 HOUR AS c2 FROM e),
      b0 AS (
        SELECT user_id, event_type, ts FROM (
          SELECT user_id, event_type, ts,
            ROW_NUMBER() OVER (PARTITION BY user_id, event_type
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM e, cut WHERE ts <= cut.c2) t WHERE rn = 1),
      wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 - $DedupTtlUs AS w_us FROM b0),
      b2k AS (SELECT DISTINCT user_id, event_type FROM e, cut WHERE ts > cut.c2),
      em AS (
        SELECT user_id, event_type FROM b0
        UNION ALL
        SELECT k.user_id, k.event_type
        FROM b2k k
        LEFT JOIN b0 ON b0.user_id = k.user_id AND b0.event_type = k.event_type
        CROSS JOIN wm
        WHERE b0.user_id IS NULL
           OR epoch_us(b0.ts) + $DedupTtlUs <= wm.w_us)
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_emits
      FROM em GROUP BY 1, 2 ORDER BY 1, 2"""),
    "streaming_topk" -> Op(streamingTopK _, s"""
      WITH c AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
          COUNT(*) AS n
        FROM events GROUP BY 1, 2)
      SELECT hour_start, event_type, n, rank FROM (
        SELECT hour_start, event_type, n,
          ROW_NUMBER() OVER (PARTITION BY hour_start
            ORDER BY n DESC, event_type) AS rank
        FROM c) t
      WHERE rank <= $StreamTopK ORDER BY hour_start, rank"""),
    "streaming_window_agg" -> Op(streamingWindowAgg _, s"""
      SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
        COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    "streaming_enrich" -> Op(streamingEnrich _, """
      SELECT event_id, user_id, event_type, value, c_mktsegment
      FROM events JOIN customer ON user_id = c_custkey
      ORDER BY event_id"""),
    "streaming_join" -> Op(streamingJoin _, """
      SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id
      FROM events p JOIN events c
        ON c.user_id = p.user_id
       AND p.event_type = 'purchase' AND c.event_type = 'click'
       AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
      ORDER BY p_id, c_id"""),
    "streaming_sessionize" -> Op(streamingSessionize _, sessionizeOracleSql),
    // C30: the transformWithState twin emits under the SAME session rule —
    // one oracle text for both state APIs, so they provably cannot diverge
    "streaming_sessionize_tws" -> Op(streamingSessionizeTws _, sessionizeOracleSql),
    // C37: stop-with-open-state/restart must be invisible — the SAME oracle
    // text as C4/C30; any state loss or sink duplication breaks the hash gate
    "streaming_restart_recovery" -> Op(streamingRestartRecovery _, sessionizeOracleSql),
    // C38: the continuously-merged snapshot must equal B32's one-shot
    // recompute over all orders (same oracle text as merge_upsert)
    "streaming_merge_upsert" -> Op(streamingMergeUpsert _, s"""
      SELECT o_custkey, COUNT(*) AS n_orders, MAX(o_orderdate) AS last_odate,
        ${sqlDsum("o_totalprice")} AS sum_price
      FROM orders GROUP BY 1 ORDER BY 1"""),
    // C35: lag gives the transition; per-(user, from, to) row_number gives
    // the running count
    "streaming_type_transitions" -> Op(streamingTypeTransitions _, """
      WITH o AS (
        SELECT user_id, event_id, ts, event_type,
          LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS prev_type
        FROM events)
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        prev_type AS from_type, event_type AS to_type,
        CAST(ROW_NUMBER() OVER (PARTITION BY user_id, prev_type, event_type
          ORDER BY ts, event_id) AS BIGINT) AS n_so_far
      FROM o WHERE prev_type IS NOT NULL
      ORDER BY user_id, ts_us, event_id"""),
    // C34: a full-corpus session is stream-emitted iff its CLOSING event
    // (the next session's first event) lands in the new era (ts > ms-grain
    // max − 2h) — old-era-closed sessions belong to the batch job
    "streaming_sessionize_bootstrap" -> Op(streamingSessionizeBootstrap _, """
      WITH flagged AS (
        SELECT user_id, ts, event_id,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
               THEN 1 ELSE 0 END AS new_session
        FROM events),
      numbered AS (
        SELECT user_id, ts,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged),
      sessions AS (
        SELECT user_id, MIN(ts) AS s_start, MAX(ts) AS s_end,
          COUNT(*) AS n_events
        FROM numbered GROUP BY user_id, session_seq),
      nxt AS (
        SELECT *, LEAD(s_start) OVER (PARTITION BY user_id ORDER BY s_start)
          AS next_start
        FROM sessions),
      cut AS (SELECT (epoch_ms(MAX(ts)) - 7200000) * 1000 AS cut_us FROM events)
      SELECT user_id, epoch_us(s_start) AS start_us, epoch_us(s_end) AS end_us,
        n_events
      FROM nxt, cut
      WHERE next_start IS NOT NULL AND epoch_us(next_start) > cut_us
      ORDER BY user_id, start_us"""),
    // C33: per-purchase horizon count = rn − |rows at or before t−horizon|
    // (RANGE frame), alert rows where it reaches BurstK
    "streaming_burst_detect" -> Op(streamingBurstDetect _, """
      WITH p AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
      w AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
          COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
            RANGE BETWEEN UNBOUNDED PRECEDING
                      AND INTERVAL 12 HOURS PRECEDING) AS before_horizon
        FROM p)
      SELECT user_id, event_id, ts_us,
        CAST(rn - before_horizon AS BIGINT) AS n_in_window
      FROM w WHERE rn - before_horizon >= 3
      ORDER BY user_id, ts_us, event_id"""),
    // C32: sessions emitted iff event-closed OR expired at the final
    // watermark (ms-grain end + gap behind ms-truncated max − 1h) — the
    // timer-flush semantics batch-characterized
    "streaming_session_timers" -> Op(streamingSessionTimers _, """
      WITH flagged AS (
        SELECT user_id, ts, event_id,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
               THEN 1 ELSE 0 END AS new_session
        FROM events),
      numbered AS (
        SELECT user_id, ts,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged),
      sessions AS (
        SELECT user_id, MIN(ts) AS s_start, MAX(ts) AS s_end,
          COUNT(*) AS n_events
        FROM numbered GROUP BY user_id, session_seq),
      wm AS (SELECT epoch_ms(MAX(ts)) - 3600000 AS wm_ms FROM events)
      SELECT user_id, epoch_us(s_start) AS start_us, epoch_us(s_end) AS end_us,
        n_events
      FROM sessions s, wm
      WHERE s_start < (SELECT MAX(s_start) FROM sessions m
                       WHERE m.user_id = s.user_id)
         OR (epoch_ms(s_end) + 1800000) < wm.wm_ms
      ORDER BY user_id, start_us"""))

  private lazy val sessionizeOracleSql: String = """
      WITH flagged AS (
        SELECT user_id, ts, event_id,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
               THEN 1 ELSE 0 END AS new_session
        FROM events),
      numbered AS (
        SELECT user_id, ts,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged),
      sessions AS (
        SELECT user_id, MIN(ts) AS s_start, MAX(ts) AS s_end,
          COUNT(*) AS n_events
        FROM numbered GROUP BY user_id, session_seq)
      SELECT user_id, epoch_us(s_start) AS start_us, epoch_us(s_end) AS end_us,
        n_events
      FROM sessions s
      WHERE s_start < (SELECT MAX(s_start) FROM sessions m
                       WHERE m.user_id = s.user_id)
      ORDER BY user_id, start_us"""
}
