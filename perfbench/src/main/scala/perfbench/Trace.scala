package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced span. Times are epoch milliseconds; `parent` is -1 for a pass. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, end: Long)

/** Counters one key execution produced, read from Spark's listeners after
  * the listener bus has drained. */
final class KeyCounters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  var scanBytes, scanRows, resultBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var batches, inputRows = 0L
  var addBatchMs, walCommitMs, commitOffsetsMs, queryPlanningMs = 0L
  var stateRows, stateMemory, stateCommitMs = 0L
  val batchMs = mutable.ArrayBuffer.empty[Long]
  /** (start, end, jobId) of each job, epoch ms. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long, Int)]
  /** (start, end, stageId, jobId) of each stage, epoch ms. */
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long, Int, Int)]
  /** (start, end, batchId) of each micro-batch, epoch ms. */
  val batchSpans = mutable.ArrayBuffer.empty[(Long, Long, Long)]
}

/** The benchmark's own listeners: a SparkListener (jobs, stages, tasks,
  * shuffle, scan), a QueryExecutionListener (Catalyst phases) and a
  * StreamingQueryListener (micro-batches, state). All three are added by
  * [[attach]] and removed by [[detach]], so untraced passes run without them.
  */
final class Tracer(spark: SparkSession) {
  private var cur = new KeyCounters
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val lastState = mutable.Map.empty[java.util.UUID, (Long, Long)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      cur.jobs += 1
      jobStart.remove(e.jobId).foreach { t0 =>
        cur.jobSpans += ((t0, e.time, e.jobId))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        cur.stages += 1
        for (t0 <- si.submissionTime; t1 <- si.completionTime)
          cur.stageSpans += ((t0, t1, si.stageId, stageJob.getOrElse(si.stageId, -1)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      cur.tasks += 1
      if (!e.taskInfo.successful) cur.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cur.taskRunMs += m.executorRunTime
        cur.taskCpuMs += m.executorCpuTime / 1000000L
        cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        cur.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        cur.scanBytes += m.inputMetrics.bytesRead
        cur.scanRows += m.inputMetrics.recordsRead
        cur.resultBytes += m.resultSize
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val p = qe.tracker.phases
      def ms(name: String) = p.get(name).map(_.durationMs).getOrElse(0L)
      cur.analysisMs += ms("analysis")
      cur.optimizationMs += ms("optimization")
      cur.planningMs += ms("planning")
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val trigger = d.getOrElse("triggerExecution", 0L)
        cur.batches += 1
        cur.inputRows += p.numInputRows
        cur.batchMs += trigger
        cur.addBatchMs += d.getOrElse("addBatch", 0L)
        cur.walCommitMs += d.getOrElse("walCommit", 0L)
        cur.commitOffsetsMs += d.getOrElse("commitOffsets", 0L)
        cur.queryPlanningMs += d.getOrElse("queryPlanning", 0L)
        val ops = p.stateOperators
        cur.stateCommitMs += ops.map(_.commitTimeMs).sum
        lastState(p.id) = (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
        cur.batchSpans += ((t0, t0 + trigger, p.batchId))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.sql.execution.SparkInternals.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Drain the bus and hand over what the last key produced. State size is
    * the final progress of each streaming query the key ran. */
  def harvest(): KeyCounters = {
    org.apache.spark.sql.execution.SparkInternals.drainListenerBus(spark.sparkContext)
    synchronized {
      val c = cur
      lastState.values.foreach { case (rows, mem) =>
        c.stateRows += rows; c.stateMemory += mem
      }
      lastState.clear()
      cur = new KeyCounters
      c
    }
  }
}

object Tracer {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Bytes written through Hadoop's local filesystem in this JVM: parquet
    * and artifact writes (FileSystem) plus streaming checkpoint and state
    * writes (FileContext). Spark's own shuffle files bypass both. */
  def localFsBytesWritten: Long = {
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
    val fc = org.apache.hadoop.fs.FileContext.getAllStatistics.asScala
      .collect { case (u, st) if u.getScheme == "file" => st.getBytesWritten }.sum
    fs + fc
  }

  /** Length of the part of [s, e] that the intervals cover. */
  def covered(s: Long, e: Long, ivs: Iterable[(Long, Long)]): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L; var hi = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= hi) { total += b - a; hi = b }
      else if (b > hi) { total += b - hi; hi = b }
    }
    total
  }
}
