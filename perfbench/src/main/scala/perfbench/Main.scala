package perfbench

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark runner: one client, one query at a time, in a fresh
  * JVM per run. `run.py` starts it and turns its record into metrics.
  *
  * {{{
  * Main run <dataDir> <root> <keysFile> <seed> <seconds> <trace> <out>
  * Main setup <root> <out>          # set-up only, for the setup_s samples
  * Main oracles <keysFile> <out>    # each key's SparkEntry.oracleSql
  * }}}
  *
  * `root` is a fresh per-run directory: warehouse, scratch, artifact index
  * roots and spark.local.dir all point inside it, so every run starts cold.
  * The record is JSON with raw per-key times; traced runs also write
  * `<out>.spans.json`.
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: data :: root :: keys :: seed :: secs :: trace :: out :: Nil =>
      run(data, root, readKeys(keys), seed.toLong, secs.toDouble, trace == "1", out)
    case "setup" :: root :: out :: Nil =>
      val spark = session(root)
      Files.writeString(Paths.get(out), s"""{"ready_ms":${System.currentTimeMillis}}""")
      spark.stop()
    case "oracles" :: keys :: out :: Nil =>
      val sql = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(out), readKeys(keys).map { k =>
        Json.str(k) + ":" + sql.get(k).map(Json.str).getOrElse("null")
      }.mkString("{", ",\n", "}"))
    case _ =>
      System.err.println("usage: Main run|setup|oracles ... (see Main.scala)")
      sys.exit(2)
  }

  /** One key per line. */
  private def readKeys(f: String): Seq[String] =
    Files.readAllLines(Paths.get(f)).asScala.toSeq.map(_.trim).filter(_.nonEmpty)

  val cores: Int = Runtime.getRuntime.availableProcessors

  /** The session `graft.Bench` builds, with every storage root moved under
    * `root`. */
  def session(root: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/local")
      .config("graft.scratch.dir", s"$root/scratch")
      .config("graft.ivf.dir", s"$root/artifacts/ivf")
      .config("graft.int8.dir", s"$root/artifacts/int8")
      .config("graft.pq.dir", s"$root/artifacts/pq")
      .config("graft.ivfpq.dir", s"$root/artifacts/ivfpq")
      .config("graft.graph.dir", s"$root/artifacts/graph")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def run(data: String, root: String, keys: Seq[String], seed: Long,
      seconds: Double, trace: Boolean, out: String): Unit = {
    val spark = session(root)
    val readyMs = System.currentTimeMillis
    val queries = graft.SparkEntry.queries
    val missing = keys.filterNot(queries.contains)
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] keys missing from SparkEntry.queries: ${missing.mkString(",")}")
      spark.stop()
      sys.exit(3)
    }
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val confAtStart = spark.conf.getAll
    val artifactRoots = Seq("warehouse", "scratch", "artifacts").map(d => Paths.get(root, d))
    val spans = mutable.ArrayBuffer.empty[Span]
    var spanId = 0L
    def span(parent: Long, kind: String, name: String, s: Long, e: Long): Long = {
      spanId += 1; spans += Span(spanId, parent, kind, name, s, e); spanId
    }

    /** One key: entry (the module function) then execute: the noop write
      * `graft.Bench` uses, or in the check pass a parquet write of the result
      * for the oracle comparison. */
    def runKey(key: String, passSpan: Long, traced: Boolean, check: Boolean): String = {
      spark.catalog.clearCache()
      System.gc()
      val files0 = if (traced) artifactFiles(artifactRoots) else Map.empty[Path, (Long, Long)]
      val fs0 = Tracer.localFsBytesWritten
      val gc0 = Tracer.gcMs
      val w0 = System.currentTimeMillis
      val t0 = System.nanoTime
      var t1 = t0
      var error: Option[String] = None
      try {
        val df = queries(key)(spark, data)
        t1 = System.nanoTime
        if (check) df.write.mode("overwrite").parquet(s"$root/check/$key")
        else df.write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = System.nanoTime
          error = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          System.err.println(s"[perfbench] $key failed: ${error.get}")
      }
      val t2 = System.nanoTime
      val ms = (t2 - t0) / 1e6
      val entryMs = (t1 - t0) / 1e6
      val base = Seq("key" -> Json.str(key), "ms" -> Json.num(ms),
        "entry_ms" -> Json.num(entryMs), "gc_ms" -> (Tracer.gcMs - gc0).toString) ++
        error.map(e => "error" -> Json.str(e))
      if (!traced) return Json.obj(base)

      val c = tracer.get.harvest()
      val fsBytes = Tracer.localFsBytesWritten - fs0
      val written = artifactFiles(artifactRoots).filter { case (p, v) => !files0.get(p).contains(v) }
      // spans: key → {entry, execute}; jobs, stages and batches hang under
      // whichever of entry/execute their start falls in
      val w1 = w0 + math.round(entryMs)
      val w2 = w0 + math.round(ms)
      val keySpan = span(passSpan, "key", key, w0, w2)
      val entrySpan = span(keySpan, "entry", key, w0, w1)
      val execSpan = span(keySpan, "execute", key, w1, w2)
      def under(start: Long) = if (start < w1) entrySpan else execSpan
      val jobIds = c.jobSpans.map { case (s, e, id) => id -> span(under(s), "job", s"job $id", s, e) }.toMap
      c.stageSpans.foreach { case (s, e, id, job) =>
        span(jobIds.getOrElse(job, under(s)), "stage", s"stage $id", s, e)
      }
      c.batchSpans.foreach { case (s, e, id) => span(under(s), "batch", s"batch $id", s, e) }
      val children = c.jobSpans.map(j => (j._1, j._2)) ++ c.batchSpans.map(b => (b._1, b._2))
      val entrySelf = entryMs - Tracer.covered(w0, w1, children)
      val sess = sessionCounts(spark, confAtStart)
      tracer.get.harvest() // drop the events the session probe itself caused
      Json.obj(base ++ Seq(
        "entry_self_ms" -> Json.num(math.max(0.0, entrySelf)),
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "failed_tasks" -> c.failedTasks, "task_run_ms" -> c.taskRunMs,
        "task_cpu_ms" -> c.taskCpuMs, "shuffle_write_bytes" -> c.shuffleWrite,
        "shuffle_read_bytes" -> c.shuffleRead, "fetch_wait_ms" -> c.fetchWaitMs,
        "spill_bytes" -> c.spill, "scan_bytes" -> c.scanBytes, "scan_rows" -> c.scanRows,
        "result_bytes" -> c.resultBytes, "analysis_ms" -> c.analysisMs,
        "optimization_ms" -> c.optimizationMs, "planning_ms" -> c.planningMs,
        "batches" -> c.batches, "input_rows" -> c.inputRows,
        "add_batch_ms" -> c.addBatchMs, "wal_commit_ms" -> c.walCommitMs,
        "commit_offsets_ms" -> c.commitOffsetsMs, "query_planning_ms" -> c.queryPlanningMs,
        "state_rows" -> c.stateRows, "state_memory_bytes" -> c.stateMemory,
        "state_commit_ms" -> c.stateCommitMs, "fs_write_bytes" -> fsBytes,
        "artifact_files" -> written.size, "artifact_bytes" -> written.values.map(_._1).sum
      ).map { case (k, v) => k -> v.toString } ++ Seq(
        "batch_ms" -> c.batchMs.mkString("[", ",", "]"),
        "session" -> Json.obj(sess.map { case (k, v) => k -> v.toString }))
      )
    }

    def pass(i: Int, kind: String, traced: Boolean): String = {
      val check = kind == "check"
      val order = new scala.util.Random(new java.util.Random(seed * 1000003L + i))
        .shuffle(keys)
      if (traced) tracer.get.attach()
      val w0 = System.currentTimeMillis
      spanId += 1
      val passSpan = spanId
      val gc0 = Tracer.gcMs
      val recs = order.map(k => runKey(k, passSpan, traced, check))
      if (traced) {
        tracer.get.detach()
        spans += Span(passSpan, -1, "pass", s"$kind $i", w0, System.currentTimeMillis)
      }
      Json.obj(Seq("index" -> i.toString, "kind" -> Json.str(kind),
        "traced" -> traced.toString,
        "gc_ms" -> (Tracer.gcMs - gc0).toString, "keys" -> recs.mkString("[", ",\n", "]")))
    }

    val passes = mutable.ArrayBuffer.empty[String]
    passes += pass(0, "cold", trace)
    // the correctness pass doubles as the settle pass: it is never timed,
    // and it absorbs the second-touch JIT before the counted warm passes
    passes += pass(1, "check", traced = false)
    // counted warm passes: at least three (four when traced), then until
    // `seconds` of warm time; traced runs alternate listeners on and off so
    // the same run measures the tracing overhead
    val minCounted = if (trace) 4 else 3
    var counted = 0
    var warmMs = 0.0
    while ((counted < minCounted || warmMs < seconds * 1000) && counted < 200) {
      val traced = trace && counted % 2 == 0
      val t0 = System.nanoTime
      passes += pass(2 + counted, "warm", traced)
      warmMs += (System.nanoTime - t0) / 1e6
      counted += 1
    }

    spark.catalog.clearCache()
    // the ContextCleaner frees broadcast and shuffle blocks asynchronously
    // once a GC has dropped their last reference: collect, let it run, and
    // collect again, so the reading does not depend on the cleaner's timing
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val rt = Runtime.getRuntime
    val heapRetained = (rt.totalMemory - rt.freeMemory) / 1048576.0
    val sessionEnd = sessionCounts(spark, confAtStart)

    if (trace) Files.writeString(Paths.get(out + ".spans.json"), spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ms" -> s.start.toString, "end_ms" -> s.end.toString))
    }.mkString("[", ",\n", "]"))
    Files.writeString(Paths.get(out), Json.obj(Seq(
      "ready_ms" -> readyMs.toString, "cores" -> cores.toString,
      "heap_max_mb" -> Json.num(rt.maxMemory / 1048576.0),
      "heap_retained_mb" -> Json.num(heapRetained),
      "session_end" -> Json.obj(sessionEnd.map { case (k, v) => k -> v.toString }),
      "passes" -> passes.mkString("[", ",\n", "]"))))
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
  }

  /** Session state a key can leave behind. */
  private def sessionCounts(spark: SparkSession, confAtStart: Map[String, String]): Seq[(String, Long)] = {
    val conf = spark.conf.getAll
    val confChanges = (conf.keySet ++ confAtStart.keySet).count(k => conf.get(k) != confAtStart.get(k))
    Seq(
      "temp_views" -> spark.catalog.listTables().collect().count(_.isTemporary).toLong,
      "active_streams" -> spark.streams.active.length.toLong,
      "persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size.toLong,
      "cached_tables" -> org.apache.spark.sql.execution.SparkInternals.cachedEntries(spark).toLong,
      "conf_changes" -> confChanges.toLong)
  }

  /** Every file under the artifact roots: path → (length, mtime). Entries
    * that vanish during the walk (a concurrent cleanup) are skipped. */
  private def artifactFiles(roots: Seq[Path]): Map[Path, (Long, Long)] = {
    val found = mutable.Map.empty[Path, (Long, Long)]
    roots.foreach { r =>
      Files.walkFileTree(r, new SimpleFileVisitor[Path] {
        override def visitFile(p: Path, a: BasicFileAttributes): FileVisitResult = {
          found(p) = (a.size, a.lastModifiedTime.toMillis); FileVisitResult.CONTINUE
        }
        override def visitFileFailed(p: Path, e: IOException): FileVisitResult =
          FileVisitResult.CONTINUE
      })
    }
    found.toMap
  }
}

/** Just enough JSON writing for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
