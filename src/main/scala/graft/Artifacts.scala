package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graft.ColumnBridge

/** Content fingerprinting for the per-JVM stored-artifact caches (the F3/F5
  * ANN indexes, the B57 edge table, the E7/E8 dedup artifacts, the resolved
  * parquet inputs). Keying those caches on the dataset *path* alone serves
  * stale answers when the files at that path are regenerated inside one
  * JVM — a long-lived session would keep routing queries through an index
  * built from the old corpus. The fingerprint is METADATA-ONLY (one
  * recursive file listing: name, length, mtime per file — no data read, no
  * parquet footer parse), so checking it per lookup costs microseconds
  * locally and one namenode listing on a real cluster.
  */
object Artifacts {

  /** Base directory for on-the-fly artifact/fixture storage: every stored
    * artifact outside the five index families of [[stored]], plus the
    * per-call scratch outputs of the source/sink and streaming keys.
    * Defaults to the driver's java.io.tmpdir — correct on local[*] and on
    * any cluster whose configured scratch path is shared — and is
    * overridden with `graft.scratch.dir` for multi-node deployments, where
    * it MUST point at a filesystem every executor and the driver can reach
    * (HDFS/object store): artifacts are written by executors and re-read by
    * driver-planned scans, so a node-local path would scatter them.
    */
  def scratchBase(s: SparkSession): String =
    s.conf.getOption("graft.scratch.dir")
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** The scratch dir of one (data dir, label) pair under [[scratchBase]],
    * wiped before use: a key that writes per-call output (a sink round
    * trip, a streaming run's input, checkpoint and output) rewrites the
    * same dir on every call, so repeated runs never accumulate files. A
    * frame read from the dir is valid until the next call with the same
    * pair. */
  private[graft] def scratchDir(s: SparkSession, d: String, label: String): Path = {
    val dir = new Path(scratchBase(s),
      s"graft_${label}_" + d.replaceAll("[^A-Za-z0-9]", "_").toLowerCase)
    dir.getFileSystem(s.sparkContext.hadoopConfiguration).delete(dir, true)
    dir
  }

  /** Metadata fingerprint of one or more dataset paths. Per-file hashes are
    * XOR-combined so the (filesystem-dependent) listing order cannot change
    * the result; a missing path contributes a distinct constant rather than
    * failing — the consumer's own read will surface the real error.
    *
    * Granularity caveat: (length, mtime) alone cannot distinguish an
    * in-place regeneration that lands identical file sizes within the
    * filesystem's mtime tick (1 s on some local FSes) — exactly the stale
    * read this abstraction exists to prevent. For `file:` paths we therefore
    * fold in a cheap CONTENT hint: the last 16 bytes of each file (for
    * parquet that covers the footer-length word + magic, which moves with
    * any row-group/stat change). One pread of 16 bytes per local file is
    * ~free; on remote filesystems (one RPC per open would not be) the
    * metadata-only form stands and mtime granularity there is millisecond.
    */
  def fingerprint(s: SparkSession, paths: String*): String = {
    var acc = 0x9e3779b97f4a7c15L
    paths.foreach { ps =>
      val p = new Path(ps)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) {
        acc ^= graft.plans.MixHash.polyHash(s"absent:$ps")
      } else {
        val local = fs.getScheme == "file"
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val f = it.next()
          val tail =
            if (local && f.getLen > 0) {
              // a file vanishing between the listing and this read (e.g. a
              // concurrent regeneration) must MOVE the fingerprint — forcing
              // a rebuild — not fail the lookup
              try {
                val n = math.min(16L, f.getLen).toInt
                val buf = new Array[Byte](n)
                val in = fs.open(f.getPath)
                try { in.readFully(f.getLen - n, buf) } finally in.close()
                java.util.Base64.getEncoder.encodeToString(buf)
              } catch { case _: java.io.IOException => "unreadable" }
            } else ""
          acc ^= graft.plans.MixHash.polyHash(
            s"${f.getPath.toString}|${f.getLen}|${f.getModificationTime}|$tail")
        }
      }
    }
    java.lang.Long.toHexString(acc)
  }

  /** Index families whose root a deployment may pin with
    * `graft.<family>.dir` (same shared-filesystem contract as
    * [[scratchBase]]). A stored artifact's family is its name up to the
    * first '_'. */
  private val Families = Set("ivf", "int8", "pq", "ivfpq", "graph")

  private def rootOf(s: SparkSession, name: String): String = {
    val family = name.takeWhile(_ != '_')
    (if (Families(family)) s.conf.getOption(s"graft.$family.dir") else None)
      .getOrElse(scratchBase(s))
  }

  /** A stored artifact's input fingerprint and directory. */
  private final case class Entry(fingerprint: String, dir: String)

  /** The ledger: one entry per (name, dataset, root, params) — the artifact
    * generation this JVM serves for that key. */
  private val ledger = new ConcurrentHashMap[String, Entry]()

  /** One monitor per ledger key. A build runs under its key's monitor, not
    * inside `ledger.compute`: builds nest (a derived artifact reads its
    * sources inside its own build), and a nested `compute` on the same
    * map throws "Recursive update" or corrupts a bin. Nesting always runs
    * from a derived artifact to its source, so the monitors cannot cycle. */
  private val keyLocks = new ConcurrentHashMap[String, AnyRef]()

  /** Build-once-per-(key, input fingerprint) stored artifact: the directory
    * of artifact `name` for dataset `d`, built by `build` on first use and
    * served from the ledger until a fingerprint of `inputs` (file names
    * under `d`) moves.
    *
    * `params` are the confs that SHAPE the artifact (cell count, file
    * count, caps): flipping one mid-session selects a different key and
    * directory instead of serving the artifact built under the old value.
    * The root is `graft.<family>.dir` for the index families, else
    * [[scratchBase]]; repointing it mid-session also rebuilds. The
    * directory `<root>/graft_<name>-<hex>` hashes the name, dataset, params
    * AND fingerprint, so two keys never share a directory and every
    * generation has its own: a rebuild never overwrites files a
    * lazily-held reader of the previous generation still scans. `build`
    * receives that directory empty (a stale partial build never survives)
    * and writes the artifact into it.
    */
  def stored(s: SparkSession, name: String, d: String, inputs: Seq[String],
      params: Any*)(build: String => Unit): String =
    storedFp(s, name, d, fingerprint(s, inputs.map(i => s"$d/$i"): _*),
      params: _*)(build)

  /** [[stored]] under a fingerprint the caller already holds — for an
    * artifact derived from another stored artifact, which must be keyed on
    * the fingerprint its source was resolved under (a regeneration landing
    * between two fingerprint walks would otherwise bind the derived
    * artifact of the old source generation to the new fingerprint). */
  def storedFp(s: SparkSession, name: String, d: String, fp: String,
      params: Any*)(build: String => Unit): String = {
    val root = rootOf(s, name)
    val key = (Seq(name, d, root) ++ params).mkString("@")
    val hit = ledger.get(key)
    if (hit != null && hit.fingerprint == fp) return hit.dir
    keyLocks.computeIfAbsent(key, _ => new AnyRef).synchronized {
      val old = ledger.get(key)
      if (old != null && old.fingerprint == fp) old.dir
      else {
        // a concurrent sweepStale must not run while a rebuild is in
        // flight: in an A→B→A cycle the dir being re-created is still in
        // `superseded` until the remove below, and a sweep in that window
        // would delete the just-rebuilt CURRENT generation. Builds share
        // the read side (reentrant, so nested builds are fine); the sweep
        // needs the write side, so it can never interleave with a build.
        sweepLock.readLock().lock()
        try {
          val slug = java.lang.Long.toHexString(graft.plans.MixHash.polyHash(
            (Seq(name, d) ++ params :+ fp).mkString("@")))
          val dir = new Path(root, s"graft_$name-$slug")
          val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(dir, true); fs.mkdirs(dir)
          val loc = dir.toString
          build(loc)
          // the replaced generation's dir stays on disk (a lazily-held
          // reader of the old location must stay valid) but is RECORDED so
          // a long-lived session can reclaim it via [[sweepStale]]
          if (old != null && old.dir != loc) superseded.add(old.dir)
          // a fingerprint CYCLE (A→B→A) rebuilds into a dir recorded as
          // superseded during the A→B transition — it is live again and
          // must leave the sweep set BEFORE the lock drops
          superseded.remove(loc)
          ledger.put(key, Entry(fp, loc))
          loc
        } finally sweepLock.readLock().unlock()
      }
    }
  }

  /** On-disk locations of artifact generations this JVM has superseded
    * (rebuilt under a moved fingerprint). Kept until [[sweepStale]]. */
  private val superseded =
    java.util.Collections.newSetFromMap(
      new ConcurrentHashMap[String, java.lang.Boolean]())

  /** Guards the build-vs-sweep cycle race — see the note in
    * [[storedFp]]: builds hold the read side (concurrent builds are
    * fine), [[sweepStale]] needs the write side. */
  private val sweepLock = new java.util.concurrent.locks.ReentrantReadWriteLock()

  /** Opt-in reclamation for long-lived sessions: delete every artifact
    * generation this JVM superseded (the per-generation dirs
    * [[stored]] deliberately leaves on disk so lazily-held readers
    * of the old generation stay valid). Call it at a point where no frame
    * referencing a pre-rebuild artifact is still alive — the caller owns
    * that judgment, which is why the sweep never runs implicitly. Returns
    * the deleted locations. Live (current-generation) artifacts are never
    * touched: only locations REPLACED by a rebuild are recorded.
    */
  def sweepStale(s: SparkSession): Seq[String] = {
    // refuse to sweep while any rebuild is in flight: the set may contain a
    // location a concurrent A→B→A rebuild is re-creating right now (the
    // caller's quiescent-point contract, now enforced instead of assumed —
    // an empty result at a non-quiescent moment is safe, a deleted current
    // generation is not). tryLock, not lock: blocking here under a stuck
    // build would hang the caller; an empty sweep retries later.
    if (!sweepLock.writeLock().tryLock()) return Seq.empty
    try sweepStaleLocked(s)
    finally sweepLock.writeLock().unlock()
  }

  private def sweepStaleLocked(s: SparkSession): Seq[String] = {
    val dropped = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = superseded.iterator()
    while (it.hasNext) {
      val loc = it.next()
      // forget the location only AFTER a successful delete: a failed
      // delete (permission flip, unmounted volume) stays in the set so a
      // later sweep retries it, and one bad dir doesn't abort the rest
      val ok =
        try {
          val p = new Path(loc)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
          true
        } catch { case _: java.io.IOException => false }
      if (ok) { it.remove(); dropped += loc }
    }
    dropped.toSeq
  }

  /** Generic build-once-per-(key, token) value cache — the [[stored]]
    * pattern for non-path values (the events era check, the resolved
    * parquet relations). One entry per key: a moved token REPLACES the
    * stale entry instead of accumulating beside it.
    *
    * `build` runs outside any map lock: it may run Spark jobs or read
    * another entry of the same map, and a nested `compute` on one map
    * throws "Recursive update". Two threads missing at once both build;
    * the first to install wins and the other returns its value.
    */
  def cachedValue[T, V](map: ConcurrentHashMap[String, (T, V)], key: String,
      token: T)(build: => V): V = {
    val hit = map.get(key)
    if (hit != null && hit._1 == token) hit._2
    else {
      val fresh = (token, build)
      map.compute(key, (_, cur) =>
        if (cur != null && cur._1 == token) cur else fresh)._2
    }
  }

  /** What a resolved parquet relation depends on: the session (by
    * identity — `SparkSession` keeps `Object.equals`), the input's
    * fingerprint, and the session confs that steer schema inference. */
  private final case class ReadToken(
      session: SparkSession, fingerprint: String, confs: Map[String, String])

  private val relations =
    new ConcurrentHashMap[String, (ReadToken, LogicalPlan with MultiInstanceRelation)]()

  private def inferenceConfs(s: SparkSession): Map[String, String] =
    s.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }

  /** `s.read.parquet(path)`, resolved once per (session, fingerprint,
    * inference confs). Each uncached read lists the files and runs a
    * one-stage Spark job to infer the schema from the footers; a hit
    * reuses the resolved relation (file index and schema) and costs one
    * fingerprint listing. Every call returns a new frame over fresh
    * attribute ids, so a table read twice in one plan self-joins like two
    * uncached reads. One entry per path: a new session, a moved
    * fingerprint or a flipped conf re-reads and replaces it.
    *
    * For source tables and [[stored]] generation directories. A per-call
    * scratch output is rewritten on every call; read it directly.
    */
  def parquet(s: SparkSession, path: String): DataFrame =
    parquetFp(s, path, fingerprint(s, path))

  /** [[parquet]] under a fingerprint of `path` the caller already holds. */
  private[graft] def parquetFp(s: SparkSession, path: String, fp: String): DataFrame = {
    val plan = cachedValue(relations, path, ReadToken(s, fp, inferenceConfs(s))) {
      ColumnBridge.planOf(s.read.parquet(path)) match {
        case r: LogicalPlan with MultiInstanceRelation => r
        case other => throw new IllegalStateException(
          s"parquet read of $path resolved to ${other.nodeName}, not a relation")
      }
    }
    ColumnBridge.ofRows(s, plan.newInstance())
  }

  /** The catalog name of table `prefix` in the stored generation `dir`:
    * the prefix plus a hash of the directory, so every generation has its
    * own table and a served name never points at another generation's
    * files. */
  def tableIn(dir: String, prefix: String): String =
    s"${prefix}_${java.lang.Long.toHexString(graft.plans.MixHash.polyHash(dir))}"

  /** Writes `df` as table `prefix` of the generation `dir` being built:
    * bucketed and sorted on `key`, its files under `<dir>/<prefix>`, and
    * registered as [[tableIn]]. Call it only inside a [[stored]] build:
    * re-registering a bucketed table over existing files would need its
    * column list spelled out. Overwrite mode replaces the registration an
    * A→B→A fingerprint cycle left under the same name. */
  def saveBucketed(df: DataFrame, dir: String, prefix: String,
      buckets: Int, key: String): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", s"$dir/$prefix").saveAsTable(tableIn(dir, prefix))
}
