package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Tables

/** E-block (SURVEY §2): deduplication over `documents`.
  *
  * Scale design: nothing here materializes the n×n pair matrix. The exact
  * Jaccard path uses prefix-filtered inverted-index joins (PPJoin-style), the
  * probabilistic paths (MinHash/SimHash) use constant-size signatures and
  * band-bucket joins. Candidate verification only ever touches pairs that
  * share an index entry.
  */
object Dedup {

  val JaccardT = 0.8  // = 4/5; prefix arithmetic below relies on exact 4/5
  /** Posting-list df cap for the E2 inverted index (see BoundedPostingsAgg). */
  val MaxShingleDf = 1000

  /** Distinct 3-word shingles via the native codegen expression (see
    * graft.plans.ShingleArray — the composable transform/array_distinct form
    * is ~10x slower through the HOF interpreter).
    */
  def withShingles(docs: DataFrame): DataFrame =
    docs.withColumn("shingles", graft.plans.ShingleArray.shingles(col("text"), 3))

  // Library outputs are UNSORTED. Round 4 funneled every pair/label output
  // through a `repartition(1).sortWithinPartitions` for presentation order —
  // a single-task terminal stage that is exactly the bottleneck a driver
  // collect would be once pair tables are billions of rows (the 100 TB
  // design point). The correctness gate row-sorts both sides before hashing
  // (driver + tools/check.py `canon`), so ordering is the CALLER's
  // presentation concern, not the library's: consumers that need an order
  // apply their own orderBy on the (tiny or huge) result they asked for.

  /** E1 — exact dedup: group on the normalized-content fingerprint, keep the
    * smallest doc_id as the cluster representative.
    */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(TextFunctions.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** E2 — EXACT n-gram Jaccard near-dup pairs at threshold 0.8, via prefix
    * filtering: under a global (df asc, shingle asc) order, two sets with
    * J >= t must share an element in their first |X| - ceil(t*|X|) + 1
    * elements (PPJoin). Only prefix postings are joined; candidates are then
    * verified exactly on the full shingle arrays. Linear in postings + output
    * — the n^2 form never materializes, so 100x data only grows the (already
    * hash-partitioned) index join.
    *
    * ceil(0.8*sz) is computed as (4*sz+4) DIV 5 — integer-exact; a double
    * `ceil(0.8*sz)` rounds up spuriously (0.8*295 = 236.0000000000003).
    */
  def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    val (pairs, scoped) = jaccardCore(s, d)
    graft.CacheScope.releaseAfterUse(pairs, scoped: _*)
  }

  /** The E2 pipeline minus presentation concerns: unsorted verified pairs
    * plus the persisted intermediates the caller must release (via
    * [[graft.CacheScope]] for lazy consumers, or directly once materialized).
    */
  private[graft] def jaccardCore(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    // shingle arrays feed the index build AND candidate verification: persist
    // so the (expensive) shingling runs once; released after the first
    // consuming action (CacheScope)
    val docs = graft.CacheScope.scopedPersist(withShingles(Tables.documents(s, d))
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("sz")))
    // the index/placement path shuffles 8-byte polyHash LONGS, not ~24-byte
    // shingle strings (r18, guide §2.3 "shuffle keys and metadata instead of
    // payloads"): the df window, the per-doc rank window and the prefix
    // self-join only need a CONSISTENT total order and equality — any
    // injective relabeling of shingles preserves df counts and PPJoin's
    // prefix theorem, and the candidate set stays a superset of the true
    // pairs. Verification below still intersects the exact STRING arrays,
    // so the verified output is identical for any hash (a 2^-64 collision
    // could only add/remove a candidate, never change a verified pair).
    val postings = docs
      .select(col("doc_id"), col("sz"), explode(col("shingles")).as("sh"))
      .select(col("doc_id"), col("sz"),
        graft.plans.MixHash.polyHashCol(col("sh")).as("h"))
    // per-shingle document frequency as a COUNT WINDOW over the shingle: one
    // shuffle + an in-partition sort, entirely inside whole-stage codegen's
    // spill-safe operators. (Round 2 fused this into a TypedImperativeAggregate
    // posting-list collector; that plans as ObjectHashAggregate, whose
    // 128-key sort-based fallback serializes a buffer object per shingle —
    // the round-2 driver bench measured it at 16x this form under memory
    // pressure. A shingle index has ~10^5 keys per partition, so at ANY
    // scale the object-hash path lives in its fallback; window df is the
    // shape that survives 100x.) Hot shingles (df > MaxShingleDf) are cut
    // from the index entirely — the stop-fingerprint cut: postings that
    // common carry no prefix-filter signal but quadratic join cost. Dropped
    // shingles sit at the END of the (df asc) prefix order, so they only
    // enter a prefix when a doc has fewer than prefix-length sub-cap
    // shingles — a deliberate precision trade every df-capped similarity
    // index makes. No-op at test SFs (max df 25 at sf0.1).
    val withDf = postings
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("df") <= MaxShingleDf)
    val ranked = withDf
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
    val prefix = graft.CacheScope.scopedPersist(
      ranked.filter(col("rk") <= col("sz") - expr("(4*sz + 4) DIV 5") + 1)
        .select(col("doc_id"), col("h")))
    val cand = prefix.as("a").join(prefix.as("b"), col("a.h") === col("b.h")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val arrs = docs.select(col("doc_id"), col("shingles"), col("sz"))
    val out = cand
      .join(arrs.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"), col("sz").as("sz_a")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jac", round(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("jac") >= JaccardT)
      .select(col("doc_a"), col("doc_b"), col("jac"))
    (out, Seq(docs, prefix))
  }

  /** E7 — INCREMENTAL near-dup dedup, the continuous-ingestion mode: a new
    * batch (here doc_id % 10 >= 8 — a deterministic 20% "arrival") is
    * admitted only where it has NO Jaccard>=0.8 near-dup in the existing
    * corpus. The existing side's PPJoin index is a PERSISTENT ARTIFACT —
    * three bucketed parquet tables built once per corpus (prefix postings,
    * shingle df, shingle arrays; see [[ensureIncrementalIndex]]) — so each
    * arriving batch shingles and ranks ONLY ITSELF and joins into the stored
    * index: per-batch cost tracks the batch, not the corpus (the round-5
    * version re-shingled and re-windowed the whole corpus every batch).
    *
    * Prefix soundness across the split: PPJoin's prefix theorem holds for ANY
    * total order applied consistently to both sides. The stored order is
    * (corpus df asc, shingle asc); batch shingles unseen in the corpus rank
    * last (df = +inf) — they cannot match any stored posting anyway, and
    * ranking them last keeps sub-cap corpus shingles in the batch prefixes.
    * The df cap is the same deliberate stop-shingle recall trade as E2,
    * applied identically on both sides (capped shingles dropped before
    * ranking); no-op at test SFs.
    */
  /** The deterministic 20% "arriving batch" split E7 demonstrates with —
    * shared with the perf probe so a split change can't silently desync
    * what the probe measures from what the query runs. */
  private[graft] def incrementalBatchPredicate: Column = col("doc_id") % 10 >= 8

  def incrementalNew(s: SparkSession, d: String): DataFrame = {
    val isNewExpr = incrementalBatchPredicate
    val (oldPrefix, oldDf, oldArrs) = ensureIncrementalIndex(s, d, !isNewExpr)
    val batch = graft.CacheScope.scopedPersist(
      withShingles(Tables.documents(s, d).filter(isNewExpr))
        .select(col("doc_id"), col("shingles"), size(col("shingles")).as("sz")))
    // batch side joins/ranks on the polyHash LONG, mirroring the stored
    // index's keying (see jaccardCore's rationale — the placement path
    // never needs the string, only equality and a consistent order)
    val bpost = batch
      .select(col("doc_id"), col("sz"), explode(col("shingles")).as("sh"))
      .select(col("doc_id"), col("sz"),
        graft.plans.MixHash.polyHashCol(col("sh")).as("h"))
      .join(oldDf, Seq("h"), "left")
      .filter(col("df").isNull || col("df") <= MaxShingleDf)
    val ranked = bpost.withColumn("rk", row_number().over(
      Window.partitionBy(col("doc_id"))
        .orderBy(coalesce(col("df"), lit(Long.MaxValue)), col("h"))))
    val bprefix = ranked.filter(col("rk") <= col("sz") - expr("(4*sz + 4) DIV 5") + 1)
      .select(col("doc_id"), col("h"))
    val cand = bprefix.as("a").join(oldPrefix.as("b"), col("a.h") === col("b.h"))
      .select(col("a.doc_id").as("doc_new"), col("b.doc_id").as("doc_old"))
      .distinct()
    val matched = cand
      .join(batch.select(col("doc_id").as("doc_new"), col("shingles").as("sh_a"), col("sz").as("sz_a")), "doc_new")
      .join(oldArrs.select(col("doc_id").as("doc_old"), col("shingles").as("sh_b"), col("sz").as("sz_b")), "doc_old")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jac", round(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("jac") >= JaccardT)
      .select(col("doc_new").as("doc_id"))
      .distinct()
    val out = batch.select(col("doc_id"))
      .join(matched, Seq("doc_id"), "left_anti")
    graft.CacheScope.releaseAfterUse(out, batch)
  }

  /** Build (once per corpus dir) the E7 corpus-side index: three bucketed
    * parquet tables in the warehouse, the same persistent-artifact pattern as
    * E8's pair table — replayable on executor loss, bucketed on their join
    * keys so the per-batch index-side shuffle is pre-paid at write time.
    * Kept across calls BY DESIGN (the whole point of incremental dedup is
    * that the corpus index is amortized over batches); rebuilt only when
    * absent from the catalog. Returns (prefix postings, shingle df, shingle
    * arrays) as plain table reads.
    */
  private def ensureIncrementalIndex(
      s: SparkSession, d: String, isOld: Column): (DataFrame, DataFrame, DataFrame) = {
    val slug = dirSlug(d)
    // "..h" names: the r18 index keys postings on the polyHash long (schema
    // change) — fresh identifiers so a warehouse left by an older build can
    // never serve the string-keyed layout to this code
    val prefixTbl = s"graft_incr_prefixh_$slug"
    val dfTbl = s"graft_incr_dfh_$slug"
    val arrTbl = s"graft_incr_arrh_$slug"
    val names = Seq(prefixTbl, dfTbl, arrTbl)
    // amortized across batches BY DESIGN, but never across a corpus
    // regeneration: the fingerprint ledger (in-JVM, with the persisted
    // _fingerprint fallback for fresh JVMs) forces a rebuild when
    // documents.parquet changes under an existing catalog entry
    val fp = graft.Artifacts.fingerprint(s, s"$d/documents.parquet")
    if (!names.forall(s.catalog.tableExists) ||
        graft.Artifacts.tableStale(s, prefixTbl, fp)) {
      names.foreach(resetTable(s, _))
      val nb = edgeBuckets(s)
      val old = withShingles(Tables.documents(s, d).filter(isOld))
        .select(col("doc_id"), col("shingles"), size(col("shingles")).as("sz"))
        .persist()
      val postings = old
        .select(col("doc_id"), col("sz"), explode(col("shingles")).as("sh"))
        .select(col("doc_id"), col("sz"),
          graft.plans.MixHash.polyHashCol(col("sh")).as("h"))
      // same window-df + rank shape as E2 (see jaccardPairs for the rationale
      // vs the round-2 object-aggregate form), keyed on the polyHash long
      val withDf = postings
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      val kept = withDf.filter(col("df") <= MaxShingleDf)
      val ranked = kept.withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
      ranked.filter(col("rk") <= col("sz") - expr("(4*sz + 4) DIV 5") + 1)
        .select(col("h"), col("doc_id"))
        .repartition(nb, col("h"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(nb, "h").sortBy("h").saveAsTable(prefixTbl)
      // FULL df table (capped shingles included): the batch side must
      // distinguish corpus-hot shingles (dropped, as the corpus side dropped
      // them) from corpus-unseen ones (ranked last but kept)
      withDf.select(col("h"), col("df")).groupBy(col("h"))
        .agg(max(col("df")).as("df"))
        .repartition(nb, col("h"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(nb, "h").sortBy("h").saveAsTable(dfTbl)
      old.select(col("doc_id"), col("shingles"), col("sz"))
        .repartition(nb, col("doc_id"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(nb, "doc_id").sortBy("doc_id").saveAsTable(arrTbl)
      old.unpersist(blocking = false)
      graft.Artifacts.markTableBuilt(s, prefixTbl, fp)
    }
    (s.table(prefixTbl), s.table(dfTbl), s.table(arrTbl))
  }

  /** E8 — near-dup CLUSTER resolution: connected components over the E2
    * pair graph by alternating large-star/small-star contraction
    * (O(log n) rounds regardless of component shape — see
    * [[propagateMinLabels]]), run to an EXACT star fixpoint. Output: every
    * doc with its cluster id (= min doc_id in its component); dedup keeps
    * the rows where doc_id == cluster_id.
    */
  /** Default bucket count for materialized dedup artifacts (the E8 pair
    * table, the E7 corpus index). Overridable per session via
    * `graft.dedup.edgeBuckets` — at 100 TB the bucket count should track the
    * cluster's parallelism, not a constant.
    */
  val EdgeBucketsDefault = 32

  private[graft] def edgeBuckets(s: SparkSession): Int =
    s.conf.getOption("graft.dedup.edgeBuckets")
      .map(_.toInt).getOrElse(EdgeBucketsDefault)

  /** Warehouse identifier for a data dir. The catalog lowercases identifiers,
    * so the slug is lowercased up front — manual stale-location cleanup and
    * the catalog must agree on the on-disk path (an uppercase dir name would
    * otherwise write to the lowercased location while cleanup deletes the
    * raw-cased one). Single writer per data dir assumed: two concurrent
    * builds against the same dir race on DROP/delete/CTAS.
    */
  private[graft] def dirSlug(d: String): String =
    d.replaceAll("[^A-Za-z0-9]", "_").toLowerCase

  private def warehousePath(s: SparkSession, name: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"), name)

  /** Clear a table and any stale on-disk location a previous JVM left behind
    * (a fresh in-memory catalog doesn't know the table exists, so DROP alone
    * can't reach the files and a CTAS fails with LOCATION_ALREADY_EXISTS).
    */
  private def resetTable(s: SparkSession, tbl: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS `$tbl`")
    val loc = warehousePath(s, tbl)
    loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
  }

  /** Free the block-manager storage behind a `localCheckpoint`ed frame.
    * Dataset.unpersist goes through the CacheManager and does NOT reach
    * these blocks; the checkpointed RDD must be unpersisted directly —
    * otherwise up to 50 rounds of superseded label snapshots sit on
    * executors until driver GC + ContextCleaner get around to them.
    */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Edge-count ceiling for the driver-local CC fast path (below it the
    * pair set is collected and union-found on the driver; above it the
    * distributed bucketed-table iteration runs). 1M edges ≈ 16 MB of longs —
    * comfortably driver-sized; same scale-guard pattern as
    * `graft.embedding.broadcastMaxRows`.
    */
  private[graft] def ccLocalMaxEdges(s: SparkSession): Long =
    s.conf.getOption("graft.dedup.ccLocalMaxEdges").map(_.toLong).getOrElse(1000000L)

  /** Driver-side union-find over a collected edge list: root labels
    * compressed to the MIN doc_id of each component (the same label the
    * distributed iteration converges to).
    */
  private[graft] def unionFindMinLabels(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Edge-list parquet locations built this JVM, keyed by data dir — the E8
    * pair graph is a PERSISTENT ARTIFACT (SURVEY §5): derive the PPJoin
    * pipeline once per corpus, then every clustering run consumes the stored
    * edges. Same build-once pattern as the E7 corpus index and the F3/F5
    * stored ANN indexes.
    */
  private val pairsBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, graft.Artifacts.Built]()

  /** The E2 verified pair set as a STORED per-corpus artifact (doc_a,
    * doc_b, jac): materialized exactly once per (corpus, fingerprint) and
    * scanned by every consumer — E8's clustering AND H17's split-leakage
    * audit read this instead of re-deriving the PPJoin pipeline. A
    * persist+count probe costs MORE than a full materialization (AQE is
    * disabled inside cached subplans) and limit-collect's incremental job
    * waves recompute the expensive verify stage when the limit never
    * saturates; from the parquet, the edge count is a metadata-only footer
    * read at any scale.
    */
  /** Resolve the stored pair artifact to (input fingerprint, location) —
    * ONE fingerprint walk per call, and consumers that derive FURTHER
    * artifacts from the pairs (E8's labels) must key them on THIS
    * fingerprint, not a recomputed one: a corpus regeneration racing
    * between two fingerprint calls would otherwise bind labels built from
    * the old pair generation to the new fingerprint, permanently serving
    * wrong clusters for it.
    */
  private def pairsArtifact(s: SparkSession, d: String): (String, String) = {
    // keyed on (dataset, documents fingerprint): regenerating the corpus in
    // place rebuilds the pair graph instead of serving stale edges
    val pairsFp = graft.Artifacts.fingerprint(s, s"$d/documents.parquet")
    val pairsLocStr = graft.Artifacts.cachedLocation(pairsBuilt, d, pairsFp) { fpv =>
      val (pairsUnsorted, scoped) = jaccardCore(s, d)
      // generation-versioned location: a rebuild after an in-place corpus
      // regeneration must not delete files a lazily-held reader of the OLD
      // generation still references
      val loc = warehousePath(s, s"graft_pairs_${dirSlug(d)}_${fpv}_edges")
      pairsUnsorted.select(col("doc_a"), col("doc_b"), col("jac"))
        .write.mode("overwrite").parquet(loc.toString)
      scoped.foreach(_.unpersist(false))
      loc.toString
    }
    (pairsFp, pairsLocStr)
  }

  private[graft] def pairsParquet(s: SparkSession, d: String): DataFrame =
    s.read.parquet(pairsArtifact(s, d)._2)

  def clusterPairs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"))
      .join(clusterLabelsSparse(s, d), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))

  /** The SPARSE cluster labeling — (doc_id, cluster_id) for vertices that
    * touch a near-dup edge only (an isolated doc is its own cluster by
    * construction: consumers left-join and `coalesce(cluster_id, doc_id)`,
    * as [[clusterPairs]] does). Exposed so a composite that already holds
    * a document frame (H13 v2's keep-best stage) can attach labels without
    * a second documents scan. */
  private[graft] def clusterLabelsSparse(s: SparkSession, d: String): DataFrame = {
    // E2's pair output is derived ONCE PER CORPUS ([[pairsParquet]]); the CC
    // strategy is size-adaptive (the E5 broadcast→grid guard pattern): the
    // edge count is probed from the stored parquet, and below
    // `graft.dedup.ccLocalMaxEdges` the edges are collected and union-found
    // ON THE DRIVER — a near-dup pair graph that fits there gains nothing
    // from 5 rounds of distributed join latency, and the returned frame
    // (a broadcast-ready local label table) is trivially replayable with no
    // checkpoint blocks to manage. Above the threshold (the 100 TB shape)
    // the distributed path below runs.
    val (ccFp, pairsLoc) = pairsArtifact(s, d)
    val pairsPq = s.read.parquet(pairsLoc).select(col("doc_a"), col("doc_b"))
    val nEdges = pairsPq.count() // parquet count-star: footers only
    if (nEdges <= ccLocalMaxEdges(s)) {
      val edges = pairsPq.collect().map(r => (r.getLong(0), r.getLong(1)))
      val labels = unionFindMinLabels(edges).toSeq
      import s.implicits._
      return broadcast(labels.toDF("doc_id", "cluster_id"))
    }
    // Distributed path: the alternating-star contraction consumes the
    // stored E2 pair parquet DIRECTLY — it already is the reliable,
    // replayable per-corpus edge artifact (SURVEY §5), and unlike the old
    // min-label propagation (whose per-round `src` equi-join justified a
    // pre-bucketed copy) the star rounds re-shape the edge set every
    // iteration, so no write-time bucketing can pre-pay their shuffles.
    // The contraction runs over ONLY the vertices that touch an edge — an
    // isolated doc is its own cluster by construction, so the iteration
    // state is bounded by the pair-graph size (tiny vs the corpus:
    // near-dup graphs are sparse), not the corpus.
    //
    // The converged labels parquet follows the SAME per-generation
    // discipline as the pair parquet (keyed on the fingerprint the PAIRS
    // were resolved under — see [[pairsArtifact]] — generation-suffixed
    // dir, build-once per (corpus, fingerprint)): an in-place overwrite
    // per run would yank files out from under a lazily-held frame a
    // previous clusterPairs call returned.
    val labelsLoc = graft.Artifacts.cachedLocation(labelsBuilt, d, ccFp) { fpv =>
      val loc = warehousePath(s, s"graft_pairs_${dirSlug(d)}_${fpv}_labels").toString
      propagateMinLabels(s, pairsPq.toDF("src", "dst"), loc)
      loc
    }
    s.read.parquet(labelsLoc)
  }

  /** Build-once ledger for the distributed-CC labels parquet — same
    * per-(corpus, fingerprint) discipline as [[pairsBuilt]]. */
  private val labelsBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, graft.Artifacts.Built]()

  /** Round cap for the distributed CC iteration (`graft.dedup.ccMaxRounds`,
    * default 50). The alternating star algorithm converges in O(log n)
    * rounds — ~40 rounds covers any graph that fits in a universe of 2^63
    * ids — so 50 is a pure loud-failure backstop against an algorithmic
    * regression, not a knob a real graph should ever need raised. (The
    * previous min-label propagation tracked component DIAMETER: a planted
    * 60-node path legitimately needed 59 rounds and could only fail at any
    * cap; that is the O(log n) rewrite's whole point.)
    */
  private[graft] def ccMaxRounds(s: SparkSession): Int =
    s.conf.getOption("graft.dedup.ccMaxRounds").map(_.toInt).getOrElse(50)

  /** Distributed connected components by ALTERNATING LARGE-STAR/SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — the O(log n)-round algorithm every large-graph
    * system uses for CC), run to the exact star fixpoint; converged labels
    * (doc_id, cluster_id = component-min doc_id) land at `labelsLoc` as
    * parquet. Per round:
    *
    *  - large-star(u): every neighbor v > u re-points to m = min(Γ⁺(u)) —
    *    long chains fold toward their minimum from EVERY node at once,
    *    which is what makes rounds O(log n) instead of O(diameter);
    *  - small-star(u): every neighbor v ≤ u (edges held canonically as
    *    src > dst) re-points to m = min(N(u)) — flattening the partial
    *    trees into stars.
    *
    * Both operations preserve connectivity and never point a node above
    * itself, so the fixpoint is exactly one star per component rooted at
    * its minimum id. Each round is two (groupBy-min + join) passes over the
    * edge set — the same per-round shuffle cost class as the old min-label
    * propagation, with exponentially fewer rounds on chain-shaped graphs
    * (a 60-node path: 59 rounds before, ~6 now — DedupSpec pins it under
    * the default cap). Each round's edge set is localCheckpointed (lineage
    * one round deep, superseded blocks freed eagerly); the labels are
    * written to reliable storage and every checkpoint freed HERE —
    * returning a plan over non-replayable checkpoint blocks was the
    * round-5 correctness hazard. THROWS if the star fixpoint is not
    * reached within [[ccMaxRounds]] — an unconverged exit would silently
    * label one component as several.
    */
  private[graft] def propagateMinLabels(
      s: SparkSession, edges: DataFrame, labelsLoc: String): Unit = {
    val maxRounds = ccMaxRounds(s)

    // canonical edge form: src > dst, self-loops dropped, one row per pair
    def canon(df: DataFrame): DataFrame =
      df.filter(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .distinct()

    // large-star: per node u over the SYMMETRIC neighborhood, re-point
    // every strictly-larger neighbor at m = min(Γ(u) ∪ {u}). m ≤ u < v,
    // so the output is canonical by construction.
    def largeStar(e: DataFrame): DataFrame = {
      val g = e.select(col("src").as("u"), col("dst").as("v"))
        .union(e.select(col("dst").as("u"), col("src").as("v")))
      val mins = g.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      g.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .distinct()
    }

    // small-star: per node u over its smaller neighbors N(u) (canonical
    // input: all dst < src), re-point u and every non-min neighbor at
    // m = min(N(u)). dst > m on every emitted row — canonical again.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val self = mins.select(col("src"), col("m").as("dst"))
      val nbrs = e.join(mins, "src").filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
      self.union(nbrs).distinct()
    }

    var ckpt = canon(edges).localCheckpoint()
    var cnt = ckpt.count()
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = smallStar(largeStar(ckpt)).localCheckpoint()
      val nextCnt = next.count()
      // both sides are distinct row sets: equal counts + empty difference
      // ⇔ identical edge sets ⇔ star fixpoint reached
      converged = nextCnt == cnt && next.except(ckpt).count() == 0
      // `next` is materialized: the superseded round's blocks go NOW, not
      // at some future driver GC
      freeCheckpoint(ckpt)
      ckpt = next
      cnt = nextCnt
      rounds += 1
    }
    if (!converged) {
      freeCheckpoint(ckpt)
      throw new IllegalStateException(
        s"connected-components did not converge in $maxRounds rounds — " +
          "the alternating star contraction is O(log n) rounds, so hitting " +
          "graft.dedup.ccMaxRounds indicates an algorithmic problem (or an " +
          "artificially tiny cap), not a legitimately deep graph")
    }
    // fixpoint edges ARE the labeling: (v, m) per non-root member, plus the
    // roots' self-labels (a root never appears as src in a canonical star)
    val roots = ckpt.select(col("dst")).distinct()
      .select(col("dst").as("doc_id"), col("dst").as("cluster_id"))
    ckpt.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
      .union(roots)
      .write.mode("overwrite").parquet(labelsLoc)
    freeCheckpoint(ckpt)
  }

  // ---- MinHash ----

  private val MinhashBands = 16
  private val MinhashRows = 4  // 16 bands x 4 rows = 64 signature slots

  /** LSH band-bucket skew cap (E3/E4). A crawl-scale corpus is guaranteed to
    * contain mega-clusters — m near-identical documents that land in the SAME
    * bucket of EVERY band, turning the bucket self-join into Θ(m²) candidate
    * pairs per band (the round-5 verdict's one remaining dedup scale hole;
    * E2/E6 already cap their posting lists the same way). Buckets at or under
    * the cap enumerate all pairs as before. An OVERSIZED bucket switches to a
    * star: every member pairs only with the bucket representative (min
    * doc_id) — m-1 candidates, connectivity preserved (for clustering, every
    * member still reaches the rep, and near-identical docs verify against it).
    * Recall trade, documented like MaxShingleDf: non-representative pairs
    * inside an oversized bucket are not emitted by that bucket (a smaller
    * bucket of another band can still emit them). No-op below the cap — test
    * SFs are unchanged. Overridable via `graft.dedup.maxBandBucket`.
    */
  val MaxBandBucketDefault = 1000L

  private[graft] def maxBandBucket(s: SparkSession): Long =
    s.conf.getOption("graft.dedup.maxBandBucket")
      .map(_.toLong).getOrElse(MaxBandBucketDefault)

  /** Attach bucket size (`bn`) and representative (`rep`) per band bucket —
    * via a KEY-SIZED aggregate, not a full-data window: the groupBy shuffles
    * only partial-agg rows (one per distinct bucket), the oversized-key
    * table (rare by construction: at most rows/cap keys) joins back against
    * the band rows with AQE free to broadcast it, and the band rows
    * themselves are never sort-shuffled. Measured ~3x cheaper than the
    * window form at sf0.1 (PERF_NOTES, "Figures from retired probes"), and
    * the win grows with data: at 100 TB the window form would sort-shuffle
    * every band row. Sub-cap rows come back with `bn` null.
    */
  private[graft] def withBucketStats(buckets: DataFrame, keys: Seq[String], rep: Column,
      cap: Long): DataFrame = {
    val big = buckets.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bn"), min(rep).as("rep"))
      .filter(col("bn") > cap)
    buckets.join(big, keys, "left")
  }

  /** E3 — MinHash + LSH banding: 64-slot signature (slot i is the affine
    * permutation of the mixed polynomial base hash — see
    * graft.plans.MixHash; one imperative sketch aggregate, because 64
    * separate min-agg columns codegen a huge class whose recompilation is
    * ~10s whenever it leaves the generated-class cache) -> 16 band keys
    * (the 4 raw slot values — joining on the values instead of a hash of
    * them keeps the SQL oracle exact) -> bucket join -> exact-Jaccard
    * verification of candidates at threshold 0.7. Probabilistic recall
    * (>= 1-(1-t^4)^16, i.e. ~0.9998 at t=0.8); the DedupSpec recall test
    * pins it against the exact E2 pairs, and the DuckDB oracle replays the
    * whole signature/banding pipeline in HUGEINT mod-2^64 arithmetic.
    */
  def minhashPairs(s: SparkSession, d: String): DataFrame =
    minhashPairsOf(s, Tables.documents(s, d))

  /** Frame-based core of E3 — shared by the gate (over the raw table) and
    * the scale-curve report (over derived scaled corpora): ONE banding
    * device, measured at several input sizes. */
  private[graft] def minhashPairsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    val shingled = graft.CacheScope.scopedPersist(withShingles(docs)
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("sz")))
    val postings = shingled
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .withColumn("h", graft.plans.MixHash.polyHashCol(col("sh")))
    val sigs = postings.groupBy(col("doc_id"))
      .agg(graft.plans.SketchAggs.minhash(col("h"), MinhashBands * MinhashRows).as("m"))
    val bandCols = (0 until MinhashBands).map { b =>
      struct(lit(b).as("band"),
        slice(col("m"), b * MinhashRows + 1, MinhashRows).as("bh"))
    }
    // mega-bucket skew cap (see MaxBandBucketDefault): all-pairs only inside
    // sub-cap buckets; oversized buckets emit member→representative stars
    val bandRows = graft.CacheScope.scopedPersist(
      sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band"), col("bk.bh")))
    val buckets = withBucketStats(bandRows, Seq("band", "bh"),
      col("doc_id"), maxBandBucket(s))
    val small = buckets.filter(col("bn").isNull)
      .select(col("doc_id"), col("band"), col("bh"))
    val star = buckets.filter(col("bn").isNotNull && col("doc_id") =!= col("rep"))
      // canonicalize: rep is the bucket MIN so rep < doc_id normally holds,
      // but least/greatest pins the doc_a < doc_b contract the oracle's
      // all-pairs CTE assumes, for any future rep choice. The hash gate
      // itself only holds while no bucket exceeds maxBandBucket (the gate
      // corpus is far below it); past the cap the star path trades
      // member-member pairs for recall-preserving rep stars by design.
      .select(least(col("rep"), col("doc_id")).as("doc_a"),
        greatest(col("rep"), col("doc_id")).as("doc_b"))
    val cand = small.as("a").join(small.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .union(star)
      .distinct()
    val arrs = shingled
    val out = cand
      .join(arrs.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"), col("sz").as("sz_a")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jac", round(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("jac") >= 0.7)
      .select(col("doc_a"), col("doc_b"), col("jac"))
    graft.CacheScope.releaseAfterUse(out, shingled, bandRows)
  }

  /** E12 — MinHash Jaccard ESTIMATION: the property the whole E3 pipeline
    * rests on, surfaced as data — for every banded candidate pair, the
    * 64-slot signature agreement fraction IS an unbiased Jaccard estimate
    * (Broder's theorem: P[min-slot agreement] = J), reported next to the
    * exact value so estimator quality is measurable in-engine (an ablation
    * a corpus team runs before trusting banding thresholds at 100 TB,
    * where exact verification of every candidate is unaffordable). All
    * integer: agreement count via one zip_with fold, both Jaccards in
    * basis points by floor division — hash-exact across engines. Same
    * banded candidate generation as E3 (never all-pairs); the exact side
    * joins the stored shingle arrays only for candidate rows.
    */
  def minhashEstimate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val shingled = graft.CacheScope.scopedPersist(withShingles(docs)
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("sz")))
    val postings = shingled
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .withColumn("h", graft.plans.MixHash.polyHashCol(col("sh")))
    val sigs = graft.CacheScope.scopedPersist(postings.groupBy(col("doc_id"))
      .agg(graft.plans.SketchAggs.minhash(col("h"), MinhashBands * MinhashRows).as("m")))
    val bandCols = (0 until MinhashBands).map { b =>
      struct(lit(b).as("band"),
        slice(col("m"), b * MinhashRows + 1, MinhashRows).as("bh"))
    }
    val bandRows = sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bh"))
    val buckets = withBucketStats(bandRows, Seq("band", "bh"),
      col("doc_id"), maxBandBucket(s))
    val small = buckets.filter(col("bn").isNull)
      .select(col("doc_id"), col("band"), col("bh"))
    val star = buckets.filter(col("bn").isNotNull && col("doc_id") =!= col("rep"))
      // canonicalize: rep is the bucket MIN so rep < doc_id normally holds,
      // but least/greatest pins the doc_a < doc_b contract the oracle's
      // all-pairs CTE assumes, for any future rep choice. The hash gate
      // itself only holds while no bucket exceeds maxBandBucket (the gate
      // corpus is far below it); past the cap the star path trades
      // member-member pairs for recall-preserving rep stars by design.
      .select(least(col("rep"), col("doc_id")).as("doc_a"),
        greatest(col("rep"), col("doc_id")).as("doc_b"))
    val cand = small.as("a").join(small.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .union(star)
      .distinct()
    val out = cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("m").as("ma")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("m").as("mb")), "doc_b")
      .join(shingled.select(col("doc_id").as("doc_a"),
        col("shingles").as("sh_a"), col("sz").as("sz_a")), "doc_a")
      .join(shingled.select(col("doc_id").as("doc_b"),
        col("shingles").as("sh_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("agree", expr(
        "aggregate(zip_with(ma, mb, (x, y) -> CASE WHEN x = y THEN 1L ELSE 0L END), " +
          "0L, (acc, v) -> acc + v)"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("agree"),
        expr(s"(10000 * agree) DIV ${MinhashBands * MinhashRows}")
          .as("est_jaccard_bps"),
        expr("(10000 * inter) DIV (sz_a + sz_b - inter)").as("exact_jaccard_bps"))
    graft.CacheScope.releaseAfterUse(out, shingled, sigs)
  }

  /** E12/H31 shared CTE chain: the E3 oracle's signature replay finished
    * with slot-agreement counts and integer basis-point Jaccards in CTE
    * `est` (doc_a, doc_b, agree, est_jaccard_bps, exact_jaccard_bps).
    */
  private def minhashEstimateCtes: String = {
    import graft.plans.MixHash._
    val n = MinhashBands * MinhashRows
    val slotVal = s"(${sqlMulMod("h", "sa[i+1]")} + sb[i+1]) % $M64"
    s"""${shingleHashCtes()},
    ab AS (SELECT ${sqlSlotA(n)} AS sa, ${sqlSlotB(n)} AS sb),
    slots AS (
      SELECT doc_id, i, MIN(${sqlToSigned(slotVal)}) AS sv
      FROM mh, (SELECT unnest(range($n)) AS i), ab
      GROUP BY doc_id, i),
    sig AS (
      SELECT doc_id, i // $MinhashRows AS band, list(sv ORDER BY i) AS bkey
      FROM slots GROUP BY doc_id, band),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    agr AS (
      SELECT c.doc_a, c.doc_b,
        CAST(SUM(CASE WHEN x.sv = y.sv THEN 1 ELSE 0 END) AS BIGINT) AS agree
      FROM cand c
      JOIN slots x ON x.doc_id = c.doc_a
      JOIN slots y ON y.doc_id = c.doc_b AND y.i = x.i
      GROUP BY c.doc_a, c.doc_b),
    est AS (
      SELECT g.doc_a, g.doc_b, g.agree,
        CAST((10000 * g.agree) // $n AS BIGINT) AS est_jaccard_bps,
        CAST((10000 * len(list_intersect(x.s, y.s)))
          // (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) AS BIGINT)
          AS exact_jaccard_bps
      FROM agr g JOIN shl x ON x.doc_id = g.doc_a
        JOIN shl y ON y.doc_id = g.doc_b)"""
  }

  private def minhashEstimateSql: String = s"""
    WITH $minhashEstimateCtes
    SELECT doc_a, doc_b, agree, est_jaccard_bps, exact_jaccard_bps
    FROM est ORDER BY doc_a, doc_b"""

  /** H31 — DEDUP THRESHOLD SWEEP: the ablation table a corpus team reads
    * before committing to a near-dup cutoff at 100 TB — per candidate
    * threshold (bps), how many banded pairs the EXACT Jaccard admits, how
    * many the cheap signature ESTIMATE admits, and the confusion split
    * (estimator false-positives/negatives vs exact at that cutoff). At
    * production scale the estimate is what you can afford per pair; this
    * table is the evidence for whether it is safe. Built by exploding the
    * E12 frame against the literal threshold list — pair work is done
    * once, the sweep is |thresholds| × |candidates| tiny rows.
    */
  val SweepThresholds: Seq[Int] = Seq(5000, 6000, 7000, 8000, 9000)

  def dedupSweep(s: SparkSession, d: String): DataFrame =
    minhashEstimate(s, d)
      .crossJoin(explodeThresholds(s))
      .groupBy(col("t_bps"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("exact_jaccard_bps") >= col("t_bps"), 1L).otherwise(0L))
          .as("n_exact"),
        sum(when(col("est_jaccard_bps") >= col("t_bps"), 1L).otherwise(0L))
          .as("n_est"),
        sum(when(col("est_jaccard_bps") >= col("t_bps") &&
          col("exact_jaccard_bps") < col("t_bps"), 1L).otherwise(0L))
          .as("n_false_pos"),
        sum(when(col("est_jaccard_bps") < col("t_bps") &&
          col("exact_jaccard_bps") >= col("t_bps"), 1L).otherwise(0L))
          .as("n_false_neg"))

  private def explodeThresholds(s: SparkSession): DataFrame = {
    import s.implicits._
    SweepThresholds.map(_.toLong).toDF("t_bps")
  }

  private def dedupSweepSql: String = s"""
    WITH $minhashEstimateCtes,
    th AS (SELECT unnest([${SweepThresholds.mkString(", ")}])::BIGINT AS t_bps)
    SELECT t_bps, COUNT(*) AS n_candidates,
      CAST(SUM(CASE WHEN exact_jaccard_bps >= t_bps THEN 1 ELSE 0 END) AS BIGINT)
        AS n_exact,
      CAST(SUM(CASE WHEN est_jaccard_bps >= t_bps THEN 1 ELSE 0 END) AS BIGINT)
        AS n_est,
      CAST(SUM(CASE WHEN est_jaccard_bps >= t_bps AND exact_jaccard_bps < t_bps
        THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
      CAST(SUM(CASE WHEN est_jaccard_bps < t_bps AND exact_jaccard_bps >= t_bps
        THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
    FROM est CROSS JOIN th
    GROUP BY t_bps ORDER BY t_bps"""

  // ---- SimHash ----

  /** E4 — 64-bit SimHash with 4x16-bit band blocking, hamming radius 3.
    * Sign-sum per bit over shingle hashes in ONE imperative sketch aggregate
    * (graft.plans.SimHashAgg — same codegen-size rationale as MinHashAgg);
    * candidates must agree on at least one 16-bit band (guaranteed for
    * hamming <= 3 by pigeonhole), verified with bit_count(xor).
    */
  def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val postings = withShingles(Tables.documents(s, d))
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .withColumn("h", graft.plans.MixHash.polyHashCol(col("sh")))
    // sims feeds exactly one consumer (bandRows, itself persisted), so no
    // persist here — a persist would only add a materialization barrier
    val sims = postings.groupBy(col("doc_id"))
      .agg(graft.plans.SketchAggs.simhash(col("h")).as("simhash"))
    // mega-bucket skew cap, same shape as minhashPairs; the star branch needs
    // the representative's SIMHASH too, so the key-sized aggregate takes
    // min(struct(doc_id, simhash)) — lexicographic struct min = the min
    // doc_id's row
    val bandRows = sims.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bv"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.bv"))
      .transform(graft.CacheScope.scopedPersist)
    val banded = withBucketStats(bandRows, Seq("band", "bv"),
      struct(col("doc_id"), col("simhash")), maxBandBucket(s))
    val small = banded.filter(col("bn").isNull)
      .select(col("doc_id"), col("simhash"), col("band"), col("bv"))
    val star = banded.filter(col("bn").isNotNull && col("doc_id") =!= col("rep.doc_id"))
      .select(col("rep.doc_id").as("doc_a"), col("doc_id").as("doc_b"),
        col("rep.simhash").as("sim_a"), col("simhash").as("sim_b"))
    val out = small.as("a").join(small.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
      .union(star)
      .distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    graft.CacheScope.releaseAfterUse(out, bandRows)
  }

  /** E6 — winnowing-fingerprint near-dup (SURVEY D5 applied to dedup): docs
    * sharing >= `MinSharedFrac` of the smaller doc's winnow fingerprints.
    * Same inverted-index shape as E2 but over constant-size fingerprint sets
    * (winnowing samples ~2/(w+1) of k-gram hashes), so the index is ~5x
    * smaller than full shingle postings at the same recall for long overlaps.
    */
  val MinSharedFrac = 0.5
  /** Stop-fingerprint cut: fingerprints appearing in more than this many
    * docs carry no dedup signal but quadratic join cost — df-capped postings
    * bound every posting list, the standard skew control for fingerprint
    * indexes. At k=24 fingerprints are distinctive enough that the cap is a
    * pure scale guard (no-op at test SFs: max df is far below it).
    */
  val MaxFingerprintDf = 1000

  /** Fingerprint geometry: k=24 chars (~4 words) per k-gram, window 12.
    * Shorter k-grams (k=8) degenerate on small vocabularies: every
    * fingerprint is corpus-common and precision collapses.
    */
  val WinnowK = 24
  val WinnowW = 12

  def winnowPairs(s: SparkSession, d: String): DataFrame = {
    // the winnow expression is the expensive part: round-1's plan recomputed
    // it SIX times (df-count, join-back, sizes). Now the df cap and the
    // posting list come out of ONE bounded aggregate (same BoundedPostingsAgg
    // as E2) and per-doc sizes out of a window — the corpus is scanned and
    // winnowed exactly once, and a hot fingerprint can't skew the agg buffer.
    val raw = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.plans.Winnow.winnow(col("text"), WinnowK, WinnowW)).as("fp"))
    val postings = raw.groupBy(col("fp"))
      .agg(graft.plans.SketchAggs.boundedPostings(
        col("doc_id"), lit(0), MaxFingerprintDf).as("dps"))
      .select(col("fp"), explode(col("dps.ps")).as("p"))
      .select(col("p.doc_id").as("doc_id"), col("fp"))
    val withN = graft.CacheScope.scopedPersist(postings
      .withColumn("nfp", count(lit(1)).over(Window.partitionBy(col("doc_id")))))
    val out = withN.as("a").join(withN.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.nfp").as("nfp_a"), col("b.nfp").as("nfp_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= least(col("nfp_a"), col("nfp_b")) * MinSharedFrac)
      .withColumn("share_frac", round(col("shared").cast("double") /
        least(col("nfp_a"), col("nfp_b")), 6))
      .select(col("doc_a"), col("doc_b"), col("share_frac"))
    graft.CacheScope.releaseAfterUse(out, withN)
  }

  // ---- Embedding cosine ----

  private def dotCol(a: String, b: String): Column =
    graft.plans.DotProduct.dot(col(a), col(b))

  /** Embeddings with doubled vectors and precomputed norms (codegen'd native
    * dot product — see graft.plans.DotProduct).
    */
  def withNorm(e: DataFrame): DataFrame =
    e.withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(graft.plans.DotProduct.dot(col("v"), col("v"))))

  /** E5 (declarative form) — block nested-loop join; kept as the reference
    * implementation for the equality spec. The query key binds to
    * [[embeddingPairs]], the packed path.
    */
  def embeddingPairsDeclarative(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d)).select(col("vec_id"), col("v"), col("nrm"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", round(dotCol("a.v", "b.v") / (col("a.nrm") * col("b.nrm")), 6))
      .filter(col("cos") >= 0.4)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Chunk count for the packed all-pairs kernel: the corpus block is
    * deserialized once per chunk (not once per row), so chunks ≈ 2x cores
    * keeps every core busy with O(chunks) total block decodes.
    */
  private val EmbeddingChunks = 64

  /** Row threshold above which [[embeddingPairsPacked]]'s corpus-block
    * broadcast is unsafe (200k rows x 64 doubles ~= 110 MB packed, plus row
    * overhead — comfortably inside an executor, uncomfortably beyond it at
    * 10x). Overridable per session via `graft.embedding.broadcastMaxRows`
    * (the spec uses this to pin the switchover).
    */
  val EmbeddingBroadcastMaxRowsDefault = 200000L

  private def embeddingBroadcastMaxRows(s: SparkSession): Long =
    s.conf.getOption("graft.embedding.broadcastMaxRows")
      .map(_.toLong).getOrElse(EmbeddingBroadcastMaxRowsDefault)

  /** E5 — embedding-cosine near-dup pairs (threshold 0.4), exact, with an
    * automatic scale guard: corpora whose row count fits
    * [[embeddingBroadcastMaxRows]] take the packed broadcast-block kernel
    * (cheapest at small n); anything larger degrades gracefully to the
    * grid-blocked kernel — same exact semantics, no broadcast, bounded
    * per-task memory — instead of OOMing the broadcast (round-2 verdict
    * item #6). The count is parquet-metadata cheap. Callers that want
    * approximate-at-scale instead of exact use graft.similarity.Ann's LSH
    * candidates + verify.
    */
  def embeddingPairs(s: SparkSession, d: String): DataFrame =
    if (Tables.embeddings(s, d).count() <= embeddingBroadcastMaxRows(s))
      embeddingPairsPacked(s, d)
    else embeddingPairsGrid(s, d)

  /** E5 small-n kernel — exact all-pairs on the packed path: the corpus
    * block (vec_id-sorted packed structs) is built by an executor-side
    * collect_list aggregate and shipped by a planner BroadcastExchange — NO
    * driver-side collect anywhere in the plan (round-1 fix). Each row chunk
    * streams against the upper triangle of the block — same n^2/2 flops as
    * the BNL join, none of the per-pair row machinery. Valid while the block
    * fits a broadcast; [[embeddingPairs]] guards that.
    */
  private[graft] def embeddingPairsPacked(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = withNorm(Tables.embeddings(s, d)).select(col("vec_id"), col("v"), col("nrm"))
    // whole corpus as ONE sorted packed row; sort_array orders struct rows by
    // the leading field (vec_id) so the kernel's ascending-id iteration — and
    // therefore its float accumulation order — matches the old packed path
    val blockDf = e.agg(
      sort_array(collect_list(struct(col("vec_id"), col("v"), col("nrm")))).as("block"))
    // hash the chunk key: structured vec_ids (strided/all-even) would skew
    // raw modulo chunks; assignment doesn't affect results (pairs are
    // computed independently), only task balance
    val chunks = e.groupBy(pmod(xxhash64(col("vec_id")), lit(EmbeddingChunks)).as("chunk"))
      .agg(collect_list(struct(col("vec_id"), col("v"), col("nrm"))).as("rows"))
    val out = chunks.join(broadcast(blockDf))
      .select(col("rows"), col("block"))
      .as[(Array[(Long, Array[Double], Double)], Array[(Long, Array[Double], Double)])]
      .flatMap { case (rows, block) =>
        rows.iterator.flatMap { case (ida, va, na) =>
          block.iterator
            .filter(_._1 > ida)
            .flatMap { case (idb, vb, nb) =>
              var acc = 0.0
              var j = 0
              while (j < va.length) { acc += va(j) * vb(j); j += 1 }
              val raw = acc / (na * nb)
              // round(x,6) >= 0.4 requires x >= 0.3999995, so a 0.39999
              // double guard is strictly conservative: the expensive
              // BigDecimal HALF_UP round runs only for pairs near/above
              // threshold instead of all n^2/2 (bit-identical results)
              if (raw >= 0.39999) {
                val cos = BigDecimal(raw)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                if (cos >= 0.4) Some((ida, idb, cos)) else None
              } else None
            }
        }
      }.toDF("vec_a", "vec_b", "cos")
    out
  }

  /** E5 large-n kernel — exact all-pairs WITHOUT a broadcast: the corpus is
    * hashed into G = ceil(n / broadcastMaxRows) packed blocks (each no
    * bigger than the broadcast bound), each unordered block pair (i <= j)
    * becomes one equi-join row, and the pair kernel streams block i against
    * block j's upper triangle. Communication is the known-optimal
    * O(data x sqrt(tasks)) triangle-replication shape for distributed exact
    * all-pairs: each block is shipped ~G times, per-task memory is two
    * blocks, and G grows with n so neither ever exceeds the bound. The inner
    * loop is byte-identical to the packed kernel (same ascending-id
    * iteration, same double guard, same HALF_UP rounding), so the two paths
    * are bit-equal — spec-pinned.
    */
  private[graft] def embeddingPairsGrid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = withNorm(Tables.embeddings(s, d)).select(col("vec_id"), col("v"), col("nrm"))
    val g = math.max(2L,
      (Tables.embeddings(s, d).count() + embeddingBroadcastMaxRows(s) - 1)
        / embeddingBroadcastMaxRows(s)).toInt
    // block assignment hashes the id (not pmod of the raw value): structured
    // id spaces — all-even ids, strided ids — would concentrate rows into few
    // pmod classes and blow a block past broadcastMaxRows, defeating the
    // per-task memory bound this kernel exists to enforce. Any disjoint
    // assignment is correct (pairs are min/max-ordered and per-pair
    // arithmetic is block-independent), so the hash changes no results.
    val blocks = e.groupBy(pmod(xxhash64(col("vec_id")), lit(g)).as("cid"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("v"), col("nrm")))).as("rows"))
    // explode each block to the (ci, cj) grid keys it participates in, then
    // equi-join — never a nested-loop join, which would re-broadcast a side
    val left = blocks.select(col("cid").as("ci"),
      explode(sequence(col("cid"), lit(g - 1))).as("cj"), col("rows").as("ra"))
    val right = blocks.select(explode(sequence(lit(0), col("cid"))).as("ci"),
      col("cid").as("cj"), col("rows").as("rb"))
    val out = left.join(right, Seq("ci", "cj"))
      .select(col("ra"), col("rb"), (col("ci") === col("cj")).as("diag"))
      .as[(Array[(Long, Array[Double], Double)], Array[(Long, Array[Double], Double)], Boolean)]
      .flatMap { case (ra, rb, diag) =>
        // diagonal block: upper triangle only (ra == rb, so idb > ida visits
        // each unordered pair once). Cross blocks: ids are disjoint by the
        // block assignment, so EVERY (a, b) is a distinct pair — visit all of them
        // and order the emitted ids (the interleaved hash means either side
        // can hold the smaller id).
        ra.iterator.flatMap { case (ida, va, na) =>
          rb.iterator
            .filter(r => !diag || r._1 > ida)
            .flatMap { case (idb, vb, nb) =>
              var acc = 0.0
              var j = 0
              while (j < va.length) { acc += va(j) * vb(j); j += 1 }
              val raw = acc / (na * nb)
              if (raw >= 0.39999) {
                val cos = BigDecimal(raw)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                if (cos >= 0.4)
                  Some((math.min(ida, idb), math.max(ida, idb), cos))
                else None
              } else None
            }
        }
      }.toDF("vec_a", "vec_b", "cos")
    out
  }

  /** E10 — cross-document boilerplate-paragraph removal (the FineWeb/CCNet
    * line-dedup rule at paragraph granularity): a paragraph occurring in
    * more than `BoilerPct`% of documents is boilerplate (cookie banners,
    * subscribe prompts, footers) and is dropped from EVERY document — unlike
    * H14's keep-first span dedup, which preserves one copy. The corpus has
    * no paragraph structure by construction, so the gate PLANTS it: a
    * subscribe banner in 5 row-varying flavors (~20% of docs each → hot), a
    * cookie notice on every 2nd doc (~50% → hot), 20-word body chunks
    * (unique → kept), and a per-source footer (5% of docs → exactly AT the
    * strictly-greater threshold → kept, pinning the boundary in both
    * engines).
    *
    * Scale shape: explode (bounded ×paras-per-doc) → distinct(para,doc) →
    * map-side-combined count per para; the hot set is ≤ 100·paras-per-doc
    * rows REGARDLESS of corpus size (pigeonhole: instances/threshold), so
    * it broadcasts back, and the per-doc re-agg never shuffles paragraph
    * text — only (doc_id, flag, length). The doc-count scalar is a 1-row
    * broadcast attach. Never all-pairs, never a corpus-sized collect.
    */
  val BoilerPct = 5 // hot iff n_docs * (100/BoilerPct) > total_docs

  val BoilerChunk = 20

  private def boilerParas: Column = concat(
    array(concat(lit("subscribe to newsletter variant "),
      pmod(col("doc_id"), lit(5L)).cast("string"), lit(" read more"))),
    when(col("doc_id") % 2 === 0, array(lit("click here to accept cookies")))
      .otherwise(array().cast("array<string>")),
    // zero-word guard (r10 advice item 1): Spark's (-1) DIV 20 truncates to
    // 0 and would emit one empty-string chunk for an empty/whitespace-only
    // doc, while the oracle's floor division yields range(0) and emits none
    // — both engines must emit ZERO chunks for an empty word array
    expr(s"CASE WHEN size(ws) > 0 THEN " +
      s"transform(sequence(0, (size(ws) - 1) DIV $BoilerChunk), " +
      s"k -> concat_ws(' ', slice(ws, k * $BoilerChunk + 1, $BoilerChunk))) " +
      s"ELSE CAST(array() AS ARRAY<STRING>) END"),
    array(concat(lit("all rights reserved by "), col("source"), lit(" terms apply"))))

  def dedupBoilerplate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val paras = docs
      .withColumn("ws", TextFunctions.words(col("text")))
      .select(col("doc_id"), explode(boilerParas).as("para"))
    val total = docs.agg(count(lit(1)).as("nt"))
    val freq = paras.select(col("para"), col("doc_id")).distinct()
      .groupBy(col("para")).agg(count(lit(1)).as("nd"))
    val hot = freq.crossJoin(broadcast(total))
      .filter(col("nd") * (100 / BoilerPct) > col("nt"))
      .select(col("para"), lit(1).as("hot"))
    paras.join(broadcast(hot), Seq("para"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(coalesce(col("hot").cast("long"), lit(0L))).as("n_removed"),
        sum(when(col("hot").isNull, length(col("para"))).otherwise(0L)).as("kept_chars"))
  }

  val dedupBoilerplateSql: String = s"""
    WITH d AS (SELECT doc_id, source,
        list_filter(str_split(text, ' '), w -> w <> '') AS ws
      FROM documents),
    p AS (
      SELECT doc_id,
        'subscribe to newsletter variant ' || (doc_id % 5) || ' read more' AS para
      FROM d
      UNION ALL
      SELECT doc_id, 'click here to accept cookies' FROM d WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, array_to_string(ws[blk * $BoilerChunk + 1 : blk * $BoilerChunk + $BoilerChunk], ' ')
      FROM (SELECT doc_id, ws,
              unnest(range(((len(ws) - 1) // $BoilerChunk) + 1)) AS blk
            FROM d)
      UNION ALL
      SELECT doc_id, 'all rights reserved by ' || source || ' terms apply' FROM d),
    f AS (SELECT para, COUNT(DISTINCT doc_id) AS nd FROM p GROUP BY 1),
    n AS (SELECT COUNT(*) AS nt FROM documents)
    SELECT doc_id, COUNT(*) AS n_paras,
      CAST(SUM(CASE WHEN f.nd * ${100 / BoilerPct} > n.nt THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      CAST(SUM(CASE WHEN f.nd * ${100 / BoilerPct} > n.nt THEN 0 ELSE length(p.para) END) AS BIGINT) AS kept_chars
    FROM p JOIN f USING (para) CROSS JOIN n
    GROUP BY doc_id ORDER BY doc_id"""

  /** E11 — URL-canonicalization dedup: the crawl-side dedup that runs
    * BEFORE any content is fetched or compared (CCNet/Common-Crawl
    * curation: most duplicates are the same page re-crawled under scheme/
    * case/tracking-param/fragment variations). The gate PLANTS 5 docs per
    * canonical page, each mutated differently (http vs https, host case,
    * utm tracking params, #fragment, trailing slash) and canonicalizes:
    * lowercase → strip fragment → strip query → scheme-normalize → strip
    * trailing slash. Keep-first by doc_id within each canonical key.
    *
    * Shape: the canonicalizer is a fused per-row regexp chain (no shuffle),
    * then ONE canonical-keyed map-side-combined agg — at crawl scale this
    * is a hash shuffle on the canonical URL, the cheapest possible dedup
    * key, and the reason every pipeline runs it first: it removes the bulk
    * of duplicates at string cost, before any fingerprint/minhash money is
    * spent.
    */
  private def plantRawUrl: Column = concat(
    when(col("doc_id") % 2 === 0, lit("https")).otherwise(lit("http")),
    lit("://"),
    when(col("doc_id") % 3 === 0, lit("Site")).otherwise(lit("site")),
    pmod(col("doc_id"), lit(40L)).cast("string"),
    lit(".Example.org/page/"), pmod(col("doc_id"), lit(100L)).cast("string"),
    when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
    when(col("doc_id") % 4 < 2, lit("?utm_source=feed&utm_campaign=x")).otherwise(lit("")),
    when(col("doc_id") % 7 === 0, lit("#sec1")).otherwise(lit("")))

  private val plantRawUrlSql: String = """
        CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END || '://' ||
        CASE WHEN doc_id % 3 = 0 THEN 'Site' ELSE 'site' END || (doc_id % 40) ||
        '.Example.org/page/' || (doc_id % 100) ||
        CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
        CASE WHEN doc_id % 4 < 2 THEN '?utm_source=feed&utm_campaign=x' ELSE '' END ||
        CASE WHEN doc_id % 7 = 0 THEN '#sec1' ELSE '' END"""

  def canonicalizeUrl(u: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(u), "#.*$", ""),
          "\\?.*$", ""),
        "^https:", "http:"),
      "/$", "")

  def canonicalizeUrlSql(x: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       lower($x), '#.*$$', '', 'g'), '\\?.*$$', '', 'g'),
       '^https:', 'http:'), '/$$', '', 'g')"""

  def dedupUrlCanonical(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), plantRawUrl.as("url"))
      .select(col("doc_id"), col("url"), canonicalizeUrl(col("url")).as("canonical"))
      .groupBy(col("canonical"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("url")).as("n_variants"),
        min(col("doc_id")).as("kept_doc"))

  val dedupUrlCanonicalSql: String = s"""
    WITH u AS (
      SELECT doc_id, $plantRawUrlSql AS url FROM documents),
    c AS (SELECT doc_id, url, ${canonicalizeUrlSql("url")} AS canonical FROM u)
    SELECT canonical, COUNT(*) AS n_docs,
      COUNT(DISTINCT url) AS n_variants, MIN(doc_id) AS kept_doc
    FROM c GROUP BY canonical ORDER BY canonical"""

  /** H37 — CROSS-SOURCE duplication matrix (round-12): which sources copy
    * from which — the crawl-curation table behind "drop mirror domains"
    * decisions (a pair of sources sharing many near-dup documents is a
    * mirror or a syndication feed; FineWeb/CCNet prune those at the source
    * list, before any per-document work). Aggregates the E2 exact-Jaccard
    * pair frame (the same gated operator, reused) through the doc→source
    * mapping into an unordered source-pair matrix — pairs-sized input,
    * |sources|²-bounded output. Same-source rows (the diagonal) are
    * INTERNAL duplication; off-diagonal rows are the mirrors.
    */
  def dupMatrix(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    jaccardPairs(s, d)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  private def dupMatrixSql: String = s"""
    WITH $jaccardPairsCtes,
    m AS (
      SELECT LEAST(da.source, db.source) AS source_a,
             GREATEST(da.source, db.source) AS source_b
      FROM jp
      JOIN documents da ON da.doc_id = jp.doc_a
      JOIN documents db ON db.doc_id = jp.doc_b)
    SELECT source_a, source_b, COUNT(*) AS n_pairs
    FROM m GROUP BY 1, 2 ORDER BY 1, 2"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_dup_matrix" -> dupMatrix _,
    "text_winnow_fingerprint" -> winnowFingerprints _,
    "dedup_url_canonical" -> dedupUrlCanonical _,
    "dedup_boilerplate" -> dedupBoilerplate _,
    "dedup_exact" -> dedupExact _,
    "dedup_jaccard_pairs" -> jaccardPairs _,
    "dedup_incremental" -> incrementalNew _,
    "dedup_clusters" -> clusterPairs _,
    "dedup_minhash" -> minhashPairs _,
    "dedup_minhash_estimate" -> minhashEstimate _,
    "corpus_dedup_sweep" -> dedupSweep _,
    "dedup_simhash" -> simhashPairs _,
    "dedup_winnow" -> winnowPairs _,
    "dedup_embedding" -> embeddingPairs _
  )

  /** SQL twin of the Winnow expression (plans/Winnow.scala): the base-257
    * polynomial rolling hash with natural 64-bit wraparound is replayed as a
    * direct polynomial sum in HUGEINT mod 2^64, mapped back to signed BIGINT
    * (Spark Longs are two's complement), then window-MIN winnowing. The
    * rightmost-min POSITION rule doesn't affect the selected VALUE set, so
    * distinct window minima reproduce the fingerprint set exactly. Both
    * sides iterate code points (Winnow.codePoints / DuckDB ord+substring),
    * so the replay is exact for any Unicode corpus.
    */
  /** The winnowing SELECTION replay (c/hpos/win/sel CTEs; `sel` = the
    * per-doc DISTINCT fingerprint set) — shared by the E6 pair gate and
    * the D5 fingerprint gate so the two replays cannot drift. */
  private def winnowSelCtes: String = {
    val m64 = BigInt(1) << 64
    val pows = (0 until WinnowK).map(j => BigInt(257).modPow(BigInt(WinnowK - 1 - j), m64))
    val powsSql = pows.map(p => s"$p::HUGEINT").mkString("[", ",", "]")
    s"""c AS (SELECT $powsSql AS pows),
    hpos AS (
      SELECT doc_id, i,
        CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                  THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT) AS fp
      FROM (
        SELECT doc_id, i,
          list_sum(list_transform(range($WinnowK), j ->
            CAST(ord(substring(text, CAST(i + j + 1 AS INT), 1)) AS HUGEINT) * pows[j + 1]))
            % 18446744073709551616::HUGEINT AS u
        FROM (SELECT doc_id, text, unnest(range(length(text) - ${WinnowK - 1})) AS i
              FROM documents WHERE length(text) >= $WinnowK), c)),
    win AS (
      SELECT doc_id, i, fp,
        MIN(fp) OVER (PARTITION BY doc_id ORDER BY i
          ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS wm,
        COUNT(*) OVER (PARTITION BY doc_id) AS m
      FROM hpos),
    sel AS (
      SELECT DISTINCT doc_id, wm AS fp FROM win WHERE m > $WinnowW AND i <= m - $WinnowW
      UNION
      SELECT doc_id, MIN(fp) AS fp FROM win WHERE m <= $WinnowW GROUP BY doc_id)"""
  }

  private def winnowOracleSql: String = s"""
    WITH $winnowSelCtes,
    sizes AS (SELECT doc_id, COUNT(*) AS nfp FROM sel GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS sh
      FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT da AS doc_a, db AS doc_b,
      ROUND(CAST(sh AS DOUBLE) / LEAST(na.nfp, nb.nfp), 6) AS share_frac
    FROM shared
    JOIN sizes na ON na.doc_id = da
    JOIN sizes nb ON nb.doc_id = db
    WHERE sh >= LEAST(na.nfp, nb.nfp) * $MinSharedFrac
    ORDER BY doc_a, doc_b"""

  /** D5 as a CORRECTNESS-GATED query (round-12; previously spec-only): the
    * per-document winnowing fingerprint set itself — count, extremes, and
    * md5 of the sorted fingerprint list — replayed by the SAME selection
    * CTEs as the E6 pair gate. This is the document-fingerprint artifact a
    * MOSS-style overlap system stores per document.
    */
  def winnowFingerprints(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(length(col("text")) >= WinnowK)
      .select(col("doc_id"),
        explode(graft.plans.Winnow.winnow(col("text"), WinnowK, WinnowW)).as("fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"), min(col("fp")).as("min_fp"),
        max(col("fp")).as("max_fp"),
        expr("md5(array_join(transform(array_sort(collect_list(fp)), " +
          "x -> cast(x as string)), ','))").as("fp_md5"))

  private def winnowFingerprintsSql: String = s"""
    WITH $winnowSelCtes
    SELECT doc_id, COUNT(*) AS n_fp, MIN(fp) AS min_fp, MAX(fp) AS max_fp,
      md5(array_to_string(list(CAST(fp AS VARCHAR) ORDER BY fp), ',')) AS fp_md5
    FROM sel GROUP BY doc_id ORDER BY doc_id"""

  /** Shared CTE prefix: distinct 3-word shingles per doc (same split the
    * green jaccard oracle uses), exploded, then the mixed polynomial hash
    * replayed in HUGEINT mod 2^64 (see MixHash.sqlMixedCtes).
    */
  private def shingleHashCtes(src: String = "documents", p: String = ""): String = {
    s"""${p}w AS (SELECT doc_id, str_split(text,' ') AS ws FROM $src),
    ${p}shl AS (
      SELECT doc_id,
        list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                       for i in range(1, len(ws) - 1)]) AS s
      FROM ${p}w WHERE len(ws) >= 3),
    ${p}post AS (SELECT doc_id, unnest(s) AS sh FROM ${p}shl),
    ${graft.plans.MixHash.sqlMixedCtes(s"${p}post", "sh", Seq("doc_id"), s"${p}mh")}"""
  }

  /** The E3 replay as a parameterized CTE chain ending in `${p}mhp`
    * (doc_a, doc_b, jac): affine 64-slot signature, 16x4 banding, bucket
    * join, exact-Jaccard verification. Pure integer arithmetic until the
    * final (rounded) jaccard. Prefixed so one statement can replay banding
    * over several sources (the scale-curve oracle runs it per scale). */
  private[graft] def minhashPairsCtes(src: String = "documents", p: String = ""): String = {
    import graft.plans.MixHash._
    val slotVal = s"(${sqlMulMod("h", "sa[i+1]")} + sb[i+1]) % $M64"
    s"""${shingleHashCtes(src, p)},
    ${p}ab AS (SELECT ${sqlSlotA(MinhashBands * MinhashRows)} AS sa,
                  ${sqlSlotB(MinhashBands * MinhashRows)} AS sb),
    ${p}slots AS (
      SELECT doc_id, i, MIN(${sqlToSigned(slotVal)}) AS sv
      FROM ${p}mh, (SELECT unnest(range(${MinhashBands * MinhashRows})) AS i), ${p}ab
      GROUP BY doc_id, i),
    ${p}sig AS (
      SELECT doc_id, i // $MinhashRows AS band, list(sv ORDER BY i) AS bkey
      FROM ${p}slots GROUP BY doc_id, band),
    ${p}cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ${p}sig a JOIN ${p}sig b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    ${p}mhp AS (
      SELECT c.doc_a, c.doc_b,
        ROUND(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
              / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6) AS jac
      FROM ${p}cand c
      JOIN ${p}shl x ON x.doc_id = c.doc_a JOIN ${p}shl y ON y.doc_id = c.doc_b
      WHERE ROUND(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
              / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6) >= 0.7)"""
  }

  /** Full SQL twin of minhashPairs — the parameterized chain over the raw
    * documents table. */
  private def minhashOracleSql: String = s"""
    WITH ${minhashPairsCtes()}
    SELECT doc_a, doc_b, jac FROM mhp ORDER BY doc_a, doc_b"""

  /** Full SQL twin of simhashPairs: per-bit sign sums over the mixed shingle
    * hashes, 4x16-bit banding, hamming<=3 verification. All-integer.
    */
  private def simhashOracleSql: String = {
    import graft.plans.MixHash._
    val p2 = (0 until 64).map(j => s"${BigInt(1) << j}::HUGEINT").mkString("[", ",", "]")
    val pb = (0 until 4).map(b => s"${BigInt(1) << (16 * b)}::HUGEINT").mkString("[", ",", "]")
    s"""
    WITH ${shingleHashCtes()},
    pw AS (SELECT $p2 AS p),
    bits AS (
      SELECT doc_id, j,
        SUM(CASE WHEN ((h // p[j+1]) % 2) = 1 THEN 1 ELSE -1 END) AS sgn
      FROM mh, (SELECT unnest(range(64)) AS j), pw
      GROUP BY doc_id, j),
    sim0 AS (
      SELECT doc_id,
        SUM(CASE WHEN sgn >= 0 THEN p[j+1] ELSE 0::HUGEINT END) AS usim
      FROM bits, pw GROUP BY doc_id),
    sim AS (SELECT doc_id, usim, ${sqlToSigned("usim")} AS sh64 FROM sim0),
    pbw AS (SELECT $pb AS pb),
    banded AS (
      SELECT doc_id, sh64, b, (usim // pb[b+1]) % 65536::HUGEINT AS bv
      FROM sim, (SELECT unnest(range(4)) AS b), pbw),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.sh64 AS sim_a, b.sh64 AS sim_b
      FROM banded a JOIN banded b
        ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b)) AS hamming
    FROM cand
    WHERE bit_count(xor(sim_a, sim_b)) <= 3
    ORDER BY doc_a, doc_b"""
  }

  /** DuckDB oracles. Every E-key now has a full SQL twin: the probabilistic
    * paths (MinHash/SimHash) are replayed bit-exactly because the hashing is
    * integer arithmetic mod 2^64 (MixHash), the same trick as the winnow
    * oracle.
    */
  /** Shared E2 oracle fragments: 3-gram shingle sets (`sh`) and the
    * Jaccard ≥ [[JaccardT]] canonical pair list (`jp(doc_a, doc_b, jac)`).
    * Written ONCE and composed by both the E2 oracle and downstream
    * auditors (H17's split-leakage twin) — a threshold or shingle change
    * here cannot silently desynchronize a composing oracle.
    */
  val jaccardPairsCtes: String = {
    val jac = """ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 6)"""
    s"""sh AS (
        SELECT doc_id,
          list_distinct([str_split(text,' ')[i] || ' ' || str_split(text,' ')[i+1] || ' ' || str_split(text,' ')[i+2]
                         for i in range(1, len(str_split(text,' ')) - 1)]) AS shingles
        FROM documents
        WHERE len(str_split(text,' ')) >= 3),
      jp AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $jac AS jac
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE $jac >= $JaccardT)"""
  }

  val oracles: Map[String, String] = Map(
    "dedup_url_canonical" -> dedupUrlCanonicalSql,
    "dedup_boilerplate" -> dedupBoilerplateSql,
    "dedup_winnow" -> winnowOracleSql,
    "dedup_minhash" -> minhashOracleSql,
    "dedup_minhash_estimate" -> minhashEstimateSql,
    "corpus_dedup_sweep" -> dedupSweepSql,
    "dedup_simhash" -> simhashOracleSql,
    "dedup_exact" -> s"""
      SELECT ${TextFunctions.fingerprintSql("text")} AS fp,
        MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY keep_id""",
    "dedup_jaccard_pairs" ->
      s"WITH $jaccardPairsCtes SELECT doc_a, doc_b, jac FROM jp ORDER BY doc_a, doc_b",
    "corpus_dup_matrix" -> dupMatrixSql,
    "text_winnow_fingerprint" -> winnowFingerprintsSql,
    // connected components via a recursive transitive-closure CTE: tractable
    // because near-dup components are tiny at oracle SF
    "dedup_clusters" -> """
      WITH RECURSIVE
      w AS (SELECT doc_id, str_split(text,' ') AS ws FROM documents),
      sh AS (
        SELECT doc_id,
          list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                         for i in range(1, len(ws) - 1)]) AS s
        FROM w WHERE len(ws) >= 3),
      e AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        WHERE ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.8),
      reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src)
      SELECT a AS doc_id, MIN(b) AS cluster_id
      FROM reach GROUP BY a ORDER BY doc_id""",
    "dedup_incremental" -> """
      WITH w AS (SELECT doc_id, str_split(text,' ') AS ws FROM documents),
      sh AS (
        SELECT doc_id,
          list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                         for i in range(1, len(ws) - 1)]) AS s
        FROM w WHERE len(ws) >= 3),
      matched AS (
        SELECT DISTINCT n.doc_id
        FROM sh n JOIN sh o
          ON n.doc_id % 10 >= 8 AND o.doc_id % 10 < 8
        WHERE ROUND(CAST(len(list_intersect(n.s, o.s)) AS DOUBLE)
                / (len(n.s) + len(o.s) - len(list_intersect(n.s, o.s))), 6) >= 0.8)
      SELECT doc_id FROM documents
      WHERE doc_id % 10 >= 8 AND doc_id NOT IN (SELECT doc_id FROM matched)
      ORDER BY doc_id""",
    "dedup_embedding" -> """
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
      ORDER BY vec_a, vec_b"""
  )
}
