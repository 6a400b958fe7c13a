package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import graft.dedup.Dedup
import graft.similarity.Ann

class DedupSpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Library outputs are unsorted (terminal sorts were a single-task scale
    * hazard); order-sensitive comparisons canonicalize on the id pair.
    */
  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
    df.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))

  test("url canonicalization folds every planted variation and conserves docs") {
    import org.apache.spark.sql.functions._
    val out = Dedup.dedupUrlCanonical(SparkSpecBase.spark, sf).collect()
    val total = graft.operators.Tables.documents(SparkSpecBase.spark, sf).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == total, "dedup must conserve docs")
    out.foreach { r =>
      val c = r.getAs[String]("canonical")
      // canonical grammar: normalized scheme/case, no query/fragment/slash
      assert(c.startsWith("http://site"), c)
      assert(!c.contains("#") && !c.contains("?") && !c.endsWith("/"), c)
      assert(c == c.toLowerCase, c)
      // keep-first: doc_ids are dense from 0 and the canonical key is a
      // doc_id%200 residue class, so every kept doc must be its residue
      assert(r.getAs[Long]("kept_doc") < 200, s"kept ${r.getAs[Long]("kept_doc")} not first")
    }
    // the plant actually exercises folding: some canonical has >1 raw variant
    assert(out.exists(_.getAs[Long]("n_variants") > 1), "no variant folding — vacuous")
    assert(out.exists(_.getAs[Long]("n_docs") > 1), "no url-level duplicates — vacuous")
  }

  test("boilerplate dedup removes exactly the hot planted paras, keeps the at-threshold footer") {
    import org.apache.spark.sql.functions._
    val out = Dedup.dedupBoilerplate(SparkSpecBase.spark, sf)
    val docs = graft.operators.Tables.documents(SparkSpecBase.spark, sf)
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.words(col("text"))).as("nw"))
    val joined = out.join(docs, "doc_id").collect()
    assert(joined.length == docs.count())
    joined.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val chunks = (r.getAs[Int]("nw") - 1) / Dedup.BoilerChunk + 1
      val planted = if (id % 2 == 0) 3 else 2 // banner + footer (+ cookie on evens)
      assert(r.getAs[Long]("n_paras") == chunks + planted, s"doc $id para count")
      // banner (20% of docs) and cookie (50%) are hot; the 5%-of-docs footer
      // sits exactly AT the strictly-greater threshold and must survive
      val expectRemoved = if (id % 2 == 0) 2L else 1L
      assert(r.getAs[Long]("n_removed") == expectRemoved,
        s"doc $id removed ${r.getAs[Long]("n_removed")}, expected $expectRemoved")
      assert(r.getAs[Long]("kept_chars") > 0)
    }
  }

  test("boilerplate dedup emits zero body chunks for empty/whitespace-only docs") {
    // r10 advice item 1: Spark's (-1) DIV 20 truncates to 0 — unguarded, an
    // empty word array produced one empty-string chunk while the oracle's
    // floor division produced none (a latent hash-gate flip)
    import SparkSpecBase.spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft-boiler-empty").toString
    Seq((1L, "", "web"), (2L, "   ", "web"),
      (3L, "twenty one words here " * 5 + "end", "web"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val out = Dedup.dedupBoilerplate(SparkSpecBase.spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_paras")).toMap
    // planted paras only for the empty docs: banner + footer, + cookie on
    // evens — NO body chunk
    assert(out(1L) == 2L, s"empty doc: ${out(1L)} paras, expected 2")
    assert(out(2L) == 3L, s"whitespace doc: ${out(2L)} paras, expected 3")
    // non-empty doc keeps its chunk count: 21 words -> 2 chunks + banner +
    // footer (odd doc_id: no cookie para)
    assert(out(3L) == 4L, s"normal doc: ${out(3L)} paras, expected 4")
  }

  test("jaccard prefix-filter pairs match brute-force at threshold") {
    // brute force over the same shingles, computed locally
    val docs = Dedup.withShingles(graft.operators.Tables.documents(spark, sf))
      .select("doc_id", "shingles").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val brute = (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      inter = sa.intersect(sb).size
      jac = inter.toDouble / (sa.size + sb.size - inter)
      if BigDecimal(jac).setScale(6, BigDecimal.RoundingMode.HALF_UP) >= 0.8
    } yield (a, b)).toSet
    assert(pairs(Dedup.jaccardPairs(spark, sf)) == brute)
    assert(brute.nonEmpty)  // planted near-dups must exist
  }

  test("incremental dedup: survivors = new docs minus cross-split jaccard matches") {
    // cross-check against E2's full pair set: a NEW doc (id%10>=8) is
    // rejected iff it appears in a jaccard>=0.8 pair whose other side is OLD
    val allPairs = Dedup.jaccardPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val matchedNew = allPairs.flatMap { case (a, b) =>
      val (na, nb) = (a % 10 >= 8, b % 10 >= 8)
      Seq(a -> (na && !nb), b -> (nb && !na)).collect { case (id, true) => id }
    }.toSet
    val newDocs = graft.operators.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 10 >= 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = Dedup.incrementalNew(spark, sf).collect().map(_.getLong(0)).toSet
    assert(matchedNew.nonEmpty)  // the split must actually reject something
    assert(got == newDocs -- matchedNew)
  }

  test("cluster resolution matches local union-find over the pair graph") {
    val ps = Dedup.jaccardPairs(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    ps.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    val got = Dedup.clusterPairs(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (doc, c) => assert(c == find(doc), s"doc $doc: got $c want ${find(doc)}") }
    assert(got.values.toSet.size < got.size)  // at least one non-trivial cluster
  }

  test("minhash candidates recall the exact jaccard>=0.8 pairs") {
    val exact = pairs(Dedup.jaccardPairs(spark, sf))
    val mh = pairs(Dedup.minhashPairs(spark, sf))
    // minhash verifies at 0.7, so exact-at-0.8 pairs must all appear
    assert(exact.subsetOf(mh), s"missed: ${exact.diff(mh)}")
  }

  test("simhash finds the planted near-dup pairs and is symmetric-free") {
    val sh = Dedup.simhashPairs(spark, sf).collect()
    assert(sh.forall(r => r.getLong(0) < r.getLong(1)))
    assert(sh.nonEmpty)
    assert(sh.forall(r => r.getInt(2) >= 0 && r.getInt(2) <= 3))
  }

  test("winnow pairs recall the exact jaccard>=0.8 pairs") {
    val exact = pairs(Dedup.jaccardPairs(spark, sf))
    val wn = pairs(Dedup.winnowPairs(spark, sf))
    assert(exact.subsetOf(wn), s"missed: ${exact.diff(wn)}")
  }

  test("embedding pairs are deterministic across runs") {
    val a = sortedRows(Dedup.embeddingPairs(spark, sf))
    val b = sortedRows(Dedup.embeddingPairs(spark, sf))
    assert(a == b && a.nonEmpty)
  }

  test("packed embedding pairs == declarative BNL pairs, bit for bit") {
    val fast = sortedRows(Dedup.embeddingPairs(spark, sf))
    val decl = Dedup.embeddingPairsDeclarative(spark, sf).collect().toSeq
    assert(fast == decl && fast.nonEmpty)
  }

  test("grid embedding kernel == packed kernel, bit for bit") {
    val grid = sortedRows(Dedup.embeddingPairsGrid(spark, sf))
    val packed = sortedRows(Dedup.embeddingPairsPacked(spark, sf))
    assert(grid == packed && grid.nonEmpty)
  }

  test("embedding scale guard: above broadcastMaxRows the plan drops the corpus-block broadcast") {
    // default (500 rows << 200k): packed kernel — its signature is the
    // UNCONDITIONED broadcast of the whole-corpus block (a global aggregate
    // joined with no condition => BroadcastNestedLoopJoin), which is exactly
    // the thing that cannot survive past broadcast size
    val packed = Dedup.embeddingPairs(spark, sf)
    assert(packed.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    // pin the switchover: force the threshold below the corpus size and the
    // SAME entry point must plan the grid kernel — an equi-join on block-pair
    // keys whose only broadcasts (if any) are AQE's own size-guarded choices
    spark.conf.set("graft.embedding.broadcastMaxRows", "100")
    try {
      val grid = Dedup.embeddingPairs(spark, sf)
      assert(!grid.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
      assert(sortedRows(grid) == sortedRows(packed))
    } finally spark.conf.unset("graft.embedding.broadcastMaxRows")
  }

  test("mips cascade: exact-recall, and the IP ordering genuinely diverges from cosine") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // exact weighted-IP brute force, independently of the cascade
    val v = graft.dedup.Dedup.withNorm(graft.operators.Tables.embeddings(spark, sf))
      .select(col("vec_id"),
        transform(col("v"), x =>
          x * (lit(1.0) + pmod(col("vec_id"), lit(7L)).cast("double") / lit(4.0))).as("v"))
    val q = v.filter(col("vec_id") < Ann.NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = v.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("ip", round(graft.plans.DotProduct.dot(col("qv"), col("v")), 6))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("ip").desc, col("vec_id"))))
      .filter(col("r") <= Ann.TopK)
      .select(col("qid"), col("vec_id").as("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Ann.mipsTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val recall = exact.intersect(got).size.toDouble / exact.size
    assert(recall >= 0.9, s"mips cascade recall = $recall (1.0 measured)")
    // the planted norms make IP rank differently than cosine for most queries
    val ipTop1 = Ann.mipsTopK(spark, sf).filter(col("rank") === 1).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toMap
    val cosTop1 = Ann.bruteTopK(spark, sf).filter(col("rank") === 1).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toMap
    val diverged = ipTop1.count { case (k, n) => cosTop1.get(k).exists(_ != n) }
    assert(diverged >= 30, s"only $diverged/100 top-1s diverge — MIPS degenerate")
  }

  test("binary cascade: recall >= 0.6 vs exact and codes stay below 2^32") {
    import org.apache.spark.sql.functions._
    val brute = Ann.bruteTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bin = Ann.binaryTopK(spark, sf).collect()
    val binSet = bin.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val recall = brute.intersect(binSet).size.toDouble / brute.size
    // deterministic (sign bits + integer hamming): 0.625 measured at this sf
    assert(recall >= 0.6, s"binary-cascade recall@10 = $recall")
    // rerank output carries the hamming evidence and a valid rank sequence
    bin.groupBy(_.getAs[Long]("qid")).values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rs.length))
    }
    // 32-bit packing discipline: no word may reach the BIGINT sign bit
    val e = graft.dedup.Dedup.withNorm(graft.operators.Tables.embeddings(spark, sf))
    val words = e.select(col("vec_id"), col("v"))
      .withColumn("w",
        expr("aggregate(sequence(0,31), 0L, (a, i) -> a + IF(element_at(v, i+1) > 0D, shiftleft(1L, i), 0L))"))
    val mx = words.agg(max(col("w"))).head.getLong(0)
    assert(mx < (1L << 32) && mx > 0)
  }

  test("lsh ann recall beats scanned-fraction by >=2x (the LSH property)") {
    // On near-uniform synthetic vectors no hash family gets high absolute
    // recall; the honest claim is recall per unit of scanned corpus.
    val brute = Ann.bruteTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    val n = graft.operators.Tables.embeddings(spark, sf).count().toDouble
    // expected scanned fraction per query: tables * probes / buckets
    val scanned = Ann.LshTables * (Ann.LshPlanes + 1) / math.pow(2, Ann.LshPlanes)
    assert(recall >= 2 * scanned && recall > 0.1,
      s"recall@10 = $recall, scanned fraction ~= $scanned, n = $n")
  }

  test("F21 sampled-training IVF: recall within band of full training, index genuinely differs") {
    val full = Ann.annRecallReport(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sampled = Ann.ivfSampledRecall(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sampled.keySet == full.keySet && sampled.size == Ann.NumQueries)
    val fullHits = full.values.sum
    val smpHits = sampled.values.sum
    // the stated band: 10% training loses less than half the recall
    // (measured: 331 vs 447 hits at sf0.001 — 74%)
    assert(2 * smpHits >= fullHits,
      s"sampled-training recall $smpHits < half of full-training $fullHits")
    assert(smpHits > 0, "sampled index found nothing — vacuous")
    // and training on the sample actually changed the index: per-query
    // hits must differ somewhere (identical reports would mean the conf
    // path silently trained on the full corpus)
    assert(full.exists { case (q, h) => sampled(q) != h },
      "sampled report identical to full — sampling path not exercised")
  }

  test("packed-vector brute force == declarative brute force, bit for bit") {
    val fast = Ann.bruteTopK(spark, sf).collect().toSeq
    val decl = Ann.bruteTopKDeclarative(spark, sf).collect().toSeq
    assert(fast == decl && fast.nonEmpty)
  }

  test("F7 heap-shortlist cascade == declarative windowed cascade, bit for bit") {
    // the round-10 verdict port: stage 1 through the bounded-heap device
    // must reproduce the per-qid window winnow exactly (same Long MACs,
    // same HALF_UP 6 dp, same (score desc, nid) order)
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getInt(2))
    val fast = Ann.rerankTopK(spark, sf).collect().toSeq.sortBy(key)
    val decl = Ann.rerankTopKDeclarative(spark, sf).collect().toSeq.sortBy(key)
    assert(fast == decl && fast.nonEmpty)
  }

  test("packed paths are invariant to input partitioning") {
    // the per-partition heap/triangle logic must not depend on row placement.
    // The source table is a single-row-group parquet (always ONE non-empty
    // scan partition regardless of split confs), so write a genuinely
    // multi-file copy and run against that.
    val root = tempDir("graft-parts").toString
    graft.operators.Tables.embeddings(spark, sf)
      .repartition(7)
      .write.parquet(s"$root/embeddings.parquet")
    val base = Ann.bruteTopK(spark, sf).collect().toSeq
    val split = Ann.bruteTopK(spark, root).collect().toSeq
    assert(split == base && base.nonEmpty)
    val basePairs = sortedRows(Dedup.embeddingPairs(spark, sf))
    val splitPairs = sortedRows(Dedup.embeddingPairs(spark, root))
    assert(splitPairs == basePairs && basePairs.nonEmpty)
  }

  test("clusterPairs output is replayable: a second action on the same frame succeeds") {
    // round-5 regression: the returned frame freed its non-replayable
    // checkpoint blocks on FIRST use, so a caller's count()+collect() on the
    // same DataFrame failed with missing blocks. Both CC paths must survive
    // any number of actions (small: broadcast local labels; distributed:
    // parquet labels).
    for (forceDistributed <- Seq(false, true)) {
      if (forceDistributed) spark.conf.set("graft.dedup.ccLocalMaxEdges", "0")
      try {
        val df = Dedup.clusterPairs(spark, sf)
        val n = df.count()
        val rows = df.collect()
        assert(rows.length == n && n > 0)
        assert(df.count() == n)
      } finally spark.conf.unset("graft.dedup.ccLocalMaxEdges")
    }
  }

  test("CC star contraction folds the planted 60-node path under the default cap") {
    // a path graph is the worst case for the old min-label propagation (the
    // min travels ONE hop per round: 59 rounds, > the 50-round cap — it
    // could only fail loudly). The alternating large-star/small-star
    // contraction must fold it in O(log n) rounds, well under the default
    // cap, with the same min-rooted labels.
    import SparkSpecBase.spark.implicits._
    val n = 60L
    val edges = (0L until n - 1)
      .flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("src", "dst")
    val loc = tempDir("graft-cc").toString + "/labels"
    Dedup.propagateMinLabels(spark, edges, loc) // default cap: must converge
    val labels = spark.read.parquet(loc).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == n && labels.forall(_._2 == 0L),
      "single component must converge to one label")
    // the loud-failure backstop survives the rewrite: an artificially tiny
    // cap must throw, never silently emit a half-contracted labeling
    spark.conf.set("graft.dedup.ccMaxRounds", "1")
    try {
      val e = intercept[IllegalStateException](
        Dedup.propagateMinLabels(spark, edges,
          tempDir("graft-cc2").toString + "/labels"))
      assert(e.getMessage.contains("did not converge"))
    } finally spark.conf.unset("graft.dedup.ccMaxRounds")
  }

  test("clusterPairs small and distributed CC paths emit identical labels") {
    val small = Dedup.clusterPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    spark.conf.set("graft.dedup.ccLocalMaxEdges", "0")
    try {
      val dist = Dedup.clusterPairs(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(dist == small && small.nonEmpty)
    } finally spark.conf.unset("graft.dedup.ccLocalMaxEdges")
  }

  test("edgeBuckets session conf is respected and result-invariant") {
    assert(Dedup.edgeBuckets(spark) == Dedup.EdgeBucketsDefault)
    // force the distributed path so the bucket conf actually engages
    spark.conf.set("graft.dedup.ccLocalMaxEdges", "0")
    try {
      val base = Dedup.clusterPairs(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      spark.conf.set("graft.dedup.edgeBuckets", "8")
      assert(Dedup.edgeBuckets(spark) == 8)
      val alt = Dedup.clusterPairs(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(alt == base)
    } finally {
      spark.conf.unset("graft.dedup.edgeBuckets")
      spark.conf.unset("graft.dedup.ccLocalMaxEdges")
    }
  }

  test("minhash/simhash mega-bucket cap bounds candidates to a star (planted mega-cluster)") {
    // 5000 identical docs land in the SAME bucket of every band: uncapped,
    // the band self-join enumerates 16 x 5000^2/2 candidate pairs — the LSH
    // mega-bucket blowup. Capped, each oversized bucket emits member->rep
    // stars: exactly n-1 verified pairs, all anchored at the representative.
    val root = tempDir("graft-mega").toString
    val s = spark
    import s.implicits._
    val n = 5000
    (0L until n).map(i => (i, "the same exact document text repeated verbatim for the planted mega cluster"))
      .toDF("doc_id", "text").write.parquet(s"$root/documents.parquet")
    spark.conf.set("graft.dedup.maxBandBucket", "100")
    try {
      val mh = Dedup.minhashPairs(spark, root).collect()
      assert(mh.length == n - 1, s"minhash candidates not star-bounded: ${mh.length}")
      assert(mh.forall(r => r.getLong(0) == 0L && r.getDouble(2) == 1.0))
      val sh = Dedup.simhashPairs(spark, root).collect()
      assert(sh.length == n - 1, s"simhash candidates not star-bounded: ${sh.length}")
      assert(sh.forall(r => r.getLong(0) == 0L && r.getInt(2) == 0))
    } finally spark.conf.unset("graft.dedup.maxBandBucket")
  }

  /** The E7 index tables `df`'s plan reads. */
  private def incrIndexTables(df: org.apache.spark.sql.DataFrame) =
    servedTables(df).filter(_.identifier.table.startsWith("graft_incr_"))

  test("incremental dedup scans the persisted corpus index and skips rebuilds") {
    val df1 = Dedup.incrementalNew(spark, sf)
    val r1 = df1.collect().map(_.getLong(0)).toSet
    val tbls = incrIndexTables(df1)
    assert(tbls.size == 3 && tbls.forall(t => spark.catalog.tableExists(t.identifier.table)),
      "index tables not materialized")
    // the query plan consumes the stored index (plain table scans), not a
    // re-shingled corpus: the only documents scan is the batch side
    val plan = Dedup.incrementalNew(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("graft_incr_prefix") && plan.contains("graft_incr_arr")
      && plan.contains("graft_incr_df"), "plan does not scan the stored index")
    // a second run must NOT rebuild the artifact (mtimes in its generation
    // directory untouched)...
    val gen = java.nio.file.Paths.get(tbls.head.location).getParent
    def mtimes() = {
      val files = java.nio.file.Files.walk(gen)
      try files.iterator().asScala.toSeq
        .map(f => f.toString -> java.nio.file.Files.getLastModifiedTime(f).toMillis).sorted
      finally files.close()
    }
    val before = mtimes()
    val r2 = Dedup.incrementalNew(spark, sf).collect().map(_.getLong(0)).toSet
    assert(mtimes() == before, "index was rebuilt on a second batch run")
    // ...and the answer is stable across runs
    assert(r2 == r1 && r1.nonEmpty)
  }

  test("flipping graft.dedup.edgeBuckets serves an E7 index with that bucket count") {
    def run(): (Int, Set[Long]) = {
      val df = Dedup.incrementalNew(spark, sf)
      val prefix = incrIndexTables(df).map(_.identifier.table)
        .filter(_.startsWith("graft_incr_prefix"))
      assert(prefix.size == 1, s"served prefix tables: $prefix")
      val buckets = spark.sql(s"DESCRIBE TABLE EXTENDED `${prefix.head}`").collect()
        .collectFirst { case r if r.getString(0) == "Num Buckets" => r.getString(1).trim.toInt }
      (buckets.getOrElse(fail(s"${prefix.head} is not bucketed")),
        df.collect().map(_.getLong(0)).toSet)
    }
    val (b32, r32) = run()
    assert(b32 == Dedup.EdgeBucketsDefault)
    spark.conf.set("graft.dedup.edgeBuckets", "4")
    try {
      val (b4, r4) = run()
      assert(b4 == 4, s"the index built under ${Dedup.EdgeBucketsDefault} buckets was served")
      assert(r4 == r32)
    } finally spark.conf.unset("graft.dedup.edgeBuckets")
  }

  test("clusterPairs leaves no persisted or checkpointed blocks behind") {
    // clusterPairs localCheckpoints per-round label snapshots and persists
    // E2 intermediates; all of it must be explicitly freed — a long-lived
    // session accumulating superseded checkpoint blocks is a storage leak
    // spark.catalog.clearCache() cannot fix.
    def drained(): Boolean = {
      // releases ride the listener bus (async) — poll up to 15 s
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline) {
        if (spark.sparkContext.getPersistentRDDs.isEmpty) return true
        Thread.sleep(100)
      }
      spark.sparkContext.getPersistentRDDs.isEmpty
    }
    spark.catalog.clearCache()
    assert(drained(), "pre-existing persistent RDDs did not drain")
    for (forceDistributed <- Seq(false, true)) {
      if (forceDistributed) spark.conf.set("graft.dedup.ccLocalMaxEdges", "0")
      try {
        val n = Dedup.clusterPairs(spark, sf).count()
        assert(n > 0)
        assert(drained(),
          s"leaked blocks (distributed=$forceDistributed): " +
            spark.sparkContext.getPersistentRDDs.values.map(_.name).mkString(", "))
      } finally spark.conf.unset("graft.dedup.ccLocalMaxEdges")
    }
  }

  test("ivf ann returns k results per query with sane ranks") {
    val rows = Ann.ivfTopK(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    assert(byQ.values.forall(rs => rs.map(_.getInt(2)).sorted.sameElements(1 to rs.length)))
  }

  test("int8-quantized topk keeps recall@10 >= 0.9 vs exact float") {
    // quantization to 8 bits perturbs cosines by ~1/127 per coordinate pair;
    // on any realistic embedding distribution that reorders only near-ties,
    // so the quantized ranking must recover (nearly) all exact neighbors.
    val brute = Ann.bruteTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Ann.quantizedTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(quant).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall@10 = $recall")
  }

  test("rerank topk strictly improves on quantized recall and orders exactly") {
    // stage 2 rescoring with exact cosines fixes quantization near-tie
    // swaps, so rerank recall@10 must dominate the pure-int8 ranking's
    val brute = Ann.bruteTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Ann.quantizedTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rr = Ann.rerankTopK(spark, sf).collect()
    val rrSet = rr.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallQ = brute.intersect(quant).size.toDouble / brute.size
    val recallR = brute.intersect(rrSet).size.toDouble / brute.size
    assert(recallR >= recallQ, s"rerank $recallR < quantized $recallQ")
    assert(recallR >= 0.95, s"recall@10 = $recallR")
    // within each query the emitted scores are the EXACT cosines, descending
    rr.groupBy(_.getLong(0)).values.foreach { rows =>
      val scores = rows.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("semantic dedup: no survivor pair in a cell matches; drops justified") {
    import org.apache.spark.sql.functions._
    val corpus = graft.operators.Tables.embeddings(spark, sf)
    val all = corpus.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val kept = Ann.semanticDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    val keptIds = kept.map(_._1).toSet
    assert(keptIds.subsetOf(all) && keptIds.size < all.size,
      "some vectors must be dropped at tau=0.4 on this corpus")
    def cos(a: (Array[Double], Double), b: (Array[Double], Double)): Double = {
      var acc = 0.0; var j = 0
      while (j < a._1.length) { acc += a._1(j) * b._1(j); j += 1 }
      BigDecimal(acc / (a._2 * b._2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val vecs = graft.dedup.Dedup.withNorm(corpus)
      .select(col("vec_id"), col("v"), col("nrm")).collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Double](1).toArray, r.getDouble(2))))
      .toMap
    // the drop rule guarantees NO two survivors in the same cell match at
    // >= SemTau (the smaller-id one would have killed the larger)
    kept.groupBy(_._2).values.foreach { cellRows =>
      val ids = cellRows.map(_._1).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length)
        assert(cos(vecs(ids(i)), vecs(ids(j))) < Ann.SemTau,
          s"survivors ${ids(i)},${ids(j)} still match in one cell")
    }
    // necessary condition for every drop: SOME smaller-id vector matches
    // at >= SemTau (its cell-mate witness is a subset of this global check)
    val dropped = (all -- keptIds).toSeq.sorted
    dropped.foreach { b =>
      assert(all.exists(a => a < b && cos(vecs(a), vecs(b)) >= Ann.SemTau),
        s"dropped $b has no smaller-id near-duplicate at all")
    }
  }

  test("pq adc cascade: valid ranks, honest recall, exact scores, stable replay") {
    val brute = Ann.bruteTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Ann.pqTopK(spark, sf).collect()
    val byQ = pq.groupBy(_.getLong(0))
    // dense 1..k ranks per query
    assert(byQ.values.forall(rs => rs.map(_.getInt(2)).sorted.sameElements(1 to rs.length)))
    // PQ is LOSSY by design — the honest claim is that the ADC winnow +
    // exact rerank recovers most exact neighbors (vs the ~8% a random
    // 40-candidate winnow would catch at this corpus size). Measured 0.905
    // at 16 subspaces x 32 codewords; pinned with headroom.
    val recall = brute.intersect(
      pq.map(r => (r.getLong(0), r.getLong(1))).toSet).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall@10 = $recall")
    // emitted scores are the EXACT cosines, descending within each query
    byQ.values.foreach { rows =>
      val scores = rows.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    // integer ADC + fixed-point tables: a rerun is bit-identical
    val again = Ann.pqTopK(spark, sf).collect().map(_.toSeq).toSet
    assert(again == pq.map(_.toSeq).toSet)
    println(s"PQ-ADC recall@10 vs exact: $recall")
  }

  test("packed int8 topk is bit-identical to the declarative int8 join form") {
    // same guarantee as F1's packed/declarative pair: the mapPartitions
    // heap path must reproduce the join+window form exactly — same integer
    // dot, same HALF_UP 6dp rounding, same (rcos desc, nid asc) ranking.
    val packed = Ann.quantizedTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted
    val decl = Ann.quantizedTopKDeclarative(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted
    assert(packed.sameElements(decl))
  }

  test("ivf ann recall@10 beats the scanned fraction by >=2x at nprobe=2") {
    // same honest claim as the LSH spec: centroid routing must find
    // substantially more true neighbors than scanning a random nprobe/cells
    // fraction of the corpus would.
    val brute = Ann.bruteTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    val scanned = 2.0 / Ann.IvfCells
    assert(recall >= 2 * scanned && recall > 0.1,
      s"recall@10 = $recall, scanned fraction ~= $scanned (${Ann.IvfCells} cells)")
  }

  test("F16 recall curve: recall monotone in nprobe, scanned fraction strictly grows") {
    val rows = Ann.annRecallCurve(spark, sf).collect()
      .map(r => (r.getAs[Int]("nprobe"), r.getAs[Long]("recall_bps"),
        r.getAs[Long]("n_scanned"), r.getAs[Long]("scanned_bps")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Ann.RecallCurveNprobes)
    // recall monotone nondecreasing (a theorem: a global top-k member ranks
    // in the top-k of any candidate set containing it)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2, s"recall dropped ${a._1}→${b._1}: ${a._2} → ${b._2}")
      assert(b._3 > a._3, s"scanned rows did not grow ${a._1}→${b._1}")
    }
    // the curve must discriminate: endpoints differ, and half the cells
    // (nprobe=8 of 16) must recall well above the nprobe=1 point
    assert(rows.last._2 > rows.head._2, "flat curve — sweep vacuous")
    // recall at every point beats random scanning (the F3 spec's claim,
    // now across the whole curve)
    rows.foreach { case (np, recallBps, _, scannedBps) =>
      assert(recallBps > scannedBps,
        s"nprobe=$np: recall $recallBps bps <= scanned $scannedBps bps")
    }
  }

  test("F15 ivfpq cascade: subset of IVF-cell candidates, recall tracks the pure-IVF bound") {
    val ivfpq = Ann.ivfpqTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")))
    assert(ivfpq.nonEmpty)
    // every returned neighbor must come from the query's routed cells —
    // i.e. appear in the pure-IVF candidate set at the same nprobe (the
    // full ivf ranking, not just its top-k)
    val ivfFull = Ann.ivfTopK(spark, sf) // nprobe=2 topk for recall compare
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Ann.bruteTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rIvf = brute.intersect(ivfFull).size.toDouble / brute.size
    val rIvfpq = brute.intersect(ivfpq.toSet).size.toDouble / brute.size
    // PQ coding loses a little vs exact scoring inside the same cells, but
    // the ADC winnow (RerankCand=40 of ~2 cells) + exact rerank must hold
    // most of the pure-IVF recall — and can never exceed it by more than
    // rerank-order noise (same candidate universe)
    assert(rIvfpq >= 0.8 * rIvf && rIvfpq > 0.1,
      s"ivfpq recall $rIvfpq vs ivf $rIvf — ADC cascade lost the cells' signal")
    assert(rIvfpq <= rIvf + 1e-9,
      s"ivfpq recall $rIvfpq exceeds its candidate universe's bound $rIvf")
  }

  test("F17 matryoshka recall: full-dim identity, truncation pays, accounting exact") {
    val rows = Ann.matryoshkaRecall(spark, sf).collect()
      .map(r => (r.getAs[Int]("n_dims"), r.getAs[Long]("n_hits"),
        r.getAs[Long]("recall_bps"))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Ann.MatryoshkaDims)
    // d = 64 is the SAME scoring as brute: recall must be exactly 1.0
    assert(rows.last._3 == 10000L, s"full-dim recall ${rows.last._3} != 10000")
    // truncation on non-MRL synthetic embeddings must cost recall
    assert(rows.head._3 < rows.last._3, "8-dim prefix recalled everything — vacuous")
    rows.foreach { case (dm, hits, bps) =>
      assert(bps == 10000 * hits / (Ann.NumQueries.toLong * Ann.TopK),
        s"d=$dm: bps $bps inconsistent with hits $hits")
    }
  }

  test("F18 gram matrix: local replay exact, diagonal positive, triangle complete") {
    val g = Ann.embGramMatrix(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getAs[Long]("gram_units")).toMap
    val dim = Ann.GramDim
    assert(g.size == dim * (dim + 1) / 2, s"${g.size} entries")
    // independent replay: collect the vectors and accumulate units locally
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("transform(embedding, x -> cast(x as double)) AS v")
      .collect().map(_.getSeq[Double](0).toArray)
    val ref = Array.ofDim[Long](dim, dim)
    vecs.foreach { v =>
      val u = v.map(x => graft.plans.ScaledLong.scale(x, graft.plans.GramAgg.Scale))
      for (i <- 0 until dim; j <- i until dim) ref(i)(j) += u(i) * u(j)
    }
    for (i <- 0 until dim; j <- i until dim)
      assert(g((i, j)) == ref(i)(j), s"gram($i,$j): ${g((i, j))} vs ${ref(i)(j)}")
    (0 until dim).foreach(i => assert(g((i, i)) > 0, s"zero diagonal at $i"))
  }

  test("H37 dup matrix: pair conservation, canonical source order, cross-source rows") {
    val pairs = graft.dedup.Dedup.ops("dedup_jaccard_pairs").run(spark, sf).count()
    val m = graft.dedup.Dedup.dupMatrix(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n_pairs")))
    assert(m.nonEmpty && m.map(_._3).sum == pairs, "pair mass not conserved")
    m.foreach { case (a, b, n) => assert(a <= b && n > 0) }
    assert(m.map(t => (t._1, t._2)).distinct.length == m.length)
  }

  test("filtered ann: every neighbor shares the query's label, k respected") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Ann.filteredTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (qid, label, nid, rank) =>
      assert(label == e(qid), s"result label $label != query label ${e(qid)}")
      assert(e(nid) == e(qid), s"neighbor $nid crosses the label filter")
      assert(rank >= 1 && rank <= Ann.FilteredTopK && nid != qid)
    }
    // the filter must actually bite: some query's unfiltered top-1 neighbor
    // (from brute) carries a different label
    val brute1 = Ann.bruteTopK(spark, sf).filter(col("rank") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(brute1.exists { case (q, n) => e(n) != e(q) },
      "label filter vacuous at test SF: unfiltered top-1s never cross labels")
  }

  test("indexed filtered ann: int8-stripe cascade keeps recall >= 0.9 vs exact F8") {
    // F9 runs the label predicate against the STORED label-partitioned int8
    // index and exact-reranks only RerankCand candidates — recall vs the
    // full-stripe exact scoring must survive the quantized winnowing, and
    // the label contract of F8 must hold unchanged.
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val exact = Ann.filteredTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val idxDf = Ann.filteredIndexedTopK(spark, sf)
    val idx = idxDf.collect()
    assert(idx.nonEmpty)
    idx.foreach { r =>
      val (qid, label, nid, rank) = (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))
      assert(label == labels(qid) && labels(nid) == labels(qid),
        s"neighbor $nid crosses the label filter for query $qid")
      assert(rank >= 1 && rank <= Ann.FilteredTopK && nid != qid)
    }
    val idxSet = idx.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.intersect(idxSet).size.toDouble / exact.size
    assert(recall >= 0.9, s"indexed-filtered recall@${Ann.FilteredTopK} = $recall")
    // the candidate stage scans the stored label-partitioned index, not the
    // float embeddings (the plan-shape claim behind the 8x-bandwidth story)
    val plan = idxDf.queryExecution.executedPlan.toString
    assert(plan.contains("graft_int8_label-"),
      "candidate stage does not read the stored label-partitioned int8 index")
  }

  test("ivf cell report: exact accounting against the stored index; balance sane") {
    val rows = Ann.ivfCellReport(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.length <= Ann.IvfCells)
    val nTotal = graft.operators.Tables.embeddings(spark, sf).count()
    assert(rows.map(_._2).sum == nTotal, "cells do not partition the corpus")
    // floor-division shares sum to 10000 up to one unit per cell
    val shareSum = rows.map(_._3).sum
    assert(shareSum <= 10000 && 10000 - shareSum < rows.length, s"$shareSum")
    // members sit on the positive side of their own centroid
    rows.foreach { case (cell, n, _, mc) =>
      assert(n > 0 && mc > 0 && mc <= 1000000L, s"cell $cell mean $mc")
    }
    // one cell recomputed by hand from the stored tables matches exactly
    val cell0 = rows.minBy(_._1)._1
    val cents = Ann.ivfCentroidsForSpec(spark, sf)
    val members = Ann.ivfCorpusForSpec(spark, sf)
      .filter(col("cell") === cell0)
      .select(col("v"), col("nrm")).collect()
    val (cv, cn) = cents(cell0)
    val sum = members.map { r =>
      val v = r.getAs[scala.collection.Seq[Double]](0).toArray
      var acc = 0.0
      var i = 0
      while (i < v.length) { acc += v(i) * cv(i); i += 1 }
      val c6 = BigDecimal(acc / (r.getDouble(1) * cn))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.round(c6 * 1e6)
    }.sum
    val want = sum / members.length
    assert(rows.find(_._1 == cell0).get._4 == want,
      s"cell $cell0 mean: ${rows.find(_._1 == cell0).get._4} vs $want")
  }

  test("pq distortion: codes are the L2 argmin; quantization beats the zero codebook") {
    val rep = Ann.pqDistortionReport(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rep.length == Ann.PqSubs)
    val nVecs = graft.operators.Tables.embeddings(spark, sf).count()
    rep.foreach { case (sub, n, mse, mx) =>
      assert(n == nVecs, s"sub $sub covers $n of $nVecs")
      assert(mse >= 0 && mx >= mse, s"sub $sub: mse $mse max $mx")
    }
    // quantization gains: per-sub MSE strictly below the subvectors' own
    // mean second moment (the error of an all-zeros codebook)
    val vecs = graft.operators.Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.transform(
        col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(_.getAs[scala.collection.Seq[Double]](0).toArray)
    val scale = (1L << 20).toDouble
    for (sub <- 0 until Ann.PqSubs) {
      val m2 = vecs.map { v =>
        val s0 = sub * Ann.PqSubDim
        (0 until Ann.PqSubDim).map(i => v(s0 + i) * v(s0 + i)).sum
      }.sum / vecs.length * scale
      val mse = rep.find(_._1 == sub).get._3
      assert(mse < m2, s"sub $sub: mse $mse not below zero-codebook $m2")
    }
  }

  test("ivf sampled training: bounded Lloyd scans, full-corpus assignment, recall holds") {
    // SURVEY §5's 100 TB claim as code: with graft.ann.trainSampleRows below
    // the corpus size, k-means trains on a deterministic splitmix64 residue
    // sample, but the stored assignment must still cover EVERY vector and
    // the recall bound of the unsampled spec must still hold.
    // run against sf0.1 (the bench corpus, 2000 vectors) with a 25% training
    // sample — the scale the recall pin belongs at
    val dir = sf01
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val idxBase = tempDir("graft-ivf-idx").toString
    spark.conf.set("graft.ann.trainSampleRows", "500")
    spark.conf.set("graft.ivf.dir", idxBase)
    try {
      val ivf = Ann.ivfTopK(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = Ann.bruteTopK(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = brute.intersect(ivf).size.toDouble / brute.size
      val scanned = 2.0 / Ann.IvfCells
      assert(recall >= 2 * scanned && recall > 0.1,
        s"sampled-training recall@10 = $recall vs scanned ~= $scanned")
      // assignment stays full-corpus: the stored index covers every vector
      val idxDirs = new java.io.File(idxBase).listFiles()
      assert(idxDirs.length == 1)
      val assigned = spark.read.parquet(s"${idxDirs.head.getPath}/corpus")
        .select("vec_id").distinct().count()
      assert(assigned == n, s"assignment covered $assigned of $n vectors")
    } finally {
      spark.conf.unset("graft.ann.trainSampleRows")
      spark.conf.unset("graft.ivf.dir")
    }
  }
  test("E12 minhash agreement estimates Jaccard within the 64-slot envelope") {
    val rows = graft.dedup.Dedup.minhashEstimate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getAs[Long]("est_jaccard_bps")
      val exact = r.getAs[Long]("exact_jaccard_bps")
      // Broder: agreement/64 is a mean of 64 Bernoulli(J) draws (affine
      // slots are not independent, but the 4-sigma binomial envelope holds
      // empirically and catches sign/indexing regressions)
      val sigma = 10000.0 * math.sqrt(0.25 / 64)
      assert(math.abs(est - exact) <= 4 * sigma,
        s"pair (${r.getAs[Long]("doc_a")},${r.getAs[Long]("doc_b")}): est $est vs exact $exact")
    }
    // candidates surfaced by banding skew high-J: most agreement is high
    assert(rows.count(_.getAs[Long]("agree") >= 32) == rows.length)
  }

  test("H31 sweep rows reconcile with the E12 pair frame at every threshold") {
    val pairs = graft.dedup.Dedup.minhashEstimate(spark, sf).collect()
    val sweep = graft.dedup.Dedup.dedupSweep(spark, sf).collect()
      .map(r => r.getAs[Long]("t_bps") -> r).toMap
    assert(sweep.keySet == graft.dedup.Dedup.SweepThresholds.map(_.toLong).toSet)
    sweep.foreach { case (t, r) =>
      assert(r.getAs[Long]("n_candidates") == pairs.length.toLong)
      val exact = pairs.count(_.getAs[Long]("exact_jaccard_bps") >= t).toLong
      val est = pairs.count(_.getAs[Long]("est_jaccard_bps") >= t).toLong
      assert(r.getAs[Long]("n_exact") == exact)
      assert(r.getAs[Long]("n_est") == est)
      // the confusion split reconciles: est = exact - fn + fp
      assert(est == exact - r.getAs[Long]("n_false_neg") + r.getAs[Long]("n_false_pos"))
    }
    // the sweep must actually discriminate across thresholds on this corpus
    assert(sweep.values.map(_.getAs[Long]("n_exact")).toSet.size > 1)
  }

  test("H32 keep-best keeps exactly one max-score representative per cluster") {
    import graft.operators.CorpusSpans
    val kept = CorpusSpans.dedupKeepBest(spark, sf).collect()
    val labels = graft.dedup.Dedup.clusterPairs(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val scores = CorpusSpans.qualityScored(
        graft.operators.Tables.documents(spark, sf)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score")).toMap
    // one row per cluster, covering every cluster
    assert(kept.map(_.getAs[Long]("cluster_id")).toSet == labels.values.toSet)
    assert(kept.length == labels.values.toSet.size)
    val byCluster = labels.groupBy(_._2)
    kept.foreach { r =>
      val members = byCluster(r.getAs[Long]("cluster_id")).keys
      assert(r.getAs[Long]("cluster_size") == members.size.toLong)
      val best = members.minBy(id => (-scores(id), id))
      assert(r.getAs[Long]("doc_id") == best,
        s"cluster ${r.getAs[Long]("cluster_id")}: kept ${r.getAs[Long]("doc_id")} != best $best")
    }
    // non-vacuous: at least one multi-member cluster where best != min id
    val multi = byCluster.filter(_._2.size > 1)
    assert(multi.nonEmpty, "no near-dup clusters in the corpus")
  }

}
