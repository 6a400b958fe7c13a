package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{BeamParity, Relational, Tables}

/** Physical-plan audits: the plans we'd want at 100 TB, not just plans that
  * pass. Broadcasts on dim joins, pushdown at the scan, partial aggregation
  * before shuffles, TakeOrdered for top-k (never a full global sort).
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q3: dim side broadcast, fact side not exchanged for the dim join") {
    val p = plan(Relational.q3Shipping(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q5: all dims broadcast — exactly one shuffle join (orders x lineitem)") {
    val p = plan(Relational.q5LocalSupplier(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    val shuffles = "SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"want >=3 broadcast joins:\n$p")
    assert(shuffles <= 1, s"want <=1 shuffle join:\n$p")
  }

  test("source scan: filter and projection pushed to parquet") {
    val p = plan(BeamParity.sourceScanPushdown(spark, sf))
    assert(p.contains("EqualTo(o_orderstatus,F)") && p.contains("GreaterThan(o_totalprice,100000.0)"), p)
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_totalprice:double>"), p)
  }

  test("q1: scan reads only the 7 needed lineitem columns") {
    val p = plan(Relational.q1Pricing(spark, sf))
    assert(p.contains("LessThan(l_shipdate"), p)
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_returnflag:string,l_linestatus:string,l_shipdate"), p)
  }

  test("combine_per_key: partial aggregation before the shuffle") {
    val p = plan(BeamParity.combinePerKey(spark, sf))
    // two HashAggregates (partial + final) around one Exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("topk_orders: TakeOrdered, not a global sort") {
    val p = plan(Relational.topkOrders(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("pardo_map body computes without any hash shuffle (map is embarrassingly parallel)") {
    val p = plan(BeamParity.pardoMap(spark, sf))
    // only the presentation sort's range exchange is allowed
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("flatten_union: union is partition concatenation, no hash shuffle") {
    val p = plan(BeamParity.flattenUnion(spark, sf))
    assert(p.contains("Union"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("B16: approx_count_distinct within 5% of exact") {
    val row = Tables.lineitem(spark, sf).agg(
      approx_count_distinct(col("l_partkey")).as("approx"),
      countDistinct(col("l_partkey")).as("exact")).collect().head
    val (a, e) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(math.abs(a - e) / e < 0.05, s"approx=$a exact=$e")
  }

  test("B16b: deterministic HLL estimate within 5% of exact, partial-agg plan") {
    // l_orderkey: ~1500 distinct at sf0.001, inside the raw-estimator
    // contract n >= m (l_partkey has only 200 here — below m=256 the raw
    // estimate biases high by design; the correctness gate runs at sf0.01
    // where l_partkey has 2000)
    val df = graft.operators.Relational.hllEstimate(
      Tables.lineitem(spark, sf), "l_orderkey")
    val est = df.collect().head.getDouble(0)
    val e = Tables.lineitem(spark, sf)
      .agg(countDistinct(col("l_orderkey"))).collect().head.getLong(0).toDouble
    assert(math.abs(est - e) / e < 0.05, s"est=$est exact=$e")
    // the 256-register reduce must partial-aggregate before its shuffle:
    // the scan side carries a partial max per bucket, not raw rows
    val p = plan(df)
    assert(p.contains("partial_max") || p.contains("Partial"), p)
  }

  test("B18b: AQE splits the planted hot-key join partition (skew=true)") {
    // thresholds lowered to match test-data volume — at real scale the
    // defaults fire on the same plan shape; broadcast disabled so the join
    // actually shuffles (the skew machinery only exists there)
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // multi-file inputs: AQE splits a skewed reduce partition by MAP
      // OUTPUT ranges, so a single-file (one-mapper) source is unsplittable
      // no matter how skewed — exactly the situation of the 1-file sf dirs
      val root = tempDir("graft-aqe-skew").toString
      Tables.events(spark, sf).repartition(8)
        .write.parquet(s"$root/events.parquet")
      Tables.orders(spark, sf).repartition(8)
        .write.parquet(s"$root/orders.parquet")
      val df = Relational.joinAqeSkew(spark, root)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"AQE skew split did not fire:\n$p")
      // and the result is AQE-invariant: same rows as the single-file run
      val plain = Relational.joinAqeSkew(spark, sf).collect().toSeq
        .sortBy(_.getString(0))
      assert(df.collect().toSeq.sortBy(_.getString(0)) == plain)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("F24 knn join: queries stay distributed — windowless routing, cell " +
      "equi-join, no pair stream; F3-exact on the F3 query set") {
    val df = graft.similarity.Ann.knnJoin(spark, sf)
    val p = plan(df)
    // no non-equi corpus×queries pair stream anywhere in the plan
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // exactly ONE Window node — the final per-qid rank over cell-bounded
    // partitions (WindowGroupLimit makes it map-side partial top-k);
    // routing is a codegen expression over centroid literals, NOT a window
    // over an n×k query-centroid expand. Count detail headers "(N) Window".
    assert("\\(\\d+\\) Window\\b".r.findAllIn(p).length == 1, p)
    // and no LocalTableScan: the query side is the distributed corpus scan,
    // never a driver-collected block
    assert(!p.contains("LocalTableScan"), p)
    // restricted to the F3 query set, the join reproduces ann_ivf_topk
    // bit-exactly (same index, nprobe, scoring, tiebreaks)
    val mine = df.filter(col("qid") < graft.similarity.Ann.NumQueries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    val f3 = graft.similarity.Ann.ivfTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    assert(mine.toSeq == f3.toSeq, "knn join diverges from F3 on the F3 query set")
  }

  test("F26: the append step's plan touches only the arrival batch, never the stored corpus") {
    import graft.similarity.Ann
    val df = Ann.ivfAppendAssignForSpec(spark, sf)
    val p = plan(df)
    // ONE parquet scan — the embeddings source filtered to the batch; the
    // stored gen-0 assignment is never read (per-batch cost is O(|batch|))
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).length == 1, p)
    assert(!p.contains("gen-0"), p)
    // routing is centroid literals, not a join against the index
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    // the batch really is the split's residue class (~1/8 of the corpus)
    val n = graft.operators.Tables.embeddings(spark, sf).count()
    val nd = df.count()
    assert(nd > 0 && nd < n / 4, s"$nd of $n rows in the arrival batch")
    // merged report reconciles: totals cover every vector exactly once,
    // and per-cell n_base+n_delta equals a full re-assignment under the
    // same stored centroids
    val rep = Ann.ivfAppendReport(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rep.map(_._4).sum == n, "report totals must cover the corpus")
    assert(rep.forall { case (_, b, dl, t) => b + dl == t })
    assert(rep.map(_._3).sum == nd, "delta postings must equal the batch")
  }

  test("F27: the PQ append encodes only the arrival batch under the stored codebook") {
    import graft.similarity.Ann
    val df = Ann.pqAppendEncodeForSpec(spark, sf)
    val p = plan(df)
    // ONE parquet scan — the embeddings source filtered to the batch; the
    // stored gen-0 codes are never read (per-batch cost is O(|batch|)),
    // and the codebook arrives as collected literals, not a parquet join
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).length == 1, p)
    assert(!p.contains("gen-0"), p)
    // the batch really is the split's residue class (~1/8 of the corpus)
    val n = graft.operators.Tables.embeddings(spark, sf).count()
    val nd = df.count()
    assert(nd > 0 && nd < n / 4, s"$nd of $n rows in the arrival batch")
    // report reconciles: every vector is coded in exactly one generation,
    // so per-subspace base+delta counts cover the corpus exactly once
    val rep = Ann.pqAppendReport(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rep.length == Ann.PqSubs, s"${rep.length} subspaces")
    assert(rep.forall { case (_, b, dl, _, _, _, _) => b + dl == n },
      "per-subspace generations must cover the corpus")
    // drift arithmetic is internally consistent with the retrain rule
    assert(rep.forall { case (_, _, _, mb, md, dr, fl) =>
      dr == (1000L * md) / math.max(mb, 1L) &&
        fl == (if (dr > Ann.PqDriftRetrainPermille) 1L else 0L)
    })
  }

  test("F28: the merged generation store serves appended vectors without a rebuild") {
    import graft.similarity.Ann
    // the composed append plan: two batch-filtered embeddings scans
    // (routing + encoding), zero reads of any base artifact
    val ap = plan(Ann.ivfpqAppendPostings(spark, sf))
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(ap).length == 2, ap)
    assert(!ap.contains("gen-0"), ap)
    // the query path returns a full top-k per query and RETRIEVES
    // appended vectors: the arrival batch is ~1/8 of the corpus, so the
    // merged neighbor lists must surface appended nids
    val res = Ann.ivfpqAppendTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val perQ = res.groupBy(_._1)
    assert(perQ.size == Ann.NumQueries.toInt, s"${perQ.size} queries")
    assert(perQ.values.forall(_.map(_._3).sorted.toSeq == (1 to Ann.TopK)),
      "each query must return ranks 1..k")
    val deltaIds = graft.operators.Tables.embeddings(spark, sf)
      .filter(pmod(graft.plans.MixHash.splitmix64Col(col("vec_id")), lit(8L)) === lit(3L))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val apNids = res.count(t => deltaIds.contains(t._2))
    assert(apNids > 0, "appended vectors must be retrievable from the merged store")
  }

  test("F29: tombstoned vectors stop being retrievable, with zero index rewrite") {
    import graft.similarity.Ann
    val deadIds = graft.operators.Tables.embeddings(spark, sf)
      .filter(pmod(graft.plans.MixHash.splitmix64Col(col("vec_id")),
        lit(Ann.DeleteMod.toLong)) === lit(Ann.DeleteRes.toLong))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(deadIds.nonEmpty, "the delete feed must be non-empty at this scale")
    val res = Ann.ivfpqDeleteTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // the serve is complete AND clean: full top-k per query, and no
    // deleted vector ever surfaces as a neighbor
    val perQ = res.groupBy(_._1)
    assert(perQ.size == Ann.NumQueries.toInt)
    assert(perQ.values.forall(_.map(_._3).sorted.toSeq == (1 to Ann.TopK)))
    assert(!res.exists(t => deadIds.contains(t._2)),
      "a tombstoned vector surfaced as a neighbor")
  }

  test("F30: compaction rewrites only dirty cells; the manifest-resolved store serves identically") {
    import graft.similarity.Ann
    val rep = Ann.ivfpqCompactReport(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // the decision rule is the report's own arithmetic, and BOTH regimes
    // exist at this scale — compaction that flags everything (or nothing)
    // would prove nothing about selectivity
    assert(rep.forall { case (_, g0, g1, dead, live, dirty, fl) =>
      live == g0 + g1 - dead &&
        dirty == (1000L * (dead + g1)) / (g0 + g1) &&
        fl == (if (dirty > Ann.CompactPermille) 1L else 0L)
    })
    val flagged = rep.filter(_._7 == 1L).map(_._1).toSet
    assert(flagged.nonEmpty && flagged.size < rep.length,
      s"${flagged.size}/${rep.length} cells flagged — need both regimes")
    // the cells/ directory holds ONLY the flagged cells' merged postings
    val lc = Ann.lifecycleDir(spark, sf)
    val cellDirs = new java.io.File(s"$lc/cells").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName.drop(5).toInt).toSet
    assert(cellDirs == flagged,
      s"compacted dirs $cellDirs must be exactly the flagged cells $flagged")
    // serve equivalence: resolving THROUGH the manifest (new dirs for
    // flagged cells, immutable generations + tombstones for the rest)
    // returns bit-identical neighbors to the tombstone-filtered serve
    val viaManifest = Ann.compactedServeForSpec(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    val direct = Ann.ivfpqDeleteTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    assert(viaManifest.toSeq == direct.toSeq,
      "post-compaction serve must equal the tombstone-filtered serve")
  }

  test("C39: streamed generations isolate per batch, replay is a no-op, serve equals the batch append") {
    import graft.similarity.Ann
    val dir = Ann.ingestDir(spark, sf)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one generation per micro-batch, and the multiset of generation
    // sizes equals the multiset of fixture sub-batch sizes — each batch
    // landed as its own isolated generation, whatever the arrival order
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.startsWith("gen-s")).map(_.toString)
    assert(gens.length == Ann.IngestResidues.length, gens.mkString(","))
    val genCounts = gens.map(g =>
      spark.read.parquet(s"$g/postings").count()).sorted.toSeq
    val classCounts = Ann.IngestResidues.map(r =>
      graft.operators.Tables.embeddings(spark, sf)
        .filter(pmod(graft.plans.MixHash.splitmix64Col(col("vec_id")),
          lit(32L)) === lit(r)).count()).sorted
    assert(genCounts == classCounts,
      s"generation sizes $genCounts != sub-batch sizes $classCounts")
    // serve equivalence: the streamed store answers queries bit-identically
    // to the one-shot batch append (the 4 sub-batches partition the delta)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(key(Ann.streamedServeForSpec(spark, sf)) ==
      key(Ann.ivfpqAppendTopK(spark, sf)),
      "streamed store must serve identically to the batch append")
    // crash replay: drop the last commit (the crash window between sink
    // write and checkpoint commit), restart — the replayed batch's
    // deterministic overwrite makes it a no-op
    val commits = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/ckpt/commits"))
      .map(_.getPath).filter(!_.getName.startsWith("."))
      .sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    fs.delete(commits.last, false)
    Ann.runIngestStream(spark, sf, dir)
    val after = gens.map(g => spark.read.parquet(s"$g/postings").count()).sorted.toSeq
    assert(after == classCounts, "replay must not duplicate or lose rows")
  }

  test("F25: sampled kNN-join recall reconciles hit-by-hit with brute ∩ F24") {
    import graft.similarity.Ann
    val rep = Ann.knnJoinRecall(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep.nonEmpty, "empty recall report")
    // the report covers EXACTLY the pinned residue class
    val expectQids = Ann.ivfCorpusForSpec(spark, sf)
      .filter(pmod(graft.plans.MixHash.splitmix64Col(col("vec_id")),
        lit(Ann.KnnRecallMod.toLong)) === lit(Ann.KnnRecallRes.toLong))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(rep.keySet == expectQids, "sampled query set diverges from the residue class")
    // per-query hits recomputed independently: the UNRESTRICTED F24 join
    // (proving the sample-pushdown changed cost, not results) intersected
    // with an in-process exact brute over the collected spec-SF corpus
    val full = Ann.knnJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, g) => q -> g.map(_._2).toSet }
    val emb = Ann.ivfCorpusForSpec(spark, sf)
      .select("vec_id", "v").collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Double]]("v").toArray).toMap
    def cos6(a: Array[Double], b: Array[Double]): BigDecimal = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    rep.foreach { case (qid, nHits) =>
      val exact = emb.keys.filter(_ != qid).toSeq
        .map(nid => (nid, cos6(emb(qid), emb(nid))))
        .sortBy { case (nid, c) => (-c, nid) }.take(Ann.TopK).map(_._1).toSet
      val hits = exact.intersect(full.getOrElse(qid, Set.empty)).size.toLong
      assert(hits == nHits, s"qid $qid: report says $nHits hits, reference $hits")
    }
    // the certification is non-vacuous: some query misses, some hits
    assert(rep.values.sum > 0, "zero hits everywhere — index unusable or bug")
  }

  test("F7/F10/F11/F12: shortlist via heap partials — no Window ever consumes " +
      "a corpus-sized pair stream") {
    // Round-10 verdict lead item. The old shape joined the full corpus to
    // the broadcast query block (a BroadcastNestedLoopJoin — non-equi
    // vec_id =!= qid) and ranked THAT with a per-qid row_number window:
    // |queries| partitions, each sorting a corpus-sized stream in one task.
    // The heap device removes the pair stream entirely, so the plan must
    // show a MapPartitions (partial heaps) and ZERO nested-loop joins —
    // every remaining join is an equi broadcast fetch-back, every Window
    // consumes only P x q x R partial rows.
    val cases: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "ann_rerank_topk" -> graft.similarity.Ann.rerankTopK(spark, sf),
      "ann_pq_topk" -> graft.similarity.Ann.pqTopK(spark, sf),
      "ann_binary_topk" -> graft.similarity.Ann.binaryTopK(spark, sf),
      "ann_mips_topk" -> graft.similarity.Ann.mipsTopK(spark, sf))
    for ((name, df) <- cases) {
      val p = plan(df)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
      assert(p.contains("MapPartitions"), s"$name:\n$p")
    }
  }
}
