package graft

import org.apache.spark.sql.functions._

import graft.operators.{SetSketch, Signals, Tables, TextAnalysis}
import graft.plans.ShingleArray

class SetSketchSpec extends SparkSpec {

  // ---- B62 KMV/theta sketch ----

  test("theta sketch is EXACT below the sketch cap (uncapped sources)") {
    // A planted two-source corpus whose shingle sets fit UNDER the sketch
    // cap: the sketches are then the complete sets, and every estimate
    // must be exactly the true cardinality (the degenerate-KMV contract).
    val s = spark
    import s.implicits._
    val tmp = tempDir("kmv-exact").toString
    val mk = (i: Int) => (0 until 12).map(j => s"w${i}_$j").mkString(" ")
    val docs = Seq(
      (0L, mk(0), "en", "pa", 1L),
      (1L, mk(1), "en", "pa", 1L),
      (2L, mk(0), "en", "pb", 1L), // pb shares doc 0's shingles with pa
      (3L, mk(2), "en", "pb", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val exact = docs
      .select(col("source"), explode(ShingleArray.shingles(col("text"), 3)).as("sh"))
      .distinct()
    val sizes = exact.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.values.max < SetSketch.KmvK, "planted corpus outgrew the cap")
    val rows = SetSketch.sketchThetaOverlap(spark, tmp).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("est_a") == sizes(r.getAs[String]("source_a")))
    assert(r.getAs[Long]("est_b") == sizes(r.getAs[String]("source_b")))
    // union/intersection estimates are exact set cardinalities too: the
    // sources share exactly doc 0's 10 shingles
    val inter = exact.groupBy(col("sh")).count().filter(col("count") === 2).count()
    assert(inter == 10L, s"planted overlap drifted: $inter")
    val union = sizes("pa") + sizes("pb") - inter
    assert(r.getAs[Long]("est_union") == union)
    assert(r.getAs[Long]("est_intersect") == inter)
    assert(r.getAs[Long]("n_common") == inter)
    assert(r.getAs[Long]("jaccard_bps") == 10000L * inter / union)
  }

  test("theta sketch estimates stay inside the KMV error envelope when capped") {
    // sf0.01 sources hold ~1.1k distinct shingles (> KmvK) — the estimator
    // path actually fires. KMV rel. std. error is ~1/sqrt(k-2) ≈ 6.3%;
    // assert a 4-sigma envelope per-pair on the union estimate.
    val d = "/root/testdata/sf0.01"
    val est = SetSketch.sketchThetaOverlap(spark, d)
    val exact = Tables.documents(spark, d)
      .select(col("source"), explode(ShingleArray.shingles(col("text"), 3)).as("sh"))
      .distinct()
    val sizes = exact.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.values.min > SetSketch.KmvK, "estimator path not exercised")
    val a = exact.withColumnRenamed("source", "sa")
    val b = exact.withColumnRenamed("source", "sb")
    val exactInter = a.join(b, a("sh") === b("sh") && a("sa") < b("sb"))
      .groupBy(col("sa"), col("sb")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val eps = 4.0 / math.sqrt(SetSketch.KmvK - 2)
    var checked = 0
    est.collect().foreach { r =>
      val key = (r.getAs[String]("source_a"), r.getAs[String]("source_b"))
      val inter = exactInter.getOrElse(key, 0L)
      val union = sizes(key._1) + sizes(key._2) - inter
      val u = r.getAs[Long]("est_union").toDouble
      assert(math.abs(u - union) <= eps * union,
        s"union est $u vs exact $union at $key exceeds ${eps * 100}%")
      checked += 1
    }
    assert(checked > 0)
  }

  // ---- C22 CUSUM change point ----

  test("events_cusum_shift replays the textbook fold exactly") {
    val out = Signals.eventsCusumShift(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getAs[String]("event_type"))
    assert(out.nonEmpty && hourly.nonEmpty)
    hourly.foreach { case (et, rows) =>
      val series = rows.map(r =>
        (r.getAs[java.sql.Timestamp]("h"), r.getAs[Long]("n"))).sortBy(_._1.getTime)
      val tot = series.map(_._2).sum
      val m = 1000L * tot / series.length
      val slack = m / 10
      var s = 0L; var mx = -1L; var peak: java.sql.Timestamp = null; var al = 0L
      series.foreach { case (h, n) =>
        val sNew = math.max(0L, s + 1000L * n - m - slack)
        if (sNew > mx) { mx = sNew; peak = h }
        if (sNew > 3 * m) al += 1
        s = sNew
      }
      val r = out(et)
      assert(r.getAs[Long]("n_hours") == series.length)
      assert(r.getAs[Long]("mean_milli") == m)
      assert(r.getAs[Long]("max_cusum") == mx, s"max_cusum mismatch for $et")
      assert(r.getAs[java.sql.Timestamp]("peak_hour") == peak, s"peak mismatch for $et")
      assert(r.getAs[Long]("n_alarm_hours") == al, s"alarms mismatch for $et")
    }
  }

  // ---- F13 hard negatives ----

  test("hard negatives: every neighbor crosses the label boundary and wins") {
    import graft.similarity.Ann
    val res = Ann.hardNegativesTopK(spark, sf)
    val lab = Tables.embeddings(spark, sf).select(col("vec_id"), col("label"))
    val joined = res.join(lab, res("nid") === lab("vec_id"))
    assert(joined.filter(col("q_label") === col("label")).count() == 0,
      "a same-label vector leaked into the hard-negative set")
    // exactness: agrees with the declarative brute-force label-filtered rank
    import org.apache.spark.sql.expressions.Window
    val e = graft.dedup.Dedup.withNorm(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("v"), col("nrm"), col("label"))
    val q = e.filter(col("vec_id") < Ann.NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("label").as("q_label"))
    val ref = e.join(broadcast(q), col("label") =!= col("q_label"))
      .withColumn("rcos",
        round(graft.plans.DotProduct.dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rcos").desc, col("vec_id"))))
      .filter(col("rank") <= Ann.TopK)
      .select(col("qid"), col("q_label"), col("vec_id").as("nid"), col("rank"), col("rcos"))
    assert(res.exceptAll(ref).isEmpty && ref.exceptAll(res).isEmpty,
      "heap shortlist diverged from the declarative reference")
  }

  // ---- D15 unicode normalization ----

  test("unicode normalize: composes, strips invisibles, collapses, idempotent") {
    val out = TextAnalysis.textNormalizeUnicode(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[String]("normalized")
      val composed = (r.getAs[Long]("doc_id") % 4).toInt match {
        case 0 => "pre\u00E9post"
        case 1 => "pre\u00E4post"
        case 2 => "pre\u00F5post"
        case _ => "pre\u00E7post"
      }
      assert(n.contains(composed), s"NFC composition missing: expected $composed")
      assert(!n.exists(c => c == '\u200B' || c == '\u200C' ||
        c == '\u200D' || c == '\uFEFF'),
        "zero-width characters survived")
      assert(!n.contains("  "), "space run survived")
      assert(r.getAs[Int]("n_norm") < r.getAs[Int]("n_raw"))
    }
    // idempotence on the already-normalized output
    val again = out.select(col("doc_id"), col("normalized").as("raw"))
      .select(col("doc_id"), TextAnalysis.normalizeUnicodeCol(col("raw")).as("n2"),
        col("raw"))
    assert(again.filter(col("n2") =!= col("raw")).count() == 0)
  }

  // ---- H28 quality ensemble ----

  test("quality ensemble keeps exactly the per-source top quarter by score") {
    import graft.operators.CorpusSpans
    val res = CorpusSpans.qualityEnsemble(spark, sf)
    val docs = Tables.documents(spark, sf)
    val quota = docs.groupBy(col("source")).agg(expr("count(1) DIV 4").as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = res.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.nonEmpty)
    kept.foreach { case (src, n) => assert(n == quota(src), s"quota broken at $src") }
    // rank is consistent with (score desc, doc_id) within each source
    val bad = res.collect().groupBy(_.getAs[String]("source")).exists {
      case (_, rs) =>
        val sorted = rs.sortBy(r => (-r.getAs[Long]("score"), r.getAs[Long]("doc_id")))
        sorted.zipWithIndex.exists { case (r, i) => r.getAs[Int]("rk") != i + 1 }
    }
    assert(!bad, "rank order diverges from (score desc, doc_id)")
  }

  // ---- H29 fertility report ----

  test("fertility report reconciles with per-doc token counting") {
    import graft.operators.CorpusSpans
    import graft.functions.TextFunctions._
    val rep = CorpusSpans.fertilityReport(spark, sf)
    val direct = Tables.documents(spark, sf)
      .agg(sum(wsTokens(col("text")).cast("long")).as("w"),
        sum(bpeTokensK(col("text")).cast("long")).as("b"))
      .head
    val agg = rep.agg(sum(col("words")), sum(col("bpe_tokens"))).head
    assert(agg.getLong(0) == direct.getAs[Long]("w"))
    assert(agg.getLong(1) == direct.getAs[Long]("b"))
    // the fixed-point ratio is the floor division it claims to be
    rep.collect().foreach { r =>
      val f = 1000L * r.getAs[Long]("bpe_tokens") / math.max(r.getAs[Long]("words"), 1L)
      assert(r.getAs[Long]("fertility_milli") == f)
    }
  }
  // ---- F14 recall report ----

  test("F14 recall report reconciles with the two retrieval ops it measures") {
    import graft.similarity.Ann
    val rep = Ann.annRecallReport(spark, sf).collect()
      .map(r => r.getAs[Long]("qid") -> r).toMap
    val brute = Ann.bruteTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val ivf = Ann.ivfTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    assert(rep.size == brute.map(_._1).size)
    rep.foreach { case (qid, r) =>
      val hits = brute.filter(_._1 == qid).count(ivf.contains).toLong
      assert(r.getAs[Long]("n_hits") == hits, s"qid $qid hit-count mismatch")
      assert(r.getAs[Long]("recall_bps") == 10000L * hits / Ann.TopK)
    }
    // near-uniform synthetic embeddings: nprobe/cells bounds the recall
    // regime from above-zero (sanity) without pretending cluster structure
    val mean = rep.values.map(_.getAs[Long]("recall_bps")).sum / rep.size
    assert(mean > 500, s"mean recall $mean bps - index broken, not just lossy")
  }

}
