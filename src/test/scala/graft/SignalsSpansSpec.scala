package graft

import org.apache.spark.sql.functions._
import graft.operators.{CorpusSpans, Signals, Tables}

class SignalsSpansSpec extends SparkSpec {

  test("B67 bootstrap CI: replicate replay exact, CI brackets the mean, width sane") {
    import graft.operators.{Signals, Tables}
    import org.apache.spark.sql.functions._
    val out = Signals.statsBootstrapCi(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(out.nonEmpty)
    // reference replay: recompute every replicate mean locally from first
    // principles (hash, Poisson inverse-CDF, exact units, rank picks)
    val ev = Tables.events(spark, sf)
      .select("event_type", "event_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def weight(id: Long, b: Int): Long = {
      val u = mix(id * 131071L + b) & ((1L << 20) - 1)
      if (u < 385750L) 0 else if (u < 771499L) 1
      else if (u < 964374L) 2 else if (u < 1028665L) 3 else 4
    }
    ev.groupBy(_._1).foreach { case (tpe, rows) =>
      val means = (0 until Signals.BootstrapB).flatMap { b =>
        var num = 0L; var den = 0L
        rows.foreach { case (_, id, v) =>
          val w = weight(id, b)
          num += w * graft.plans.ScaledLong.scale(v, 10000.0); den += w
        }
        if (den > 0)
          Some((BigDecimal(num.toDouble / 10000.0 / den)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, b))
        else None
      }.sorted
      val nb = means.length
      val lo = means(math.max(1, 25 * nb / 1000) - 1)._1
      val hi = means((975 * nb + 999) / 1000 - 1)._1
      val (_, mean, gotLo, gotHi) = out(tpe)
      assert(gotLo == lo && gotHi == hi, s"$tpe: ($gotLo,$gotHi) vs ref ($lo,$hi)")
      assert(gotLo < mean && mean < gotHi, s"$tpe: CI ($gotLo,$gotHi) misses mean $mean")
      assert(gotHi - gotLo > 0, s"$tpe: degenerate CI")
    }
  }

  test("C27 U-shaped attribution: per-path mass conserved, weights match hand replay") {
    import graft.operators.{Signals, Tables}
    import org.apache.spark.sql.functions._
    val out = Signals.eventsAttributionPosition(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.nonEmpty)
    // hand replay from the raw timeline
    val ev = Tables.events(spark, sf)
      .select("user_id", "event_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3)))
    var convertingPaths = 0L
    val mass = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val cnt = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    ev.groupBy(_._1).foreach { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._3.getTime * 1000 + r._3.getNanos / 1000 % 1000, r._2))
      var path = scala.collection.mutable.ArrayBuffer.empty[String]
      ordered.foreach { case (_, _, _, tpe) =>
        if (tpe == "purchase") {
          val n = path.length
          if (n > 0) {
            convertingPaths += 1
            path.zipWithIndex.foreach { case (t, idx) =>
              val i = idx + 1
              val w =
                if (n == 1) 10000L
                else if (n == 2) 5000L
                else if (i == 1 || i == n) 4000L
                else 2000L / (n - 2) + (if (i - 1 <= 2000 % (n - 2)) 1L else 0L)
              mass(t) += w; cnt(t) += 1
            }
          }
          path = scala.collection.mutable.ArrayBuffer.empty[String]
        } else path += tpe
      }
    }
    assert(out.keySet == mass.keySet)
    out.foreach { case (t, (n, bps)) =>
      assert(n == cnt(t) && bps == mass(t), s"$t: ($n,$bps) vs (${cnt(t)},${mass(t)})")
    }
    // conservation: total distributed mass = 10000 per converting path
    assert(out.values.map(_._2).sum == 10000L * convertingPaths)
    assert(convertingPaths > 0)
  }

  test("span_dedup keeps exactly one occurrence of every distinct span") {
    val docs = Tables.documents(spark, sf)
    val spans = docs
      .withColumn("ws", split(col("text"), " "))
      .select(explode(expr(
        s"transform(sequence(0, (size(ws) - 1) DIV ${CorpusSpans.SpanWords}, 1), " +
          s"k -> concat_ws(' ', slice(ws, k * ${CorpusSpans.SpanWords} + 1, ${CorpusSpans.SpanWords})))"))
        .as("span"))
    val distinctSpans = spans.distinct().count()
    val kept = CorpusSpans.spanDedup(spark, sf)
      .agg(sum(col("n_spans_kept"))).head.getLong(0)
    assert(kept == distinctSpans, s"$kept kept vs $distinctSpans distinct")
    // the op must actually bind on this corpus (repeated spans exist)
    assert(kept < spans.count(), "no duplicate spans — vacuous test data")
  }

  test("span_dedup reassembles untouched documents verbatim") {
    val res = CorpusSpans.spanDedup(spark, sf)
    val docs = Tables.documents(spark, sf)
    val nWords = CorpusSpans.SpanWords
    // documents whose span count survived intact must round-trip their text
    val joined = res.join(docs, "doc_id")
      .withColumn("n_spans_orig",
        expr(s"(size(split(text, ' ')) - 1) DIV $nWords + 1"))
      .filter(col("n_spans_kept") === col("n_spans_orig"))
    assert(joined.count() > 0)
    joined.collect().foreach { r =>
      assert(r.getAs[String]("text_dedup") == r.getAs[String]("text"),
        s"doc ${r.getAs[Long]("doc_id")} mutated without span loss")
    }
  }

  test("H14b anchored spans catch the offset-by-3 duplicate H14 provably misses") {
    import SparkSpecBase.spark.implicits._
    // the 12-word passage copied from doc 1 into doc 2 at a DIFFERENT word
    // offset (3 vs 2 — not ≡ 0 mod SpanWords): H14's disjoint 8-word blocks
    // slice the copy differently in each doc so no block text matches, while
    // the content-defined anchor ("hotel": md5 ends in '0') selects the same
    // span inside both copies. All other passage words are non-anchors
    // (md5 last nibble outside {0,4,8,c}) — verified below, so expected
    // counts are exact, not probabilistic.
    val passage = "hotel india juliet kilo mike november oscar papa quebec romeo sierra tango"
    def lastNibble(w: String): Char = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8"))
      "%02x".format(d.last & 0xff).last
    }
    assert(lastNibble("hotel") == '0')
    assert(passage.split(" ").tail.forall(w => !"048c".contains(lastNibble(w))))
    val docA = s"alpha bravo charlie $passage uniform victor"   // passage at 3
    val docB = s"one two $passage five"                          // passage at 2
    val dir = tempDir("graft-anchor").toString
    Seq((1L, docA), (2L, docB)).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    // H14 misses: every block survives in BOTH docs (no block text repeats)
    val h14 = CorpusSpans.spanDedup(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_spans_kept")).toMap
    val blocksA = (docA.split(" ").length - 1) / CorpusSpans.SpanWords + 1
    val blocksB = (docB.split(" ").length - 1) / CorpusSpans.SpanWords + 1
    assert(h14(1L) == blocksA && h14(2L) == blocksB,
      s"H14 unexpectedly caught the offset duplicate: $h14")
    // H14b catches: doc 2's anchored span at "hotel" duplicates doc 1's
    val got = CorpusSpans.spanDedupAnchor(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_dup_spans"), r.getAs[Long]("dup_words")))).toMap
    assert(got(1L) == ((0L, 0L)), s"doc 1 is the first occurrence: $got")
    assert(got(2L)._1 >= 1L && got(2L)._2 >= CorpusSpans.SpanWords,
      s"anchored dedup missed the offset copy: $got")
  }

  test("drift_report: KL matches a driver fixed-point recompute, is ~nonnegative, varies") {
    val rep = CorpusSpans.driftReport(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_tokens"), r.getAs[Double]("kl_bits")))
    assert(rep.nonEmpty)
    // driver-side recompute with the same fixed-point snapping
    val rows = Tables.documents(spark, sf)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").groupBy("source", "w").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val cw = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val cs = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val t = rows.map(_._3).sum
    val want = rows.groupBy(_._1).map { case (src, rs) =>
      val klfix = rs.map { case (_, w, c) =>
        // HALF_UP to mirror Spark's round() exactly (math.round floors
        // negative halves toward +inf — a silent divergence on .5 ilogs)
        c * BigDecimal(math.log(c.toDouble * t / (cs(src).toDouble * cw(w))) /
          math.log(2.0) * 1048576.0)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      src -> BigDecimal(klfix.toDouble / cs(src) / 1048576.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    rep.foreach { case (src, n, kl) =>
      assert(n == cs(src))
      assert(kl == want(src), s"$src: $kl vs ${want(src)}")
      // true KL >= 0; fixed-point snapping can dip at most a few micro-bits
      assert(kl >= -0.001, s"$src negative divergence $kl")
    }
    assert(rep.map(_._3).distinct.length > 1, "all sources identical — vacuous drift")
  }

  test("anomaly_mad: med/mad match a local exact recompute; anomalies are real outliers") {
    val rep = Signals.eventsAnomalyMad(spark, sf).collect()
    assert(rep.nonEmpty)
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getAs[Long]("n").toDouble)).toMap
    def medOf(xs: Array[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    rep.foreach { r =>
      val t = r.getAs[String]("event_type")
      val xs = hourly(t)
      val med = medOf(xs)
      val mad = medOf(xs.map(x => math.abs(x - med)))
      assert(r.getAs[Double]("med") == med, s"$t med")
      assert(r.getAs[Double]("mad") == mad, s"$t mad")
      val anomalies = xs.count(x => math.abs(x - med) > Signals.MadK * mad)
      assert(r.getAs[Long]("n_anomalies") == anomalies, s"$t anomaly count")
      assert(r.getAs[Long]("n_anomalies") > 0 && r.getAs[Long]("n_anomalies") < xs.length,
        s"$t threshold vacuous")
      // the worst hour is itself an anomaly (dev maximal)
      assert(math.abs(r.getAs[Long]("worst_n") - med) == xs.map(x => math.abs(x - med)).max)
    }
  }

  test("domain_quota: kept+dropped reconcile, quota binds, selection is keep-first") {
    val rep = CorpusSpans.domainQuota(spark, sf).collect()
    val total = Tables.documents(spark, sf).count()
    assert(rep.map(_.getAs[Long]("n_docs")).sum == total, "quota must see every doc")
    rep.foreach { r =>
      val (n, k, dr) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"), r.getAs[Long]("n_dropped"))
      assert(k + dr == n)
      assert(k == math.min(CorpusSpans.DomainQuota.toLong, n), s"${r.getAs[String]("domain")}")
      assert(r.getAs[Long]("max_kept_doc") >= 0)
    }
    // the quota actually binds on this corpus
    assert(rep.exists(_.getAs[Long]("n_dropped") > 0), "quota never binds — vacuous")
    // keep-first: the Q-th kept doc is below every dropped doc — spot-check
    // via the heaviest domain
    val heavy = rep.maxBy(_.getAs[Long]("n_docs"))
    import graft.operators.TextAnalysis.{plantUrlCol, UrlRe}
    val ids = Tables.documents(spark, sf)
      .select(col("doc_id"), regexp_extract(plantUrlCol, UrlRe, 1).as("domain"))
      .filter(col("domain") === heavy.getAs[String]("domain"))
      .collect().map(_.getLong(0)).sorted
    assert(heavy.getAs[Long]("max_kept_doc") ==
      ids(CorpusSpans.DomainQuota - 1), "not keep-first selection")
  }

  test("gopher_rules totals match an exploded recount and every rule discriminates") {
    val rep = CorpusSpans.gopherRules(spark, sf)
    val agg = rep.agg(
      sum(col("n_docs")), sum(col("n_pass_len")), sum(col("n_pass_meanlen")),
      sum(col("n_pass_stop")), sum(col("n_pass_rep")), sum(col("n_pass_all"))).head
    val total = agg.getLong(0)
    // independent recount via explode + groupBy (different plan shape than
    // the array-function signals the op itself computes)
    val sig = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), countDistinct(col("w")).as("nd"),
        sum(when(col("w").isin(CorpusSpans.GopherStops: _*), 1L).otherwise(0L)).as("ns"),
        sum(length(col("w"))).as("chars"))
    val re = sig.agg(
      sum(when(col("n") >= 30, 1L).otherwise(0L)),
      sum(when(lit(4) * col("n") <= col("chars") && col("chars") <= lit(5) * col("n"), 1L).otherwise(0L)),
      sum(when(lit(25) * col("ns") >= col("n"), 1L).otherwise(0L)),
      sum(when(lit(5) * (col("n") - col("nd")) <= lit(3) * col("n"), 1L).otherwise(0L))).head
    assert(agg.getLong(1) == re.getLong(0), "R1 length recount mismatch")
    assert(agg.getLong(2) == re.getLong(1), "R2 mean-length recount mismatch")
    assert(agg.getLong(3) == re.getLong(2), "R3 stopword recount mismatch")
    assert(agg.getLong(4) == re.getLong(3), "R4 repetition recount mismatch")
    // every rule must actually split this corpus, else the gate is vacuous
    (1 to 5).foreach { i =>
      assert(agg.getLong(i) > 0 && agg.getLong(i) < total,
        s"rule column $i does not discriminate ($total docs, ${agg.getLong(i)} pass)")
    }
  }

  test("ngram_counts top-1 bigram matches a direct recount") {
    val rows = CorpusSpans.ngramCounts(spark, sf).collect()
    assert(rows.length == CorpusSpans.TopNgrams)
    val counts = rows.map(_.getAs[Long]("n"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    val top = rows.head
    val recount = Tables.documents(spark, sf)
      .withColumn("ws", split(col("text"), " "))
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1), " +
          "i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1)))")).as("b"))
      .filter(col("b") === top.getAs[String]("bigram")).count()
    assert(recount == top.getAs[Long]("n"))
  }

  test("gap_fill_locf carries the last observed value across filled hours") {
    val res = Signals.eventsGapFillLocf(spark, sf).collect()
    val filled = res.filter(_.getAs[Boolean]("filled"))
    assert(filled.nonEmpty, "no gaps in test data — LOCF vacuous")
    filled.foreach(r => assert(r.getAs[Long]("n") == 0L))
    // for each filled hour, ff value equals the latest earlier observed hour
    val byType = res.groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[java.sql.Timestamp]("hour_start").getTime)
      var lastObserved = 0.0
      sorted.foreach { r =>
        if (!r.getAs[Boolean]("filled")) lastObserved = r.getAs[Double]("sum_value_ff")
        else assert(r.getAs[Double]("sum_value_ff") == lastObserved, r.toString)
      }
    }
  }

  test("contamination score 0 exactly characterizes the decontamination survivors") {
    val scores = CorpusSpans.contaminationScore(spark, sf).collect()
    scores.foreach { r =>
      assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_grams"), r.toString)
      val c = r.getAs[Double]("contamination")
      assert(c >= 0.0 && c <= 1.0, r.toString)
    }
    val zeroScore = scores.filter(_.getAs[Long]("n_hit") == 0)
      .map(_.getAs[Long]("doc_id")).toSet
    val survivors = graft.operators.CorpusClean.decontaminate(spark, sf)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(zeroScore == survivors,
      s"score-0 docs and H2 survivors differ: ${zeroScore.diff(survivors)} / ${survivors.diff(zeroScore)}")
    assert(scores.length > zeroScore.size, "no contaminated docs — score vacuous")
  }

  test("native session_window sessionization == the lag/cumsum composition") {
    val native = Signals.eventsSessionNative(spark, sf)
    val composed = graft.operators.Relational.eventsSession(spark, sf)
    assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty)
    assert(native.count() > 0)
  }

  test("dynamic-gap sessions: purchases bridge; never more sessions than fixed 30-min") {
    // every dynamic gap >= the fixed 30 min, so merges only grow: the
    // dynamic session count must be <= C2b's, and on this corpus a
    // purchase genuinely bridges somewhere (strictly fewer)
    val dyn = Signals.eventsSessionDynamic(spark, sf)
    val fixed = Signals.eventsSessionNative(spark, sf)
    val (nd, nf) = (dyn.count(), fixed.count())
    assert(nd < nf, s"dynamic $nd not below fixed $nf — no purchase ever bridges")
    assert(dyn.agg(sum(col("n_events"))).head.getLong(0) ==
      Tables.events(spark, sf).count(), "sessions do not partition the events")
    // planted merge rule: a purchase at t extends 60 min, so an event 45 min
    // later joins ITS session; a click there would not
    import SparkSpecBase.spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val dir = tempDir("graft-dynsess").toString
    Seq((1L, 1L, "purchase", at(0)), (2L, 1L, "click", at(45)),
        (3L, 2L, "click", at(0)), (4L, 2L, "click", at(45)))
      .toDF("event_id", "user_id", "event_type", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val planted = Signals.eventsSessionDynamic(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    assert(planted.sorted.toSeq == Seq((1L, 2L), (2L, 1L), (2L, 1L)),
      s"planted merge: ${planted.toSeq}")
  }

  test("H49 ngram novelty: exact duplicates score zero; novel mass conserves global df=1") {
    val rows = CorpusSpans.ngramNovelty(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_novel"), r.getAs[Long]("novel_bps")))
    assert(rows.nonEmpty && rows.length ==
      Tables.documents(spark, sf).count().toInt)
    rows.foreach { case (id, ng, nv, bps) =>
      assert(nv <= ng, s"doc $id novel $nv > grams $ng")
      assert(bps == 10000 * nv / math.max(ng, 1), s"doc $id bps")
    }
    // planted fixture: identical twins share every 5-gram (novelty 0);
    // a unique doc's grams appear nowhere else (novelty 10000)
    import SparkSpecBase.spark.implicits._
    val dir = tempDir("graft-novel").toString
    val twin = (1 to 8).map(i => s"twin word number $i").mkString(" ")
    val uniq = (1 to 8).map(i => s"only here token $i").mkString(" ")
    Seq((1L, twin, "en", "src0", twin.length.toLong),
        (2L, twin, "en", "src0", twin.length.toLong),
        (3L, uniq, "en", "src1", uniq.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = CorpusSpans.ngramNovelty(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("novel_bps")).toMap
    assert(planted(1L) == 0 && planted(2L) == 0 && planted(3L) == 10000,
      s"planted novelty: $planted")
    // conservation: Σ per-doc novel grams == the number of df=1 grams
    val globalNovel = Tables.documents(spark, sf)
      .select(explode(graft.plans.ShingleArray.shingles(
        col("text"), graft.operators.CorpusClean.DecontaminationGram)).as("g"))
      .groupBy(col("g")).count().filter(col("count") === 1).count()
    assert(rows.map(_._3).sum == globalNovel, "novel mass not conserved")
    assert(rows.exists(_._4 > 5000), "no high-novelty doc — signal vacuous")
  }

  test("interval overlap join equals the all-pairs brute force; ownership dedup holds") {
    val got = Signals.joinIntervalOverlap(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)) -> r.getLong(5))
    // ownership rule: every pair emitted exactly once despite multi-bucket
    // overlaps
    assert(got.map(_._1).distinct.length == got.length, "duplicate pairs")
    got.foreach { case (k, ov) => assert(ov >= 0, s"$k negative overlap") }
    // brute force over the same interval frame, grouped by type
    def us(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val iv = Signals.eventsStateIntervals(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("island"),
        r.getAs[String]("event_type"),
        us(r.getAs[java.sql.Timestamp]("valid_from")),
        us(r.getAs[java.sql.Timestamp]("valid_to"))))
    val want = scala.collection.mutable.HashMap[(Long, Long, Long, Long, String), Long]()
    iv.groupBy(_._3).values.foreach { g =>
      var i = 0
      while (i < g.length) {
        var j = 0
        while (j < g.length) {
          val a = g(i); val b = g(j)
          if (a._1 < b._1 && a._4 <= b._5 && b._4 <= a._5)
            want((a._1, a._2, b._1, b._2, a._3)) =
              math.min(a._5, b._5) - math.max(a._4, b._4)
          j += 1
        }
        i += 1
      }
    }
    assert(got.length == want.size, s"${got.length} pairs vs brute ${want.size}")
    got.foreach { case (k, ov) =>
      assert(want.get(k).contains(ov), s"$k: $ov vs ${want.get(k)}")
    }
  }

  test("interval overlap hot-bucket cap bounds an oversized bucket to a star (planted mega-bucket)") {
    // 300 same-type single-point intervals land in ONE (hour, type) bucket:
    // uncapped the bucket self-join enumerates C(300,2) pairs — the B69
    // blowup. Capped, the oversized bucket emits member->representative
    // stars (299 pairs anchored at the min interval); sub-cap buckets are
    // untouched.
    val root = tempDir("graft-hotbkt").toString
    val s = spark
    import s.implicits._
    val hotTs = java.sql.Timestamp.valueOf("2024-01-01 12:30:00")
    val coldTs = java.sql.Timestamp.valueOf("2024-01-02 03:10:00")
    val hot = (0L until 300L).map(u => (u, hotTs, u, "hot", 1.0, "{}"))
    val cold = (1000L to 1002L).map(u => (u, coldTs, u, "cold", 1.0, "{}"))
    (hot ++ cold).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$root/events.parquet")
    spark.conf.set("graft.interval.maxBucketOccupancy", "50")
    try {
      val got = Signals.joinIntervalOverlap(spark, root).collect()
      val hotPairs = got.filter(_.getString(4) == "hot")
      val coldPairs = got.filter(_.getString(4) == "cold")
      assert(hotPairs.length == 299, s"hot bucket not star-bounded: ${hotPairs.length}")
      assert(hotPairs.forall(r => r.getLong(0) == 0L && r.getLong(5) == 0L),
        "star pairs not anchored at the bucket representative")
      assert(coldPairs.length == 3, s"sub-cap bucket pairs changed: ${coldPairs.length}")
    } finally spark.conf.unset("graft.interval.maxBucketOccupancy")
    // below the (default) cap the same bucket enumerates all pairs unchanged
    val all = Signals.joinIntervalOverlap(spark, root).collect()
    assert(all.count(_.getString(4) == "hot") == 300 * 299 / 2,
      "default cap engaged at gate scale — it must be a no-op")
  }

  test("state intervals partition the stream into alternating maximal runs") {
    val rows = Signals.eventsStateIntervals(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_events")).sum ==
      Tables.events(spark, sf).count())
    rows.foreach { r =>
      assert(!r.getAs[java.sql.Timestamp]("valid_from")
        .after(r.getAs[java.sql.Timestamp]("valid_to")), r.toString)
    }
    // adjacent islands of one user must carry DIFFERENT types (maximality)
    rows.groupBy(_.getAs[Long]("user_id")).values.foreach { rs =>
      val byIsland = rs.sortBy(_.getAs[Long]("island"))
      byIsland.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[String]("event_type") != b.getAs[String]("event_type"),
            s"adjacent islands share a type: $a / $b")
        case _ =>
      }
    }
  }

  test("bm25 ranks rare-term documents above common-term-only documents") {
    import graft.operators.TextAnalysis
    val top = TextAnalysis.textBm25(spark, sf).collect()
    assert(top.length <= TextAnalysis.Bm25TopK && top.nonEmpty)
    val scores = top.map(_.getAs[Double]("bm25"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(scores.forall(_ > 0))
    // 'dup' is the corpus's one rare term — every doc containing it must
    // outscore every doc scored on the two common terms alone
    val dupDocs = Tables.documents(spark, sf)
      .filter(array_contains(split(col("text"), " "), "dup"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    if (dupDocs.nonEmpty) {
      val topIds = top.map(_.getAs[Long]("doc_id"))
      val firstNonDup = topIds.indexWhere(id => !dupDocs.contains(id))
      val lastDup = topIds.lastIndexWhere(dupDocs.contains)
      if (firstNonDup >= 0 && lastDup >= 0)
        assert(lastDup < firstNonDup || dupDocs.size > topIds.count(dupDocs.contains),
          "a dup-bearing doc ranked below a common-only doc inside the top-k")
    }
  }

  test("split leakage == jaccard pairs with differing split labels") {
    val splits = graft.operators.CorpusClean.trainSplit(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val expected = graft.dedup.Dedup.jaccardPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .filter { case (a, b) => splits(a) != splits(b) }.toSet
    val got = CorpusSpans.splitLeakage(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got == expected)
  }

  test("freq_sketch_cms estimates are upper bounds within the CMS error") {
    val exact = Tables.events(spark, sf)
      .filter(pmod(col("user_id"), lit(7L)) === 0)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_true"))
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_true")).toMap
    val est = Signals.freqSketchCms(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_est")).toMap
    assert(est.keySet == exact.keySet)
    val totalN = Tables.events(spark, sf).count()
    // CMS guarantee: exact <= est, and est - exact <= e/cols * N whp per row
    // (min over 4 independent rows makes the bound loose in practice)
    val bound = math.ceil(math.E / Signals.CmsCols * totalN).toLong * 3
    est.foreach { case (u, e) =>
      assert(e >= exact(u), s"user $u: est $e < true ${exact(u)}")
      assert(e - exact(u) <= bound, s"user $u: est $e vs true ${exact(u)} over bound $bound")
    }
  }

  test("correlation is in [-1,1] and matches a driver-side recompute") {
    val rows = Signals.statsCorrelation(spark, sf).collect()
    assert(rows.nonEmpty)
    val data = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      .collect().groupBy(_.getString(0))
    rows.foreach { r =>
      val p = r.getAs[Double]("pearson_r")
      assert(p >= -1.0 && p <= 1.0, r.toString)
      val xs = data(r.getString(0)).map(_.getDouble(1))
      val ys = data(r.getString(0)).map(_.getDouble(2))
      val n = xs.length.toDouble
      val (sx, sy) = (xs.sum, ys.sum)
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      val (sxx, syy) = (xs.map(a => a * a).sum, ys.map(b => b * b).sum)
      val want = (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
      // driver sums are plain doubles (not exact), so compare loosely
      assert(math.abs(p - want) < 1e-4, s"$p vs recomputed $want for ${r.getString(0)}")
    }
  }

  test("rate_alert never fires on a constant-rate or single-hour type") {
    import SparkSpecBase.spark.implicits._
    // constant counts → varp = 0 → z would be NaN, and Spark's
    // NaN-is-largest ordering would pass the > cut without the varp guard
    val hourly = Seq(
      ("flat", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 5L),
      ("flat", java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 5L),
      ("once", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 9L)
    ).toDF("event_type", "hour_start", "n")
    assert(Signals.rateAlertFrom(hourly, hourly).count() == 0)
  }

  test("rate_alert flags exactly the hours above mean + 2 sigma") {
    val hourly = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val byType = hourly.collect().groupBy(_.getAs[String]("event_type"))
    // byType.toSeq: flatMap on a Map with tuple results would rebuild a Map
    // and silently collapse to one flagged hour per type
    val expected = byType.toSeq.flatMap { case (et, rows) =>
      val ns = rows.map(_.getAs[Long]("n").toDouble)
      val mean = ns.sum / ns.length
      val varp = ns.map(x => x * x).sum / ns.length - mean * mean
      rows.filter(r =>
        (r.getAs[Long]("n") - mean) / math.sqrt(varp) > Signals.AlertZ)
        .map(r => (et, r.getAs[java.sql.Timestamp]("hour_start"))).toSeq
    }.toSet
    val actual = Signals.eventsRateAlert(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[java.sql.Timestamp]("hour_start")))
      .toSet
    assert(actual == expected)
    assert(actual.nonEmpty, "no rate spikes in test data — alert vacuous")
  }

  test("stats_correlation guards zero-variance groups with NULL, not NaN") {
    // Spark's non-ANSI x/0 is NULL but DuckDB's SQRT(0)*SQRT(0) denominator
    // is NaN — the explicit guard keeps a constant-valued group gate-safe
    import SparkSpecBase.spark.implicits._
    val dir = tempDir("graft-corr0").toString
    Seq((1L, "A", 5.0, 10.0), (2L, "A", 5.0, 20.0),   // x constant: r undefined
        (3L, "B", 1.0, 2.0), (4L, "B", 2.0, 4.0))     // perfect correlation
      .toDF("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val rows = Signals.statsCorrelation(spark, dir).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    assert(rows("A").isEmpty, s"degenerate group must be NULL, got ${rows("A")}")
    assert(rows("B").contains(1.0), s"perfect correlation must be 1.0, got ${rows("B")}")
  }
  test("B63 Welch t replays the textbook two-sample formula per type") {
    val rows = Signals.statsAbTest(spark, sf).collect()
    assert(rows.nonEmpty)
    val raw = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), col("value")).collect()
      .groupBy(_.getString(0))
    rows.foreach { r =>
      val et = r.getAs[String]("event_type")
      val (a, b) = raw(et).partition(_.getAs[Long]("user_id") % 2 == 0)
      val (va, vb) = (a.map(_.getAs[Double]("value")), b.map(_.getAs[Double]("value")))
      assert(r.getAs[Long]("n_a") == va.length.toLong)
      assert(r.getAs[Long]("n_b") == vb.length.toLong)
      def meanVar(xs: Array[Double]) = {
        val m = xs.sum / xs.length
        (m, xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1))
      }
      val (ma, s2a) = meanVar(va); val (mb, s2b) = meanVar(vb)
      val t = (ma - mb) / math.sqrt(s2a / va.length + s2b / vb.length)
      // the op computes variance from exact decimal sums; the naive
      // two-pass replay here agrees to ~1e-5 relative, not bit-for-bit
      assert(math.abs(r.getAs[Double]("welch_t") - t) < 1e-3,
        s"$et: ${r.getAs[Double]("welch_t")} vs $t")
      assert(r.getAs[Boolean]("significant") == (math.abs(t) > 1.96) ||
        math.abs(math.abs(t) - 1.96) < 1e-3)
    }
  }

  test("C24 attribution conserves conversions and never credits a purchase") {
    val rep = Signals.eventsAttribution(spark, sf)
    val totalConv = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(rep.agg(sum(col("n_conversions"))).head.getLong(0) == totalConv,
      "attribution dropped or double-counted conversions")
    assert(rep.filter(col("touch_type") === "purchase").count() == 0,
      "a conversion credited itself")
    assert(rep.filter(col("touch_type").isNotNull).count() > 0)
  }

  test("B64 incremental merge is bit-identical to the full recompute") {
    import graft.operators.Exact._
    val merged = Signals.aggIncrementalMerge(spark, sf)
    val full = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .withColumn("mean_value", round(col("sum_value") / col("n_events"), 6))
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty,
      "merged state diverged from the full recompute")
    // the split is non-trivial: both the stored and batch sides carry rows
    val nStored = Tables.events(spark, sf)
      .filter(pmod(col("event_id"), lit(10L)) < 8).count()
    val nBatch = Tables.events(spark, sf)
      .filter(pmod(col("event_id"), lit(10L)) >= 8).count()
    assert(nStored > 0 && nBatch > 0)
  }

}
