package graft

import org.apache.spark.sql.functions._
import graft.operators.{Analytics, CorpusClean, Skew, Tables}

class AnalyticsSpec extends SparkSpec {

  test("q18_large_volume keeps only orders above the quantity threshold") {
    val rows = Analytics.q18LargeVolume(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach(r => assert(r.getAs[Double]("sum_qty") > 300, r.toString))
    // descending by price, orderkey tiebreak
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("grouping_sets_agg emits flag rows + status rows + grand total") {
    val li = Tables.lineitem(spark, sf)
    val nFlags = li.select("l_returnflag").distinct.count()
    val nStatus = li.select("l_linestatus").distinct.count()
    val df = Analytics.groupingSetsAgg(spark, sf)
    assert(df.count() == nFlags + nStatus + 1)
    val grand = df.filter(col("l_returnflag").isNull && col("l_linestatus").isNull)
    assert(grand.head.getAs[Long]("n") == li.count())
  }

  test("event_funnel stages are monotonically non-increasing") {
    val rows = Analytics.eventFunnel(spark, sf).orderBy("step").collect()
    assert(rows.map(_.getAs[String]("stage")).toSeq == Seq("signup", "view", "purchase"))
    val ns = rows.map(_.getAs[Long]("n_users"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, ns.mkString(","))
    assert(ns.head > 0)
    // the 24h purchase window must actually bind (otherwise the stage is vacuous)
    assert(ns(2) < ns(1), s"24h window did not discriminate: ${ns.mkString(",")}")
  }

  test("hist_bins partitions all orders and sums to the table total") {
    val df = Analytics.histBins(spark, sf)
    val n = df.agg(sum(col("n"))).head.getLong(0)
    assert(n == Tables.orders(spark, sf).count())
    df.collect().foreach(r => assert(r.getAs[Long]("bin") >= 0))
  }

  test("merge_upsert snapshot equals a direct recompute over all orders") {
    val merged = Analytics.mergeUpsert(spark, sf)
    val direct = Tables.orders(spark, sf).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), max(col("o_orderdate")).as("last_odate"),
        graft.operators.Exact.dsum(col("o_totalprice")).as("sum_price"))
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)
  }

  test("bloom prune filters the fact side yet matches the exact semi-join") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val dim = Tables.customer(spark, sf)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val fact = Tables.events(spark, sf)
    val pruned = Skew.bloomPrunedSemiJoin(fact, dim, "user_id", "c_custkey")
    val exact = fact.join(dim, col("user_id") === col("c_custkey"), "left_semi")
    assert(pruned.exceptAll(exact).isEmpty && exact.exceptAll(pruned).isEmpty)
    // the bloom pre-filter really prunes rows before the join at this SF
    val bf = dim.stat.bloomFilter("c_custkey", 1000000L, 0.01)
    val kept = fact.collect().count(r => bf.mightContainLong(r.getAs[Long]("user_id")))
    assert(kept < fact.count(), "bloom filter pruned nothing")
  }

  test("native bloom probe: bit-identical to the filter, fused into codegen") {
    import org.apache.spark.sql.functions.col
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val dim = Tables.customer(spark, sf)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val bf = dim.stat.bloomFilter("c_custkey", 1000000L, 0.01)
    val bc = spark.sparkContext.broadcast(bf)
    val fact = Tables.events(spark, sf).select(col("user_id"))
    // (1) the codegen expression returns exactly the filter's bits per key
    val probed = fact
      .withColumn("m", graft.plans.BloomProbe.mightContainLong(col("user_id"), bc))
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    probed.foreach { case (k, m) =>
      assert(m == bf.mightContainLong(k), s"probe diverged from filter at $k")
    }
    // (2) the probe compiles into the scan's WholeStageCodegen stage: no
    // interpreted Scala-UDF node survives in the executed filter plan
    val filtered = fact.filter(
      graft.plans.BloomProbe.mightContainLong(col("user_id"), bc))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"),
      s"probe did not stay native:\n$plan")
    // the `*(n)` prefix on the Filter node IS the whole-stage-codegen marker
    assert(plan.linesIterator.exists(l =>
      l.trim.matches("""\*\(\d+\) Filter .*bloommightcontainlong.*""")),
      s"scan+probe not fused into a WholeStageCodegen stage:\n$plan")
    // (3) null keys stay null-intolerant (filter drops them, no NPE)
    import SparkSpecBase.spark.implicits._
    val withNull = Seq[Option[Long]](Some(1L), None, Some(2L)).toDF("user_id")
    val out = withNull.filter(
      graft.plans.BloomProbe.mightContainLong(col("user_id"), bc)).collect()
    assert(out.forall(!_.isNullAt(0)))
  }

  test("window_ntile buckets every order into 4 near-equal quartiles per priority") {
    val df = Analytics.windowNtile(spark, sf)
    val rows = df.collect()
    assert(rows.map(_.getAs[Long]("n")).sum == Tables.orders(spark, sf).count())
    // quartile sizes within a priority differ by at most 1
    rows.groupBy(_.getAs[String]("o_orderpriority")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("quartile")).sorted.toSeq == Seq(1, 2, 3, 4))
      val ns = rs.map(_.getAs[Long]("n"))
      assert(ns.max - ns.min <= 1, rs.mkString(";"))
    }
  }

  test("q17_small_qty returns one bounded positive row") {
    val v = Analytics.q17SmallQty(spark, sf).head.getAs[Double]("avg_yearly")
    assert(v > 0)
    // the 20%-of-avg filter keeps a small fraction of total revenue
    val total = Tables.lineitem(spark, sf)
      .agg(graft.operators.Exact.dsum(col("l_extendedprice"))).head.getDouble(0)
    assert(v * 7.0 < total * 0.25, s"$v vs $total")
  }

  test("z-order layout round-trip: pure re-ordering; 2-D box prunes row groups") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    // correctness first: the stored layout is a re-ORDERING — the 2-D scan
    // returns exactly the plain table's predicate rows
    val scanned = Analytics.layoutZorderScan(spark, sf).collect()
      .map(_.getLong(0)).sorted.toSeq
    val plain = Tables.orders(spark, sf)
      .filter(col("o_custkey").between(Analytics.ZscanCustLo, Analytics.ZscanCustHi) &&
        col("o_orderdate").between(lit(Analytics.ZscanDateLo).cast("date"),
          lit(Analytics.ZscanDateHi).cast("date")))
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(scanned == plain && plain.nonEmpty)
    // the skipping claim, checked against the actual parquet footers: count
    // row groups whose (custkey, date) min/max boxes intersect the
    // predicate box — what the reader's stats-based skipping consults
    // o_orderdate is TIMESTAMP_NTZ in this parquet → INT64 micros stats
    val dLo = java.time.LocalDate.parse(Analytics.ZscanDateLo).toEpochDay * 86400000000L
    val dHi = java.time.LocalDate.parse(Analytics.ZscanDateHi).toEpochDay * 86400000000L
    val conf = spark.sparkContext.hadoopConfiguration
    def overlapStats(dir: String): (Int, Int) = {
      var total = 0
      var hit = 0
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(conf)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), false)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) {
          val rd = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
          try {
            rd.getFooter.getBlocks.forEach { b =>
              total += 1
              var cMin = Long.MaxValue; var cMax = Long.MinValue
              var dMin = Long.MaxValue; var dMax = Long.MinValue
              b.getColumns.forEach { c =>
                c.getPath.toDotString match {
                  case "o_custkey" =>
                    cMin = c.getStatistics.genericGetMin
                      .asInstanceOf[Number].longValue
                    cMax = c.getStatistics.genericGetMax
                      .asInstanceOf[Number].longValue
                  case "o_orderdate" =>
                    dMin = c.getStatistics.genericGetMin
                      .asInstanceOf[Number].longValue
                    dMax = c.getStatistics.genericGetMax
                      .asInstanceOf[Number].longValue
                  case _ => ()
                }
              }
              val cHit = cMin <= Analytics.ZscanCustHi && cMax >= Analytics.ZscanCustLo
              val dHit = dMin <= dHi && dMax >= dLo
              if (cHit && dHit) hit += 1
            }
          } finally rd.close()
        }
      }
      (hit, total)
    }
    val (zHit, zTotal) = overlapStats(Analytics.zorderLayoutDir(spark, sf))
    // round-robin baseline with the same file count: every file sees the
    // full value range, so (nearly) every row group overlaps the box
    val baseDir = tempDir("graft-zorder-rr").toString
    Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
      .repartition(zTotal)
      .write.mode("overwrite").parquet(baseDir)
    val (rrHit, rrTotal) = overlapStats(baseDir)
    assert(zTotal > 4 && rrTotal == zTotal,
      s"layout shape unexpected: z=$zTotal rr=$rrTotal row groups")
    assert(zHit < rrHit && zHit < zTotal,
      s"z-order box overlap $zHit/$zTotal not better than round-robin $rrHit/$rrTotal")
  }

  test("layout_zorder interleaves bits exactly and clusters both dimensions") {
    // exact Morton values on known points: z(x=0b11, y=0) = 0b0101 = 5
    def z(x: Long, y: Long): Long = {
      def sp(v: Long): Long = {
        var x = v
        x = (x | (x << 8)) & 0x00FF00FFL
        x = (x | (x << 4)) & 0x0F0F0F0FL
        x = (x | (x << 2)) & 0x33333333L
        (x | (x << 1)) & 0x55555555L
      }
      sp(x) | (sp(y) << 1)
    }
    assert(z(3, 0) == 5L && z(0, 3) == 10L && z(65535, 65535) == 0xFFFFFFFFL)
    val rows = Analytics.layoutZorder(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("zvalue") >= 0 &&
      r.getAs[Long]("zvalue") <= 0xFFFFFFFFL))
  }

  test("layout_hilbert: exact transform, unit-step curve, locality beats z-order") {
    // the classic property: the Hilbert curve takes UNIT steps — adjacent
    // d values are Manhattan-distance-1 cells (verified on a dense 32x32
    // subgrid against the shared reference transform)
    val cells = for (x <- 0L until 32L; y <- 0L until 32L) yield (Analytics.hilbertD(x, y), x, y)
    val sortedCells = cells.sortBy(_._1)
    assert(sortedCells.map(_._1).distinct.length == cells.length, "not injective")
    sortedCells.sliding(2).foreach {
      case Seq((da, xa, ya), (db, xb, yb)) =>
        if (db == da + 1)
          assert(math.abs(xa - xb) + math.abs(ya - yb) == 1,
            s"non-unit step at d=$da: ($xa,$ya)->($xb,$yb)")
      case _ =>
    }
    // gated values equal the reference transform on the real inputs
    val inputs = Tables.orders(spark, sf)
      .select(col("o_orderkey"), pmod(col("o_custkey"), lit(65536L)).as("x"),
        datediff(col("o_orderdate"), lit(Analytics.ZorderEpoch).cast("date"))
          .cast("long").bitwiseAND(lit(65535L)).as("y"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = Analytics.layoutHilbert(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty && got.length == inputs.size)
    got.foreach { case (k, h) =>
      val (x, y) = inputs(k)
      assert(h == Analytics.hilbertD(x, y), s"order $k")
    }
    // the selling point, measured: total Manhattan drift along the curve
    // order is strictly below z-order's on the same data
    def drift(order: Seq[Long]): Long =
      order.map(inputs).sliding(2).map {
        case Seq((xa, ya), (xb, yb)) => math.abs(xa - xb) + math.abs(ya - yb)
        case _ => 0L
      }.sum
    val hOrder = got.sortBy(_._2).map(_._1).toSeq
    val zOrder = Analytics.layoutZorder(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2).map(_._1).toSeq
    val (hd, zd) = (drift(hOrder), drift(zOrder))
    assert(hd < zd, s"hilbert drift $hd not below z-order drift $zd")
  }

  test("corpus_sample_weighted favors longer docs and is deterministic") {
    val a = CorpusClean.sampleWeighted(spark, sf).collect()
    val b = CorpusClean.sampleWeighted(spark, sf).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.length == CorpusClean.SampleK)
    // weighting binds: sampled docs skew longer than the corpus median
    val sampledMean = a.map(_.getAs[Long]("n_chars")).sum.toDouble / a.length
    val corpusMean = Tables.documents(spark, sf)
      .agg(avg(col("n_chars"))).head.getDouble(0)
    assert(sampledMean > corpusMean, s"$sampledMean <= $corpusMean")
  }

  test("approx_quantile_hist brackets the exact percentiles within one bin") {
    val est = Analytics.approxQuantileHist(spark, sf).collect()
      .map(r => r.getAs[String]("o_orderpriority") ->
        (r.getAs[Double]("p50_est"), r.getAs[Double]("p90_est"))).toMap
    val exact = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority"))
      .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90"))
      .collect()
      .map(r => r.getAs[String]("o_orderpriority") ->
        (r.getAs[Double]("p50"), r.getAs[Double]("p90"))).toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (k, (e50, e90)) =>
      assert(e50 <= e90)
      val (x50, x90) = exact(k)
      assert(math.abs(e50 - x50) <= Analytics.AqBinWidth, s"$k p50 $e50 vs $x50")
      assert(math.abs(e90 - x90) <= Analytics.AqBinWidth, s"$k p90 $e90 vs $x90")
    }
  }

  test("quality_fk_orphans audits every FK edge with non-negative counts") {
    val rows = Analytics.qualityFkOrphans(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach(r => assert(r.getAs[Long]("n_orphans") >= 0))
  }

  test("quality_profile reports consistent row counts and cardinalities") {
    val rows = Analytics.qualityProfile(spark, sf).collect()
    assert(rows.length == 3)
    val n = Tables.orders(spark, sf).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") == n)
      assert(r.getAs[Long]("n_null") == 0)
      assert(r.getAs[Long]("n_distinct") >= 1 && r.getAs[Long]("n_distinct") <= n)
    }
  }

  test("corpus_sample_quota takes exactly K per stratum (or the whole stratum)") {
    val sizes = Tables.documents(spark, sf).groupBy(col("source")).count()
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    val got = CorpusClean.sampleQuota(spark, sf).groupBy(col("source")).count()
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    assert(got.keySet == sizes.keySet)
    got.foreach { case (src, k) =>
      assert(k == math.min(CorpusClean.QuotaK.toLong, sizes(src)), src)
    }
  }

  test("q7_volume excludes domestic trade and partitions total cross-border revenue") {
    val rows = Analytics.q7Volume(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("supp_nation") != r.getAs[String]("cust_nation"))
      assert(r.getAs[Long]("l_year") >= 1995L && r.getAs[Long]("l_year") <= 2001L)
    }
  }

  test("q13_custdist counts every customer exactly once across the distribution") {
    val rows = Analytics.q13Custdist(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("custdist")).sum ==
      Tables.customer(spark, sf).count())
    // zero-order customers must be representable (left join, not inner)
    assert(rows.forall(_.getAs[Long]("c_count") >= 0))
  }

  test("q19_disjunctive pushes the brand disjunction into both scans") {
    val df = Analytics.q19Disjunctive(spark, sf)
    val brands = df.collect().map(_.getAs[String]("p_brand")).toSet
    assert(brands.subsetOf(Set("Brand#12", "Brand#23", "Brand#34")), brands)
    val scans = df.queryExecution.executedPlan.toString
    assert(scans.contains("PushedFilters"), "expected parquet pushdown")
  }

  test("q22_idle_customers only keeps above-average customers idle since the cutoff") {
    val rows = Analytics.q22IdleCustomers(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("numcust")).sum
    // every counted customer is above the positive-balance average → strictly
    // fewer than the positive-balance population
    val posCount = Tables.customer(spark, sf).filter(col("c_acctbal") > 0).count()
    assert(total > 0 && total < posCount)
    // the anti-join must actually test recency: strictly fewer customers
    // survive than are above-average, i.e. some above-average customer was
    // excluded for having a recent order
    val ab = Tables.customer(spark, sf).filter(col("c_acctbal") > 0)
      .agg(graft.operators.Exact.davg(col("c_acctbal")).as("a")).head.getDouble(0)
    val nAbove = Tables.customer(spark, sf).filter(col("c_acctbal") > ab).count()
    assert(total < nAbove, s"recency filter excluded nobody: $total vs $nAbove")
  }

  test("window_range_rolling counts exactly the orders in the trailing window") {
    val df = Analytics.windowRangeRolling(spark, sf)
    // cross-check one heavy customer against a direct self-join recompute
    val ck = Tables.orders(spark, sf).groupBy("o_custkey").count()
      .orderBy(col("count").desc).head.getAs[Long]("o_custkey")
    val mine = df.filter(col("o_custkey") === ck)
      .select("o_orderkey", "roll_n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val o = Tables.orders(spark, sf).filter(col("o_custkey") === ck)
      .select(col("o_orderkey"),
        datediff(col("o_orderdate"), lit(Analytics.RollEpoch).cast("date"))
          .cast("long").as("day"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    o.foreach { case (k, t) =>
      val expect = o.count { case (_, t2) =>
        t2 <= t && (t - t2) <= Analytics.RollDays.toLong }
      assert(mine(k) == expect, s"order $k: ${mine(k)} vs $expect")
    }
  }

  test("stats_outliers flags only |z| above threshold and both tails exist") {
    val rows = Analytics.statsOutliers(spark, sf).collect()
    assert(rows.nonEmpty)
    val zs = rows.map(_.getAs[Double]("z_score"))
    zs.foreach(z => assert(math.abs(z) > Analytics.ZThreshold - 1e-6, z.toString))
    assert(zs.exists(_ > 0) && zs.exists(_ < 0), "expected both tails")
    // outliers are a small fraction under any plausible distribution
    assert(rows.length < Tables.orders(spark, sf).count() / 4)
  }

  test("cohort_retention cells are bounded by cohort size and cover all users") {
    val rows = Analytics.cohortRetention(spark, sf).collect()
      .map(r => (r.getAs[Long]("cohort_week"), r.getAs[Long]("week_offset")) ->
        r.getAs[Long]("n_users")).toMap
    assert(rows.nonEmpty)
    val cohortSizes = rows.collect { case ((cw, 0L), n) => cw -> n }
    // offset-0 cell IS the cohort (every user is active in their first week)
    assert(cohortSizes.map(_._2).sum ==
      Tables.events(spark, sf).select("user_id").distinct().count())
    rows.foreach { case ((cw, off), n) =>
      assert(off >= 0)
      assert(n <= cohortSizes.toMap.apply(cw), s"cell ($cw,$off) exceeds cohort")
    }
  }

  test("events_active_users: wau bounds dau and matches a direct recompute") {
    val rows = Analytics.activeUsers(spark, sf).collect()
      .map(r => r.getAs[Long]("day") -> (r.getAs[Long]("dau"), r.getAs[Long]("wau")))
      .toMap
    assert(rows.nonEmpty)
    rows.foreach { case (d, (dau, wau)) => assert(wau >= dau, s"day $d") }
    // direct recompute for a middle day
    val days = rows.keys.toSeq.sorted
    val mid = days(days.length / 2)
    val ev = Tables.events(spark, sf)
      .select(col("user_id"),
        datediff(col("ts"), lit(Analytics.CohortEpoch).cast("date"))
          .cast("long").as("day"))
    val expect = ev.filter(col("day").between(mid - 6, mid))
      .select("user_id").distinct().count()
    assert(rows(mid)._2 == expect, s"wau($mid): ${rows(mid)._2} vs $expect")
  }

  test("events_debounce keeps first events and enforces the minimum gap") {
    val kept = Analytics.eventsDebounce(spark, sf)
    val nAll = Tables.events(spark, sf).count()
    val nKept = kept.count()
    assert(nKept > 0 && nKept < nAll, s"$nKept of $nAll")
    // recompute for the busiest (user, type) key
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"))
    val top = ev.groupBy("user_id", "event_type").count()
      .orderBy(col("count").desc).head
    val (u, t) = (top.getAs[Long]("user_id"), top.getAs[String]("event_type"))
    val times = ev.filter(col("user_id") === u && col("event_type") === t)
      .orderBy("us", "event_id").collect().map(r => (r.getAs[Long]("us"), r.getAs[Long]("event_id")))
    val expectIds = times.zip((Long.MinValue, 0L) +: times.dropRight(1)).collect {
      case ((us, id), (prev, _)) if prev == Long.MinValue || us - prev > Analytics.DebounceUs => id
    }.toSet
    val gotIds = kept.filter(col("user_id") === u && col("event_type") === t)
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(gotIds == expectIds)
  }

  test("corpus_length_trim keeps the middle 90% of each source by rank") {
    val kept = Analytics.corpusLengthTrim(spark, sf)
    val bySource = Tables.documents(spark, sf).groupBy("source").count()
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    val keptBySource = kept.groupBy("source").count()
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    assert(keptBySource.keySet == bySource.keySet)
    keptBySource.foreach { case (src, k) =>
      val n = bySource(src)
      // ranks in (n*5/100, n*95/100] → exactly floor(95n/100) - floor(5n/100)
      assert(k == n * 95 / 100 - n * 5 / 100, s"$src: $k of $n")
    }
    // extremes are actually dropped: global min-length doc of each source gone
    val minDoc = Tables.documents(spark, sf)
      .orderBy(col("n_chars"), col("doc_id")).select("doc_id").head.getLong(0)
    assert(!kept.filter(col("doc_id") === minDoc).head(1).nonEmpty)
  }

  test("corpus_shuffle is a dense permutation decorrelated from doc_id order") {
    val rows = CorpusClean.corpusShuffle(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val n = rows.length
    assert(rows.map(_._2).sorted.toSeq == (1L to n).toSeq, "not a dense permutation")
    // decorrelation: the permutation must not be close to identity — count
    // adjacent doc_id pairs that stay adjacent in shuffle order
    val pos = rows.toMap
    val ids = rows.map(_._1).sorted
    val adjacentKept = ids.zip(ids.tail).count { case (a, b) => pos(b) - pos(a) == 1 }
    assert(adjacentKept < n / 10, s"$adjacentKept of $n adjacent pairs preserved")
  }

  test("corpus_mix_order interleaves sources proportionally to their weights") {
    val rows = CorpusClean.mixOrder(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val n = rows.length
    assert(rows.map(_._3).sorted.toSeq == (1L to n).toSeq, "not a dense order")
    def weight(src: String): Int = src.drop(3).toInt % 4 + 1
    // in the first half of the order, each source's share tracks its weight:
    // a weight-4 source must appear strictly more often than a weight-1 one
    val firstHalf = rows.filter(_._3 <= n / 2).groupBy(_._2).view.mapValues(_.length)
    val byWeight = firstHalf.toSeq.groupBy { case (src, _) => weight(src) }
      .view.mapValues(g => g.map(_._2).sum.toDouble / g.length)
    assert(byWeight(4) > byWeight(1) * 2,
      s"stride scheduling not proportional: $byWeight")
  }

  test("corpus_prepare composes the stages: stats bounded by each stage's output") {
    val rows = CorpusClean.corpusPrepare(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("ws_tokens"), r.getAs[Long]("sum_chars")))
    assert(rows.nonEmpty)
    val total = rows.map(_._2._1).sum
    // strictly fewer docs than the raw non-eval corpus (every stage cuts)
    val rawNonEval = Tables.documents(spark, sf)
      .filter(col("doc_id") >= CorpusClean.EvalDocs).count()
    assert(total > 0 && total < rawNonEval, s"$total of $rawNonEval")
    // and no more than the clean+dedup stage alone admits
    val cleanedN = CorpusClean.corpusClean(spark, sf)
      .filter(col("doc_id") >= CorpusClean.EvalDocs).count()
    assert(total <= cleanedN, s"$total > $cleanedN")
    rows.foreach { case (src, (n, tok, ch)) =>
      assert(n > 0 && tok >= n && ch >= n, s"$src: $n docs, $tok tokens, $ch chars")
    }
  }

  test("C36 funnel time: counts agree with C8; percentiles equal a local nearest-rank recount") {
    val got = Analytics.eventsFunnelTime(spark, sf).collect()
      .map(r => r.getAs[String]("stage") ->
        (r.getAs[Long]("n_users"), r.getAs[Long]("median_us"), r.getAs[Long]("p90_us"))).toMap
    assert(got.keySet == Set("signup_to_view", "view_to_purchase"))
    // user counts must equal C8's stage counts (one funnel definition)
    val funnel = Analytics.eventFunnel(spark, sf).collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_users")).toMap
    assert(got("signup_to_view")._1 == funnel("view"))
    assert(got("view_to_purchase")._1 == funnel("purchase"))
    got.values.foreach { case (n, med, p90) =>
      assert(n > 0 && med > 0 && p90 >= med, s"($n, $med, $p90)")
    }
    // local nearest-rank recount of one stage from the raw events
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val su = ev.filter(_._2 == "signup").groupBy(_._1).view.mapValues(_.map(_._3).min)
    val deltas = ev.filter(_._2 == "view").groupBy(_._1).flatMap { case (u, vs) =>
      su.get(u).flatMap { t0 =>
        val later = vs.map(_._3).filter(_ > t0)
        if (later.isEmpty) None else Some(later.min - t0)
      }
    }.toArray.sorted
    assert(deltas.length.toLong == got("signup_to_view")._1)
    assert(got("signup_to_view")._2 == deltas((deltas.length + 1) / 2 - 1))
    assert(got("signup_to_view")._3 == deltas((9 * deltas.length + 9) / 10 - 1))
  }

  test("corpus_prepare_v2: waterfill arithmetic holds and the plan stays scan-bounded") {
    val df = CorpusClean.corpusPrepareV2(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val rawNonEval = Tables.documents(spark, sf)
      .filter(col("doc_id") >= CorpusClean.EvalDocs).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum < rawNonEval)
    // exact integer water-filling invariants over the report frame
    val budget = rows.map(_.getAs[Long]("bpe_tokens")).sum * 3 / 2
    val alloc = rows.map(_.getAs[Long]("allocation"))
    val unsat = rows.filter(!_.getAs[Boolean]("saturated"))
    rows.foreach { r =>
      val (cap, a) = (r.getAs[Long]("capacity"), r.getAs[Long]("allocation"))
      assert(a <= cap, s"${r.getAs[String]("source")}: allocation $a > capacity $cap")
      if (r.getAs[Boolean]("saturated")) assert(a == cap)
      assert(r.getAs[Long]("epochs_bps") ==
        10000L * a / math.max(r.getAs[Long]("bpe_tokens"), 1L))
    }
    if (unsat.nonEmpty) {
      val levels = unsat.map(_.getAs[Long]("allocation")).distinct
      assert(levels.length == 1, s"unsaturated sources at different levels: $levels")
      // saturated capacities sit below the water line by the prefix argument
      rows.filter(_.getAs[Boolean]("saturated"))
        .foreach(r => assert(r.getAs[Long]("capacity") <= levels.head + rows.length))
      // allocations exhaust the budget up to the floor-division remainder
      assert(alloc.sum <= budget && budget - alloc.sum < unsat.length)
    }
    // scale pin: the composite reads documents at most 3 times (main fused
    // scan, eval-gram side, contamination probe) — the waterfill tail's
    // self-references dedupe via exchange reuse. Checked with AQE off (the
    // PlanAudit discipline): under AQE the pre-execution plan string hides
    // the reuse it applies at runtime.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = CorpusClean.corpusPrepareV2(spark, sf)
        .queryExecution.executedPlan.toString
      val docScans = plan.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("documents"))
      assert(docScans <= 3, s"$docScans documents scans:\n$plan")
      assert(plan.contains("ReusedExchange"), "waterfill tail lost exchange reuse")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("corpus_row_ids assigns dense 1..N ids in doc_id order without a global window") {
    val df = CorpusClean.rowIds(spark, sf)
    val rows = df.orderBy("doc_id").collect()
    assert(rows.nonEmpty)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("rid") == i + 1L, s"rid gap at $i: $r")
    }
    val ids = rows.map(_.getAs[Long]("doc_id"))
    assert(ids.zip(ids.tail).forall { case (a, b) => a < b })
    // the plan must not contain the single-partition window the op avoids
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("B61 log-bucket sketch: relative-error bound holds against exact quantiles") {
    // analytic guarantee: the reported bucket upper bound brackets the
    // exact order statistic from above within one bucket width, and bucket
    // width / lower bound <= 2^-F for idx >= 2^F
    val exact = Tables.orders(spark, sf)
      .select(col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).sorted).toMap
    val est = Analytics.quantileSketchLog(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(est.keySet == exact.keySet && est.nonEmpty)
    for ((prio, vs) <- exact; (p, colName) <- Seq(
        0.5 -> "p50_ub", 0.9 -> "p90_ub", 0.99 -> "p99_ub")) {
      val k = math.ceil(p * vs.length).toLong.toInt
      val xk = vs(k - 1)
      val ub = est(prio).getAs[Long](colName)
      assert(ub > xk, s"$prio $colName: ub $ub must exceed exact $xk")
      assert(ub <= xk * (1.0 + 1.0 / Analytics.DdSub) + 1,
        s"$prio $colName: ub $ub breaches relative bound vs exact $xk")
    }
  }

  test("B61 collapse: >DdMaxBuckets distinct buckets fold deterministically, mass conserved") {
    import SparkSpecBase.spark.implicits._
    // one value per (octave, sub-bucket) across octaves 5..38 — 544 distinct
    // buckets, far over the 128 cap; cents = (16+s) << (e-4) round-trips
    // exactly through the /100 price encoding (all < 2^53)
    val cents = for (e <- 5 to 38; sub <- 0 until Analytics.DdSub)
      yield (16L + sub) << (e - Analytics.DdFracBits)
    val planted = cents.map(c => ("X", c.toDouble / 100.0))
      .toDF("o_orderpriority", "o_totalprice")
    val grid = Analytics.ddBucketed(planted)
      .groupBy(col("o_orderpriority"), col("idx"))
      .agg(count(lit(1)).as("c"))
    assert(grid.count() == cents.length, "each planted value its own bucket")
    val rep = Analytics.ddSketchReport(grid).collect()
    assert(rep.length == 1)
    val r = rep.head
    // collapse keeps exactly DdMaxBuckets buckets and loses no mass
    assert(r.getAs[Long]("n_buckets") == Analytics.DdMaxBuckets, r.toString)
    assert(r.getAs[Long]("n") == cents.length, r.toString)
    // upper quantiles live far above the collapsed region and stay exact:
    // p90 order statistic among 544 geometric values
    val sorted = cents.sorted
    val x90 = sorted(math.ceil(0.9 * sorted.length).toInt - 1)
    val ub90 = r.getAs[Long]("p90_ub")
    assert(ub90 > x90 && ub90 <= x90 * (1.0 + 1.0 / Analytics.DdSub) + 1,
      s"p90_ub $ub90 vs exact $x90")
    // determinism: a rerun is bit-identical
    val again = Analytics.ddSketchReport(grid).collect().head
    assert(again == r)
  }
}
