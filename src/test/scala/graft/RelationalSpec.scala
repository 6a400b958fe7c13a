package graft

import graft.operators.Relational

class RelationalSpec extends SparkSpec {
  test("q1_pricing returns grouped rows with expected columns") {
    val df = Relational.q1Pricing(spark, sf)
    assert(df.columns.toSeq == Seq("l_returnflag", "l_linestatus", "sum_qty",
      "sum_base_price", "sum_disc_price", "avg_qty", "avg_disc", "count_order"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(7)).sum > 0)
  }

  test("q1_pricing plan pushes filter and prunes columns") {
    val plan = Relational.q1Pricing(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), plan)
  }

  test("events_gap_fill emits a dense hour spine and preserves event counts") {
    import org.apache.spark.sql.functions._
    val df = Relational.eventsGapFill(spark, sf).cache()
    try {
      // every type's timeline is contiguous: rows == (max-min)/1h + 1
      val spans = df.groupBy(col("event_type"))
        .agg(count(lit(1)).as("rows"),
          (expr("(unix_micros(max(hour_start)) - unix_micros(min(hour_start))) DIV 3600000000") + 1).as("hours"))
        .collect()
      assert(spans.nonEmpty)
      spans.foreach(r => assert(r.getLong(1) == r.getLong(2), r.toString))
      // zero-filled rows add no phantom events
      val total = df.agg(sum(col("n"))).head.getLong(0)
      assert(total == graft.operators.Tables.events(spark, sf).count())
      assert(df.filter(col("n") === 0).count() > 0 ||
        spans.map(_.getLong(1)).sum == total)
    } finally df.unpersist()
  }

  test("set ops: intersect and except legs are disjoint and cover 1995 buyers") {
    import org.apache.spark.sql.functions._
    val df = Relational.setIntersectExcept(spark, sf)
    val byTag = df.groupBy(col("tag")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val buyers95 = graft.operators.Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= expr("timestamp'1995-01-01 00:00:00'") &&
        col("o_orderdate") < expr("timestamp'1996-01-01 00:00:00'"))
      .select(col("o_custkey")).distinct().count()
    assert(byTag.values.sum > 0, "legs must be non-vacuous at spec SF")
    assert(byTag.getOrElse("both", 0L) + byTag.getOrElse("1995_only", 0L) == buyers95)
    // a customer can't be in both legs
    assert(df.groupBy(col("o_custkey")).count().filter(col("count") > 1).count() == 0)
  }

  test("range_join_follow plans as an equi-join, never a nested loop") {
    val plan = Relational.rangeJoinFollow(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("range_join_follow binned join equals the naive theta join") {
    import org.apache.spark.sql.functions._
    val ev = graft.operators.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("eu"), col("value"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("eu").as("pu"))
    val naive = p.join(ev,
        col("p_user") === col("user_id") &&
          col("eu") >= col("pu") && col("eu") < col("pu") + Relational.FollowWindowUs &&
          col("event_id") =!= col("p_id"), "left")
      .groupBy(col("p_id"))
      .agg(count(col("event_id")).as("n_follow"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val binned = Relational.rangeJoinFollow(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(binned == naive && naive.nonEmpty)
  }

  test("B66 fuzzy join: q-gram filter equals brute force; short names take the band path") {
    import SparkSpecBase.spark.implicits._
    import org.apache.spark.sql.functions._
    // brute force over the real catalog's distinct names
    val names = graft.operators.Tables.part(spark, sf).select("p_name").distinct()
      .collect().map(_.getString(0))
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val brute = (for {
      a <- names; b <- names if a < b
      d = lev(a, b) if d <= Relational.FuzzyK
    } yield (a, b, d)).toSet
    val got = Relational.joinFuzzyNames(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == brute && brute.nonEmpty,
      s"got ${got.size} pairs vs brute ${brute.size}")
    // planted fixture with SHORT names (filter-powerless) and near-typos:
    // the length-banded branch must catch "cat"~"cap" while the gram
    // branch catches the long pair
    val dir = tempDir("graft-fuzzy").toString
    Seq((1L, "cat"), (2L, "cap"), (3L, "dog"), (4L, "evergreen widget"),
      (5L, "evergreen widgets"), (6L, "completely different"),
      (7L, "abcd"), (8L, "abcdef"))
      .toDF("p_partkey", "p_name")
      .write.parquet(s"$dir/part.parquet")
    val planted = Relational.joinFuzzyNames(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    // lev(cat,dog)=3 — outside K; the true pairs split across branches:
    // cap~cat via the short cross join, the widget pair via the gram
    // index, and abcd~abcdef (SHORT × LONG, ed=2) via the gram index —
    // the pair the per-name routing bug used to drop
    assert(planted == Set(("cap", "cat", 1),
      ("evergreen widget", "evergreen widgets", 1),
      ("abcd", "abcdef", 2)),
      s"planted result: $planted")
  }

  test("B68 record linkage: blocked q-gram filter equals brute force; blocking separates") {
    import SparkSpecBase.spark.implicits._
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    // brute force within blocks over the real catalog
    val recs = graft.operators.Tables.part(spark, sf)
      .select("p_brand", "p_name").distinct()
      .collect().map(r => (r.getString(0), r.getString(1)))
    val brute = (for {
      (ma, a) <- recs; (mb, b) <- recs
      if ma == mb && a < b
      d = lev(a, b) if d <= Relational.FuzzyK
    } yield (ma, a, b, d)).toSet
    val got = Relational.joinRecordLinkage(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    assert(got == brute, s"got ${got.size} pairs vs brute ${brute.size}")
    // planted fixture: same-block typo pairs link (one short-x-long through
    // the gram path, one both-short through the in-block cross join); the
    // SAME near-identical names in DIFFERENT blocks must NOT link
    val dir = tempDir("graft-linkage").toString
    Seq((1L, "M1", "abcd"), (2L, "M1", "abcdef"), // short x long, ed=2, in-block
      (3L, "M1", "cat"), (4L, "M1", "cap"),       // both short, ed=1, in-block
      (5L, "M2", "abcd"),                          // M2 twin of 'abcd': cross-block only
      (6L, "M2", "evergreen widget"), (7L, "M3", "evergreen widgets"), // cross-block long pair
      (8L, "M1", "zzz unrelated name"))
      .toDF("p_partkey", "p_brand", "p_name")
      .write.parquet(s"$dir/part.parquet")
    val planted = Relational.joinRecordLinkage(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    assert(planted == Set(("M1", "abcd", "abcdef", 2), ("M1", "cap", "cat", 1)),
      s"planted result: $planted")
  }
}
