package graft

import org.apache.spark.sql.functions._
import graft.plans.{AsOf, ShingleArray, Winnow}

/** Degenerate-input behavior: empty relations, short strings, empty join
  * sides. These are the inputs a 100 TB run hits constantly at partition
  * boundaries.
  */
class EdgeCaseSpec extends SparkSpec {
  import SparkSpecBase.spark.implicits._

  test("aggregation over an empty relation yields zero rows (grouped) / one row (global)") {
    val empty = Seq.empty[(String, Double)].toDF("k", "v")
    assert(empty.groupBy($"k").agg(sum($"v")).count() == 0)
    val global = empty.agg(count(lit(1)).as("n"), sum($"v").as("s")).collect().head
    assert(global.getLong(0) == 0 && global.isNullAt(1))
  }

  test("a TIMESTAMP(NANOS) events.ts fails loudly and leaves the session conf alone") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tempDir("graft-ts-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val hconf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(
      HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), hconf)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000000000000L))
    finally w.close()
    val conf0 = spark.conf.getAll
    val e = intercept[Exception](graft.operators.Tables.events(spark, dir))
    assert(String.valueOf(e.getMessage).contains("TIMESTAMP(NANOS"), e.getMessage)
    assert(spark.conf.getAll == conf0)
  }

  test("polyHash/winnow iterate code points, not UTF-16 units (oracle parity for any Unicode)") {
    // DuckDB ord()/substring()/length() are code-point-based; Java
    // charAt/length count UTF-16 units. The two diverge exactly on
    // supplementary-plane characters (surrogate pairs) — pin that the Scala
    // side folds CODE POINTS so the HUGEINT SQL replay is exact for any text.
    val crab = "🦀" // U+1F980, one code point, two UTF-16 units
    def mixRef(cps: Seq[Int]): Long =
      graft.plans.MixHash.splitmix64(cps.foldLeft(0L)((h, c) => h * 257L + c))
    assert(graft.plans.MixHash.polyHash(s"a${crab}b") ==
      mixRef(Seq('a'.toInt, 0x1F980, 'b'.toInt)))
    // 3 code points (but 4 UTF-16 units): exactly one k=3 gram, hashed over
    // the code-point sequence
    val fps = Winnow.fingerprints(s"a${crab}b", 3, 4)
    assert(fps.toSeq == Seq(('a'.toInt * 257L + 0x1F980) * 257L + 'b'.toInt))
    // BMP text unchanged by the code-point switch: é == UTF-16 unit 0xE9
    assert(graft.plans.MixHash.polyHash("café") ==
      mixRef(Seq('c'.toInt, 'a'.toInt, 'f'.toInt, 0xE9)))
  }

  test("winnow/shingles on degenerate strings") {
    assert(Winnow.fingerprints("", 5, 4).isEmpty)
    assert(Winnow.fingerprints("abc", 5, 4).isEmpty)       // shorter than k
    assert(Winnow.fingerprints("abcde", 5, 4).length == 1) // exactly one k-gram
    def sh(s: String) = ShingleArray.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), 3)
    assert(sh("").numElements() == 0)
    assert(sh("a b").numElements() == 0)                   // fewer than n words
    assert(sh("a b c").numElements() == 1)
    // split(' ', -1) preserves empty tokens (like DuckDB str_split):
    // "a  b" is 3 tokens -> one 3-gram
    assert(sh("a  b").numElements() == 1)
    assert(sh("a  b c").numElements() == 2)
  }

  test("as-of join with an empty right side is all-null left outer") {
    val left = Seq((1L, 10L, "x")).toDF("k", "t", "tag")
    val right = Seq.empty[(Long, Long, String)].toDF("rk", "rt", "rtag")
    val got = AsOf.join(left, right, "k", "rk", "t", "rt").collect()
    assert(got.length == 1 && got.head.isNullAt(5))
  }

  test("as-of join with an empty left side yields nothing") {
    val left = Seq.empty[(Long, Long, String)].toDF("k", "t", "tag")
    val right = Seq((1L, 5L, "r")).toDF("rk", "rt", "rtag")
    assert(AsOf.join(left, right, "k", "rk", "t", "rt").count() == 0)
  }

  test("as-of join rejects mismatched key types up front") {
    val left = Seq((1L, 10L)).toDF("k", "t")
    val right = Seq((1, 5L)).toDF("rk", "rt")  // Int key vs Long key
    val e = intercept[IllegalArgumentException] {
      AsOf.join(left, right, "k", "rk", "t", "rt")
    }
    assert(e.getMessage.contains("key types differ"))
  }

  test("CountSubstring equals the replace-trick count on Unicode and overlaps") {
    val texts = Seq("the the the", " thethe ", "naïve café déjà vu café café",
      "ααβααα", "日本語 の の テスト", "", "aaaa", "aaa", "ab",
      "mixed αの café the aa end")
    val pats = Seq("the", " ", "α", "café", "の", "aa", "zz")
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "t")
    pats.foreach { p =>
      val got = df.select(col("id"),
          graft.plans.CountSubstring.count(col("t"), p).as("c"),
          ((length(col("t")) - length(call_function("replace", col("t"), lit(p), lit(""))))
            / p.length).as("ref"))
        .collect()
      got.foreach { r =>
        assert(r.getInt(1).toDouble == r.getDouble(2),
          s"pattern '$p' text '${texts(r.getInt(0))}': ${r.getInt(1)} vs ${r.getDouble(2)}")
      }
    }
  }

  test("DotProductInt8 matches exact BigInt arithmetic at the byte extremes") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(50) { i =>
      val n = 1 + rnd.nextInt(80)
      val a = Array.fill(n)((rnd.nextInt(256) - 128).toByte)
      val b = Array.fill(n)((rnd.nextInt(256) - 128).toByte)
      (i, a, b)
    } :+ ((50, Array(Byte.MinValue, Byte.MaxValue), Array(Byte.MinValue, Byte.MaxValue)))
    val df = rows.toDF("id", "a", "b")
      .withColumn("dot", graft.plans.DotProductInt8.dot(col("a"), col("b")))
    val got = df.select("id", "dot").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.foreach { case (i, a, b) =>
      val want = a.zip(b).map { case (x, y) => BigInt(x.toInt) * BigInt(y.toInt) }.sum
      assert(BigInt(got(i)) == want, s"row $i")
    }
  }

  test("DotProductInt8 truncates to the shorter array and is null-intolerant") {
    val df = Seq(
      (1, Array[Byte](1, 2, 3), Array[Byte](4, 5)),       // min-length prefix
      (2, Array.empty[Byte], Array[Byte](7))               // empty side
    ).toDF("id", "a", "b")
      .withColumn("dot", graft.plans.DotProductInt8.dot(col("a"), col("b")))
    val got = df.select("id", "dot").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got(1) == 1 * 4 + 2 * 5)
    assert(got(2) == 0L)
    val withNull = Seq((3, null.asInstanceOf[Array[Byte]], Array[Byte](1)))
      .toDF("id", "a", "b")
      .withColumn("dot", graft.plans.DotProductInt8.dot(col("a"), col("b")))
    assert(withNull.select("dot").collect().head.isNullAt(0))
  }

  test("DotProductInt8 accepts binary and array<tinyint> layouts, mixed") {
    // Array[Byte] encodes as BinaryType (packed), Seq[Byte] as
    // array<tinyint> (columnar) — the kernel scores across layouts
    val df = Seq((1, Array[Byte](2, 3), Seq[Byte](5, 7)))
      .toDF("id", "bin", "arr")
      .withColumn("bb", graft.plans.DotProductInt8.dot(col("bin"), col("bin")))
      .withColumn("ba", graft.plans.DotProductInt8.dot(col("bin"), col("arr")))
      .withColumn("ab", graft.plans.DotProductInt8.dot(col("arr"), col("bin")))
      .withColumn("aa", graft.plans.DotProductInt8.dot(col("arr"), col("arr")))
    val r = df.select("bb", "ba", "ab", "aa").collect().head
    assert(r.getLong(0) == 13 && r.getLong(1) == 31 && r.getLong(2) == 31 && r.getLong(3) == 74)
    // wrong element type fails at ANALYSIS, not with a runtime cast error
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((1, Seq(1, 2))).toDF("id", "ints")
        .withColumn("dot", graft.plans.DotProductInt8.dot(col("ints"), col("ints")))
        .collect()
    }
    assert(bad.getMessage.toLowerCase.contains("type"))
  }

  test("pipe groupByKey and combinePerKey on empty input") {
    import graft.pipeline._
    import graft.pipeline.Pipe._
    val p = Pipe.create(spark, Seq.empty[(String, Int)])
    assert(p.groupByKey.collect().isEmpty)
    val sumFn = new CombineFn[Int, Int, Int] {
      def createAccumulator() = 0
      def addInput(a: Int, i: Int) = a + i
      def mergeAccumulators(a: Int, b: Int) = a + b
      def extractOutput(a: Int) = a
    }
    assert(p.combinePerKey(sumFn).collect().isEmpty)
  }

  test("array_pairs degenerate arrays and quadratic bound") {
    import graft.plans.ArrayPairs
    val df = Seq(
      (1L, Seq.empty[Long]), (2L, Seq(9L)), (3L, Seq(1L, 2L, 3L, 4L))
    ).toDF("id", "ps")
    val n = df.select($"id", size(ArrayPairs.pairs($"ps")).as("np")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(n == Map(1L -> 0, 2L -> 0, 3L -> 6))
  }

  test("span dedup and ngrams on sub-span-length documents") {
    import graft.operators.CorpusSpans
    // a doc shorter than one span still contributes its (short) single span
    val tiny = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    tiny.createOrReplaceTempView("edge_tiny")
    val spans = tiny
      .withColumn("ws", split($"text", " "))
      .select(explode(expr(
        s"transform(sequence(0, (size(ws) - 1) DIV ${CorpusSpans.SpanWords}, 1), " +
          s"k -> concat_ws(' ', slice(ws, k * ${CorpusSpans.SpanWords} + 1, ${CorpusSpans.SpanWords})))"))
        .as("span"))
    assert(spans.count() == 2 && spans.distinct().count() == 1)
  }

  test("pagerank on an empty edge set yields an empty ranking, not a crash") {
    // planted: a lineitem slice with single-part orders only → no pairs
    val li = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("l_orderkey", "l_partkey")
    val baskets = li.groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_partkey")).as("ps"))
      .select(explode(graft.plans.ArrayPairs.pairs($"ps")).as("pr"))
    assert(baskets.count() == 0)
  }

  test("state intervals of a single-event user form one interval") {
    import graft.operators.Signals
    val rows = Signals.eventsStateIntervals(spark, sf).collect()
    // every interval's n_events >= 1 and islands start at 1 per user
    rows.groupBy(_.getAs[Long]("user_id")).values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("island")).min == 1L)
    }
  }

  test("PII masking is idempotent: placeholders never re-match any pattern") {
    // a second scrub pass over already-masked text must be a no-op — a
    // placeholder that re-matched (e.g. one containing digits) would turn
    // repeated pipeline runs into progressive text corruption
    import graft.operators.TextAnalysis
    val once = TextAnalysis.textMaskPii(spark, sf)
      .select(col("doc_id"), col("masked"))
    val twice = once.select(col("doc_id"),
      TextAnalysis.maskPiiCol(col("masked")).as("masked"))
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("PII masking catches digit-adjacent spans in ONE pass (no boundary leak)") {
    // a UUID jammed against a phone has no word boundary before it; with a
    // leading \b the UUID would survive pass 1 (leak) and only fall to a
    // second pass after the phone replacement manufactured the boundary.
    // The patterns must catch every span in a single scrub.
    import SparkSpecBase.spark.implicits._
    import graft.operators.TextAnalysis
    val adversarial =
      "call +1-415-555-0123550e8400-e29b-41d4-a716-446655440000 from 10.1.2.34.5.6.7.8"
    val masked = Seq(adversarial).toDF("t")
      .select(TextAnalysis.maskPiiCol(col("t")).as("m")).head.getString(0)
    assert(!masked.contains("550e8400"), s"UUID leaked through one pass: $masked")
    assert(!masked.contains("415"), s"phone leaked: $masked")
    // and the adversarial output is itself stable under a second pass
    val again = Seq(masked).toDF("t")
      .select(TextAnalysis.maskPiiCol(col("t")).as("m")).head.getString(0)
    assert(again == masked, s"second pass changed: $masked -> $again")
  }

  test("basket pairs on single-item and empty basket sets") {
    import SparkSpecBase.spark.implicits._
    val dir = tempDir("graft-basket-edge").toString
    // every order has exactly one (possibly repeated) part: zero pairs
    Seq((1L, 5L), (1L, 5L), (2L, 7L), (3L, 9L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    assert(graft.operators.TpchMore.coPurchasePairs(spark, dir, 1).count() == 0)
    val audit = graft.operators.TpchMore.basketCapAudit(spark, dir).head
    assert(audit.getLong(0) == 0L && audit.getInt(2) == 1)
  }

  test("phash dedup on a corpus with no payload long enough is empty, not a crash") {
    import SparkSpecBase.spark.implicits._
    val dir = tempDir("graft-phash-short").toString
    Seq((1L, "tiny"), (2L, "also tiny")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    assert(graft.multimodal.Multimodal.phashDedup(spark, dir).count() == 0)
  }
  test("round-11 ops survive a degenerate corpus (empty/one-word/whitespace docs)") {
    // the partition-boundary shapes a 100 TB run hits constantly: empty
    // text, single words, whitespace runs — every new per-doc operator
    // must stay defined (guarded floor divisions, no crashes)
    val tmp = tempDir("edge-r11").toString
    Seq(
      (0L, "", "en", "s0", 0L),
      (1L, "just four small words", "en", "s0", 21L),
      (2L, "   ", "en", "s1", 3L),
      (3L, "the a of and to", "en", "s1", 15L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    val read = graft.operators.TextAnalysis.textReadability(spark, tmp).collect()
    assert(read.length == 4)
    read.foreach { r =>
      assert(r.getAs[Long]("n_sentences") >= 1) // zero-guard held
      assert(!r.isNullAt(r.fieldIndex("fre_milli")))
    }

    val norm = graft.operators.TextAnalysis.textNormalizeUnicode(spark, tmp).collect()
    assert(norm.length == 4 && norm.forall(!_.isNullAt(2)))

    val ens = graft.operators.CorpusSpans.qualityScored(
      graft.operators.Tables.documents(spark, tmp)).collect()
    assert(ens.length == 4, "score must be defined for every degenerate doc")

    val fert = graft.operators.CorpusSpans.fertilityReport(spark, tmp).collect()
    assert(fert.nonEmpty && fert.forall(_.getAs[Long]("fertility_milli") >= 0))

    // theta sketch: empty/whitespace docs contribute no shingles; a source
    // whose every doc is shingle-free would simply have no sketch row. Here
    // both sources retain one shingleable doc, so exactly one pair emits,
    // exact below the cap, with zero overlap between the planted texts
    val theta = graft.operators.SetSketch.sketchThetaOverlap(spark, tmp).collect()
    assert(theta.length == 1)
    assert(theta.head.getAs[Long]("n_common") == 0L)
    // 2 + 3 word-shingles plus ONE degenerate shingle from the whitespace
    // doc (space-split of "   " yields empty tokens; both engines shingle
    // them identically — the oracle parity holds even here)
    assert(theta.head.getAs[Long]("est_union") == 6L)
  }

}
