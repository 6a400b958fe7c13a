package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks of the native expressions' host-side algorithms —
  * the invariants hold for arbitrary generated inputs, not just the corpus.
  * (Plain ScalaCheck generators driven with fixed seeds: deterministic, no
  * scalatestplus bridge needed.)
  */
class PropertySpec extends SparkSpec {

  private def forAllSeeded[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit =
    (1 to n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val text = Gen.listOf(word).map(_.mkString(" "))

  test("winnow guarantee: substrings of length >= w+k-1 share a fingerprint") {
    val k = 5; val w = 4
    forAllSeeded(Gen.zip(text, text, text)) { case (pre, common0, post) =>
      val common = common0.padTo(w + k - 1, 'x')
      val a = s"$pre $common"
      val b = s"$common $post"
      val fa = graft.plans.Winnow.fingerprints(a, k, w).toSet
      val fb = graft.plans.Winnow.fingerprints(b, k, w).toSet
      assert(fa.intersect(fb).nonEmpty, s"a='$a' b='$b'")
    }
  }

  test("winnow fingerprints are deduped and nonempty when text >= k") {
    forAllSeeded(text) { t =>
      if (t.length >= 5) {
        val fps = graft.plans.Winnow.fingerprints(t, 5, 4)
        assert(fps.toSet.size == fps.length)
        assert(fps.nonEmpty)
      }
    }
  }

  test("shingles: order, count and distinctness match the reference definition") {
    forAllSeeded(text) { t =>
      val got = graft.plans.ShingleArray.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), 3)
      val words = t.split(" ", -1)
      val want =
        if (words.length < 3) Seq.empty
        else words.sliding(3).map(_.mkString(" ")).toSeq.distinct
      val gotSeq = (0 until got.numElements()).map(i => got.getUTF8String(i).toString)
      assert(gotSeq == want, s"t='$t'")
    }
  }

  test("dot product matches the naive sum for arbitrary vectors") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val vec = Gen.listOfN(16, Gen.choose(-1e3, 1e3))
    forAllSeeded(Gen.zip(vec, vec)) { case (a, b) =>
      val got = graft.plans.DotProduct.dot(
        new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
      val want = a.zip(b).map { case (x, y) => x * y }.sum
      assert(math.abs(got - want) <= 1e-9 * (1 + math.abs(want)))
    }
  }

  test("salted aggregation is identical to plain aggregation (skewed keys)") {
    import org.apache.spark.sql.functions._
    import SparkSpecBase.spark.implicits._
    // heavy skew: 90% of rows share one key
    val rows = (1 to 5000).map { i =>
      val k = if (i % 10 == 0) s"k${i % 7}" else "hot"
      (i.toLong, k, (i % 997).toDouble / 7)
    }
    val df = rows.toDF("id", "k", "v")
    val plain = df.groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v".cast("decimal(18,4)")).cast("double").as("sum_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = graft.operators.Skew.saltedCountSum(df, "k", $"v", "id", 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == plain)
  }

  test("array_pairs emits exactly n*(n-1)/2 oriented pairs for any sorted-distinct array") {
    val arr = Gen.listOf(Gen.chooseNum(0L, 1000L)).map(_.distinct.sorted)
    forAllSeeded(arr) { xs =>
      val ad = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        xs.map(x => x: Any).toArray)
      val out = graft.plans.ArrayPairs.compute(ad)
      assert(out.numElements() == xs.length * (xs.length - 1) / 2)
      (0 until out.numElements()).foreach { i =>
        val r = out.getStruct(i, 2)
        assert(r.getLong(0) < r.getLong(1))
      }
      // every pair present exactly once
      val pairs = (0 until out.numElements())
        .map { i => val r = out.getStruct(i, 2); (r.getLong(0), r.getLong(1)) }
      assert(pairs.toSet.size == pairs.length)
      for (a <- xs; b <- xs if a < b) assert(pairs.contains((a, b)))
    }
  }

  test("scaled-long rounding == BigDecimal HALF_UP at scale 0 of x*1e4") {
    // the documented contract: scale(x, 1e4) rounds the DOUBLE product
    // x*1e4 half-up away from zero, exactly as BigDecimal does at scale 0
    val d = Gen.chooseNum(-1.0e9, 1.0e9)
    forAllSeeded(d, n = 500) { x =>
      val got = graft.plans.ScaledLong.scale(x, 10000.0)
      val want = BigDecimal(x * 10000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
      assert(got == want, s"x=$x got=$got want=$want")
    }
    // the Math.round trap input: floor(x+0.5) would misround this tie-adjacent value
    assert(graft.plans.ScaledLong.scale(0.49999999999999994 / 10000.0 * 10000.0, 1.0) == 0L)
  }

  test("StrideSample equals the composable substring form for any Unicode text") {
    // the one-pass sampler must be element-for-element identical to
    // ascii(substring(text, (i*n) DIV k + 1, 1)) — i.e. to the code point
    // at the strided CODE-POINT position — including surrogate-pair text
    // (DuckDB's ord/substring are code-point-based, so this equality is
    // what keeps the mm_phash_dedup oracle exact off-ASCII)
    val anyChar = Gen.frequency(
      8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('é', 'ü', '中', '文', ' ', '!'),
      1 -> Gen.const('\uD83D') // paired below into a valid emoji
    )
    val uniText = Gen.nonEmptyListOf(anyChar).map(
      _.mkString.replace("\uD83D", "😀")) // 😀, supplementary plane
    forAllSeeded(Gen.zip(uniText, Gen.chooseNum(1, 16)), n = 300) { case (t, k) =>
      val got = graft.plans.StrideSample
        .compute(org.apache.spark.unsafe.types.UTF8String.fromString(t), k)
        .toIntArray()
      val cps = {
        val out = scala.collection.mutable.ArrayBuffer.empty[Int]
        var i = 0
        while (i < t.length) { val c = t.codePointAt(i); out += c; i += Character.charCount(c) }
        out.toArray
      }
      val want = (0 until k).map(i => cps(((i.toLong * cps.length) / k).toInt))
      assert(got.toSeq == want, s"t=${t.take(40)} k=$k")
    }
    // empty string: substring('',p,1)='' and ascii('')=0
    val empty = graft.plans.StrideSample
      .compute(org.apache.spark.unsafe.types.UTF8String.fromString(""), 4).toIntArray()
    assert(empty.toSeq == Seq(0, 0, 0, 0))
  }

  test("star-contraction CC equals driver union-find on random graphs") {
    // the alternating large-star/small-star rewrite must label ANY graph
    // shape exactly like the reference union-find — not just the planted
    // path/cluster fixtures. Random sparse graphs over ≤40 nodes hit
    // chains, cycles, stars, forests, and isolated-edge mixes.
    import SparkSpecBase.spark.implicits._
    import graft.dedup.Dedup
    val edgesGen = for {
      n <- Gen.chooseNum(2, 40)
      m <- Gen.chooseNum(1, 50)
      es <- Gen.listOfN(m, Gen.zip(Gen.chooseNum(0L, n - 1L), Gen.chooseNum(0L, n - 1L)))
    } yield es.filter { case (a, b) => a != b }
    forAllSeeded(edgesGen.suchThat(_.nonEmpty), n = 12) { es =>
      val want = Dedup.unionFindMinLabels(es.toArray)
      val loc = tempDir("graft-cc-prop").toString + "/labels"
      // both directions, like clusterPairs feeds it
      Dedup.propagateMinLabels(spark,
        es.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst"), loc)
      val got = spark.read.parquet(loc).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == want, s"edges=$es")
    }
  }
}
